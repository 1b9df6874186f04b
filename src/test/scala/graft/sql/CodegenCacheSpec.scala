package graft.sql

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class CodegenCacheSpec extends AnyFunSuite {

  private val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key

  test("an unset codegen cache size becomes 512; a user's value is left alone") {
    val unset = new SQLConf
    GraftSqlExtensions.sizeCodegenCache(unset)
    assert(unset.codegenCacheMaxEntries == 512)
    Seq("0", "64").foreach { v =>
      val user = new SQLConf
      user.setConfString(key, v)
      GraftSqlExtensions.sizeCodegenCache(user)
      assert(user.getConfString(key) == v)
      assert(user.codegenCacheMaxEntries == v.toInt)
    }
  }

  test("a second cycle over more classes than Spark's default cache compiles none") {
    val spark = TestSpark.spark
    val first = CodegenCacheSpec.cycle(spark)
    assert(first > 100L, s"the first cycle compiled only $first classes")
    assert(CodegenCacheSpec.cycle(spark) == 0L)
  }

  // the cache is JVM-wide and this suite's JVM has generated code
  // already, so a fresh JVM runs the application whose first action
  // encodes a local collection
  test("a session whose first action encodes a local Seq creates the cache at 512") {
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
    val opens = (0 until jvm.size).map(jvm.get).filter(_.startsWith("--add-opens"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g",
      "-cp", System.getProperty("java.class.path")) ++ opens ++
      Seq("graft.sql.CodegenCacheSpec")
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toList
    assert(p.waitFor() == 0, out.takeRight(20).mkString("\n"))
    val Seq(first, second) = out.filter(_.startsWith("cycle ")).map(_.stripPrefix("cycle ").toLong)
    assert(first > 100L, s"the first cycle compiled only $first classes")
    assert(second == 0L)
  }
}

object CodegenCacheSpec {

  /** 60 queries of distinct shapes (query i projects i columns), 2
    * cache entries each in local mode (the planner's compile check and
    * the task's compile load one class under two class loaders): 120
    * entries, more than Spark's default of 100, so an LRU of that size
    * evicts every class before the next cycle reuses it. Returns the
    * classes compiled.
    */
  def cycle(spark: SparkSession): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    (1 to 60).foreach(i =>
      spark.range(10).selectExpr((1 to i).map(j => s"id + $j AS c$j"): _*).collect())
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** An application whose first action encodes a local collection, then
    * two cycles; prints each cycle's compile count. */
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .withExtensions(GraftSqlExtensions.install)
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    Seq(1, 2, 3).toDF("a").collect()
    println(s"cycle ${cycle(spark)}")
    println(s"cycle ${cycle(spark)}")
    spark.stop()
  }
}
