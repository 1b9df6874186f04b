package graft.sql

import org.apache.spark.metrics.source.CodegenMetrics
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

  // TestSpark analyzes once at start-up, so the cache is sized before any
  // spec encodes a local Seq. No spec covers an application whose first
  // action is `Seq(...).toDF`: that encode generates code before the
  // analyzer exists and creates the JVM-wide cache at Spark's 100 entries.
  test("a second cycle over more classes than Spark's default cache compiles none") {
    val spark = TestSpark.spark
    // 60 distinct queries of 2 generated classes each: 120 classes, more
    // than Spark's default of 100 entries, so an LRU of that size evicts
    // every class before the next cycle reuses it
    def cycle(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (1 to 60).foreach(i => spark.range(10).selectExpr(s"id * $i + ${i}L AS x").collect())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = cycle()
    assert(first > 100L, s"the first cycle compiled only $first classes")
    assert(cycle() == 0L)
  }
}
