package graft.queries

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The fixture loader's schema memo: a warm load starts no Spark job, and
  * a memoized schema is never served for changed files or confs.
  */
class TablesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusAccess.drain(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get()
  }

  /** `df` as one parquet file at `dest` (a fixture in the single-file shape). */
  private def writeFile(df: DataFrame, dest: String): Unit = {
    val tmp = TestSpark.tmpDir("tables-stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, Paths.get(dest), StandardCopyOption.REPLACE_EXISTING)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** A small fixture in the driver's shape: one parquet file per table,
    * events with a µs timestamp `ts`, one column carrying field metadata.
    */
  private lazy val sf: String = {
    import spark.implicits._
    val dir = TestSpark.tmpDir("tables-sf")
    val meta = new MetadataBuilder().putString("comment", "line number").build()
    writeFile(Seq((1L, 1, 2.5), (1L, 2, 3.5), (2L, 1, 4.5)).toDF("l_orderkey", "l_linenumber", "l_quantity")
      .withColumn("l_linenumber", col("l_linenumber").as("l_linenumber", meta)), s"$dir/lineitem.parquet")
    writeFile(Seq((1L, 10.0), (2L, 20.0)).toDF("o_orderkey", "o_totalprice"), s"$dir/orders.parquet")
    writeFile(Seq((0L, "N0", 0L), (1L, "N1", 0L), (2L, "N2", 1L)).toDF("n_nationkey", "n_name", "n_regionkey"),
      s"$dir/nation.parquet")
    writeFile(Seq((1L, 1500000000123456L)).toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts")), s"$dir/events.parquet")
    dir
  }

  test("a warm load starts no Spark job (lineitem, orders, events)") {
    Seq[(SparkSession, String) => DataFrame](Tables.lineitem, Tables.orders, Tables.events)
      .foreach { load =>
        load(spark, sf) // cold: infers once
        val jobs = jobsDuring(load(spark, sf).schema)
        assert(jobs == 0, s"a warm load started $jobs job(s)")
      }
  }

  test("a memoized schema equals the inferred one, field metadata and nullability included") {
    Seq("lineitem", "orders", "nation", "events").foreach { t =>
      val path = s"$sf/$t.parquet"
      Tables.schemaOf(spark, path)
      val warm = Tables.schemaOf(spark, path)
      val inferred = spark.read.parquet(path).schema
      assert(warm == inferred && warm.map(_.metadata) == inferred.map(_.metadata), t)
    }
    assert(Tables.lineitem(spark, sf).schema("l_linenumber").metadata.getString("comment") == "line number")
  }

  test("rewriting a single-file fixture with a new schema reads the new schema and rows") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("tables-file")
    writeFile(Seq((1L, "a")).toDF("r_regionkey", "r_name"), s"$dir/region.parquet")
    assert(Tables.region(spark, dir).columns.toSeq == Seq("r_regionkey", "r_name"))
    writeFile(Seq((7, "b", 2.5), (8, "c", 3.5)).toDF("r_regionkey", "r_name", "r_x"),
      s"$dir/region.parquet")
    val df = Tables.region(spark, dir)
    assert(df.schema("r_regionkey").dataType == IntegerType)
    assert(df.columns.toSeq == Seq("r_regionkey", "r_name", "r_x"))
    assert(rows(df) == Seq("[7,b,2.5]", "[8,c,3.5]"))
  }

  test("adding a part file to a Spark-written fixture directory re-infers") {
    import spark.implicits._
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.mergeSchema", "true")
    val dir = TestSpark.tmpDir("tables-dir")
    val path = s"$dir/orders.parquet"
    Seq((1L, 10.0), (2L, 20.0)).toDF("o_orderkey", "o_totalprice").repartition(2)
      .write.parquet(path)
    assert(Tables.orders(s, dir).columns.toSeq == Seq("o_orderkey", "o_totalprice"))
    Seq((3L, 30.0, "x")).toDF("o_orderkey", "o_totalprice", "o_comment").coalesce(1)
      .write.mode("append").parquet(path)
    val df = Tables.orders(s, dir)
    assert(df.columns.toSeq == Seq("o_orderkey", "o_totalprice", "o_comment"))
    assert(rows(df) == Seq("[1,10.0,null]", "[2,20.0,null]", "[3,30.0,x]"))
  }

  /** A parquet file written without Spark's schema in its footer, so only
    * the session's conf decides how its columns map to Spark types.
    */
  private def writeRaw(dest: String, message: String)(records: Seq[Seq[(String, Long)]]): Unit = {
    val schema = MessageTypeParser.parseMessageType(message)
    val w = ExampleParquetWriter.builder(new Path(dest))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val g = new SimpleGroupFactory(schema)
    try records.foreach { r =>
      val row = g.newGroup()
      r.foreach { case (k, v) => row.append(k, v) }
      w.write(row)
    } finally w.close()
  }

  test("events keeps an epoch-ns LongType ts whatever the nanosAsLong setting") {
    val nanos = TestSpark.tmpDir("tables-nanos")
    writeRaw(s"$nanos/events.parquet",
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")(
      Seq(1L -> 1500000000123456789L, 2L -> 1500000000123456000L)
        .map { case (id, ts) => Seq("event_id" -> id, "ts" -> ts) })
    Seq("false", "true", "false").foreach { v =>
      val s = spark.newSession()
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", v)
      // nanosAsLong is part of the memo key, and a session that cannot
      // read NANOS must not poison the memo
      if (v == "false") intercept[Exception](Tables.schemaOf(s, s"$nanos/events.parquet"))
      Seq(nanos -> Seq(1500000000123456000L, 1500000000123456789L),
          sf -> Seq(1500000000123456000L)).foreach { case (dir, expected) => // µs: ns = µs * 1000
        val df = Tables.events(s, dir)
        assert(df.schema("ts").dataType == LongType, s"$dir at nanosAsLong=$v")
        assert(df.select(col("ts")).collect().map(_.getLong(0)).sorted.toSeq == expected)
      }
    }
  }

  test("a hive-partitioned fixture reads exactly like a plain parquet read") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("tables-hive")
    // the data files also hold the partition column, ahead of another one
    Seq(1, 2).foreach { k =>
      Seq((k, k.toLong, "v" + k)).toDF("k", "id", "v")
        .write.parquet(s"$dir/supplier.parquet/k=$k")
    }
    val plain = spark.read.parquet(s"$dir/supplier.parquet")
    Seq(1, 2).foreach { _ =>
      val df = Tables.supplier(spark, dir)
      assert(df.schema == plain.schema)
      assert(rows(df) == rows(plain))
    }
  }

  test("two loads of nation joined to each other still resolve (q07)") {
    val n1 = Tables.nation(spark, sf)
    val n2 = Tables.nation(spark, sf)
    assert(n1.queryExecution.analyzed.output.map(_.exprId)
      .intersect(n2.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
    val pairs = n1.join(n2, n1("n_regionkey") === n2("n_regionkey")).count()
    val perRegion = n1.groupBy("n_regionkey").count().collect().map(_.getLong(1))
    assert(pairs == perRegion.map(k => k * k).sum)
  }
}
