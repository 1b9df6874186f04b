package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.tables.TxTable

class StreamOpsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  // base offset keeps the first event strictly above the initial watermark
  // (epoch 0), which stateful ops treat as late and drop
  private def ts(minute: Int): Timestamp = new Timestamp(86400000L + minute * 60L * 1000L)

  test("windowed counts with watermark over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Double, Timestamp)]
    val events = input.toDF().toDF("user_id", "event_type", "value", "event_time")
    val agg = StreamOps.windowedCounts(events, windowLen = "10 minutes", lateness = "5 minutes")
    val q = agg.writeStream.format("memory").queryName("wc").outputMode("complete").start()
    try {
      input.addData((1L, "click", 1.0, ts(1)), (1L, "click", 2.0, ts(4)), (2L, "view", 5.0, ts(12)))
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_type, n_events, total_value FROM wc ORDER BY event_type").collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
        Seq(("click", 2L, 3.0), ("view", 1L, 5.0)))
    } finally q.stop()
  }

  test("sessionize closes sessions on inactivity gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Double, Timestamp)]
    val events = input.toDF().toDF("user_id", "event_type", "value", "event_time")
    val sessions = StreamOps.sessionize(spark, events, gapMinutes = 10)
    val q = sessions.writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      // user 1: two events close together, then a long gap, then another event
      input.addData((1L, "a", 1.0, ts(0)), (1L, "b", 2.0, ts(5)))
      q.processAllAvailable()
      input.addData((1L, "c", 3.0, ts(60))) // 55-min gap -> closes session 1
      q.processAllAvailable()
      input.addData((1L, "d", 4.0, ts(120))) // advance watermark far enough to time out session 2
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, n_events, total_value FROM sess ORDER BY session_start").collect()
      assert(rows.nonEmpty)
      assert(rows(0).getLong(0) == 1L)
      assert(rows(0).getLong(1) == 2L) // first session had 2 events
      assert(rows(0).getDouble(2) == 3.0)
    } finally q.stop()
  }

  test("streaming dedup drops repeated keys within the watermark horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val events = input.toDF().toDF("doc_id", "content_hash", "event_time")
    val deduped = StreamOps.deduplicateStream(events, Seq("content_hash"), horizon = "30 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      input.addData((1L, "h1", ts(1)), (2L, "h2", ts(2)), (3L, "h1", ts(3))) // h1 duplicated
      q.processAllAvailable()
      input.addData((4L, "h1", ts(5)), (5L, "h3", ts(6))) // h1 again within horizon
      q.processAllAvailable()
      val hashes = spark.sql("SELECT content_hash FROM dedup").collect().map(_.getString(0))
      assert(hashes.sorted.toSeq == Seq("h1", "h2", "h3"), hashes.mkString(","))
    } finally q.stop()
  }

  test("file stream -> transactional table sink via foreachBatch") {
    import spark.implicits._
    val srcDir = TestSpark.tmpDir("stream-src")
    val tblDir = TestSpark.tmpDir("stream-tbl") + "/t"
    val ckpt = TestSpark.tmpDir("stream-ckpt")

    // two parquet drops in the events shape (ns timestamps)
    val batch1 = Seq((1L, 1000000000L * 60, 10L, "click", 1.0, "{}"),
      (2L, 1000000000L * 120, 10L, "view", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    batch1.write.parquet(srcDir + "/b1")

    val stream = StreamOps.eventFileStream(spark, srcDir + "/*")
      .select("event_id", "user_id", "event_type", "value", "event_time")
    val q = StreamOps.writeToTxTable(stream, tblDir, ckpt, Trigger.AvailableNow())
    q.awaitTermination(60000)

    val t = TxTable.forLocation(spark, tblDir)
    assert(t.toDF.count() == 2)
    assert(t.toDF.select("event_type").orderBy("event_id").collect().map(_.getString(0)).toSeq ==
      Seq("click", "view"))
  }

  test("eventFileStream sniffs ts from the current drops: none yet, ns longs, then µs timestamps") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val srcDir = TestSpark.tmpDir("stream-sniff")
    def tsType = StreamOps.eventFileStream(spark, srcDir + "/*").schema("ts").dataType
    assert(tsType == LongType) // no drop yet: the ns-long default, not remembered
    val drop = Seq((1L, 1000000000L * 60, 10L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    drop.write.parquet(srcDir + "/b1")
    assert(tsType == LongType)
    // the drop is rewritten with µs timestamps: sniffed again, not served stale
    drop.withColumn("ts", timestamp_micros((col("ts") / 1000).cast("long")))
      .write.mode("overwrite").parquet(srcDir + "/b1")
    assert(tsType == TimestampType)
  }

  test("TxTableSource: readStream over the transaction log delivers commits as micro-batches") {
    import spark.implicits._
    val loc = TestSpark.tmpDir("txsrc") + "/t"
    val ckpt = TestSpark.tmpDir("txsrc-ckpt")
    val t = new TxTable(spark, loc)
    t.create(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))   // v0
    t.append(Seq((3L, "c")).toDF("id", "s"))              // v1

    val received = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def runAvailable(): Unit = {
      val stream = spark.readStream
        .format("graft.streaming.TxTableSourceProvider")
        .load(loc)
      val q = stream.writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("id", "_commit_version").collect()
            .foreach(r => received.add((r.getLong(0), r.getLong(1))))
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }

    runAvailable()
    import scala.jdk.CollectionConverters._
    assert(received.asScala.toSeq.sorted == Seq((1L, 0L), (2L, 0L), (3L, 1L)))

    // new commit, resume from the streaming checkpoint: only v2 arrives
    t.append(Seq((4L, "d")).toDF("id", "s"))              // v2
    received.clear()
    runAvailable()
    assert(received.asScala.toSeq.sorted == Seq((4L, 2L)))
  }

  test("TxTableSource: maxVersionsPerTrigger bounds each micro-batch to whole commits") {
    import spark.implicits._
    val loc = TestSpark.tmpDir("txsrc-rate") + "/t"
    val ckpt = TestSpark.tmpDir("txsrc-rate-ckpt")
    val t = new TxTable(spark, loc)
    t.create(Seq((1L, "a")).toDF("id", "s"))              // v0
    t.append(Seq((2L, "b")).toDF("id", "s"))              // v1
    t.append(Seq((3L, "c")).toDF("id", "s"))              // v2
    t.append(Seq((4L, "d")).toDF("id", "s"))              // v3

    // batchId -> distinct commit versions delivered in that batch
    val batches = new java.util.concurrent.ConcurrentHashMap[Long, Set[Long]]()
    def run(): Unit = {
      val q = spark.readStream
        .format("graft.streaming.TxTableSourceProvider")
        .option("maxVersionsPerTrigger", "1")
        .load(loc)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          val vs = df.select("_commit_version").distinct().collect()
            .map(_.getLong(0)).toSet
          batches.merge(id, vs, (a, b) => a ++ b)
          ()
        }
        .option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable()
      q.stop()
    }

    run()
    import scala.jdk.CollectionConverters._
    val perBatch = batches.asScala.values.toSeq
    // a cold start against 4 commits arrives as 4 bounded batches, one
    // commit each — never one giant catch-up batch
    assert(perBatch.forall(_.size <= 1), s"batch exceeded the rate limit: $perBatch")
    assert(perBatch.flatten.toSet == Set(0L, 1L, 2L, 3L))

    // backlog after downtime: two new commits resume as two batches
    t.append(Seq((5L, "e")).toDF("id", "s"))              // v4
    t.append(Seq((6L, "f")).toDF("id", "s"))              // v5
    batches.clear()
    run()
    val resumed = batches.asScala.values.toSeq
    assert(resumed.forall(_.size <= 1), s"batch exceeded the rate limit: $resumed")
    assert(resumed.flatten.toSet == Set(4L, 5L))
  }

  test("TxTableSource: maxBytesPerTrigger soft-caps batches at commit boundaries") {
    import spark.implicits._
    val loc = TestSpark.tmpDir("txsrc-bytes") + "/t"
    val ckpt = TestSpark.tmpDir("txsrc-bytes-ckpt")
    val t = new TxTable(spark, loc)
    t.create((0 until 200).map(i => (i.toLong, "x" * 50)).toDF("id", "s"))  // v0
    (1 to 3).foreach { k =>                                                  // v1..v3
      t.append((0 until 200).map(i => (k * 1000L + i, "y" * 50)).toDF("id", "s"))
    }
    val perFileBytes = t.snapshot.files.map(_.sizeBytes).max

    val batches = new java.util.concurrent.ConcurrentHashMap[Long, Set[Long]]()
    val q = spark.readStream
      .format("graft.streaming.TxTableSourceProvider")
      // budget below one commit's size: every batch must still deliver
      // exactly one whole commit (soft cap, never starvation)
      .option("maxBytesPerTrigger", (perFileBytes / 2).toString)
      .load(loc)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val vs = df.select("_commit_version").distinct().collect()
          .map(_.getLong(0)).toSet
        batches.merge(id, vs, (a, b) => a ++ b)
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()
    import scala.jdk.CollectionConverters._
    val perBatch = batches.asScala.values.toSeq
    assert(perBatch.forall(_.size == 1),
      s"sub-commit budget must yield exactly one commit per batch: $perBatch")
    assert(perBatch.flatten.toSet == Set(0L, 1L, 2L, 3L))
    // size-string parsing
    assert(graft.streaming.TxTableSource.maxBytesPerTrigger(
      Map("maxBytesPerTrigger" -> "128m")) == Some(128L << 20))
    assert(graft.streaming.TxTableSource.maxBytesPerTrigger(
      Map("maxBytesPerTrigger" -> "1g")) == Some(1L << 30))
    intercept[IllegalArgumentException] {
      graft.streaming.TxTableSource.maxBytesPerTrigger(Map("maxBytesPerTrigger" -> "0"))
    }
  }

  test("TxTableSource readChangeFeed streams an ICEBERG table via the snapshot-diff changelog") {
    import spark.implicits._
    val loc = TestSpark.tmpDir("txsrc-icecdf") + "/t"
    val ckpt = TestSpark.tmpDir("txsrc-icecdf-ckpt")
    val t = graft.tables.TxTable.forIceberg(spark, loc)
    t.create(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"))  // v1
    t.append(Seq((4L, "d")).toDF("id", "s"))                         // v2
    t.delete("id = 2")                                               // v3 (position delete)
    graft.tables.IcebergWriter.equalityDelete(spark, loc, Seq("id"),
      Seq(3L).toDF("id"))                                            // v4 (equality delete)

    val received = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    val q = spark.readStream
      .format("graft.streaming.TxTableSourceProvider")
      .option("readChangeFeed", "true")
      .load(loc)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.select("id", "_change_type", "_commit_version").collect()
          .foreach(r => received.add((r.getLong(0), r.getString(1), r.getLong(2))))
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()
    import scala.jdk.CollectionConverters._
    val got = received.asScala.toSet
    assert(got == Set(
      (1L, "insert", 1L), (2L, "insert", 1L), (3L, "insert", 1L),
      (4L, "insert", 2L), (2L, "delete", 3L), (3L, "delete", 4L)), got.toString)
  }

  test("TxTableSource readChangeFeed streams inserts AND deletes with change types") {
    import spark.implicits._
    val loc = TestSpark.tmpDir("txsrc-cdf") + "/t"
    val ckpt = TestSpark.tmpDir("txsrc-cdf-ckpt")
    graft.tables.DeltaLogWriter.create(spark, loc,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"),
      properties = Map("delta.enableChangeDataFeed" -> "true"))
    val t = graft.tables.TxTable.forForeignDelta(spark, loc)
    t.append(Seq((4L, "d")).toDF("id", "s"))   // v1
    t.delete("id = 2")                          // v2

    val received = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    val q = spark.readStream
      .format("graft.streaming.TxTableSourceProvider")
      .option("readChangeFeed", "true")
      .load(loc)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.select("id", "_change_type", "_commit_version").collect()
          .foreach(r => received.add((r.getLong(0), r.getString(1), r.getLong(2))))
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()

    import scala.jdk.CollectionConverters._
    val got = received.asScala.toSet
    assert(got.contains((1L, "insert", 0L)) && got.contains((3L, "insert", 0L)))
    assert(got.contains((4L, "insert", 1L)))
    assert(got.contains((2L, "delete", 2L)), s"delete row must stream, got $got")

    // the native log refuses CDF streaming with a typed error
    val nloc = TestSpark.tmpDir("txsrc-cdf-native") + "/t"
    new TxTable(spark, nloc).create(Seq((1L, "a")).toDF("id", "s"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val bad = spark.readStream
        .format("graft.streaming.TxTableSourceProvider")
        .option("readChangeFeed", "true")
        .load(nloc)
        .writeStream
        .foreachBatch((_: org.apache.spark.sql.DataFrame, _: Long) => ())
        .option("checkpointLocation", TestSpark.tmpDir("txsrc-cdf-bad-ckpt"))
        .start()
      bad.processAllAvailable()
      if (bad.exception.isDefined) { bad.stop(); throw bad.exception.get }
      bad.stop()
    }
  }

  test("TxTableSource streams a REAL Delta (_delta_log) table via log dispatch") {
    import spark.implicits._
    val loc = TestSpark.tmpDir("txsrc-delta") + "/t"
    val ckpt = TestSpark.tmpDir("txsrc-delta-ckpt")
    graft.tables.DeltaLogWriter.create(spark, loc, Seq((1L, "a")).toDF("id", "s")) // v0
    graft.tables.DeltaLogWriter.append(spark, loc, Seq((2L, "b")).toDF("id", "s")) // v1

    val received = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def runAvailable(): Unit = {
      val q = spark.readStream
        .format("graft.streaming.TxTableSourceProvider")
        .load(loc)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("id", "_commit_version").collect()
            .foreach(r => received.add((r.getLong(0), r.getLong(1))))
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }

    runAvailable()
    import scala.jdk.CollectionConverters._
    assert(received.asScala.toSeq.sorted == Seq((1L, 0L), (2L, 1L)))

    // resume picks up only the new Delta commit
    graft.tables.DeltaLogWriter.append(spark, loc, Seq((3L, "c")).toDF("id", "s")) // v2
    received.clear()
    runAvailable()
    assert(received.asScala.toSeq.sorted == Seq((3L, 2L)))
  }

  test("TxTableSource streams an Apache Iceberg table via log dispatch") {
    import spark.implicits._
    val loc = TestSpark.tmpDir("txsrc-ice") + "/t"
    val ckpt = TestSpark.tmpDir("txsrc-ice-ckpt")
    val t = graft.tables.TxTable.forIceberg(spark, loc)
    t.create(Seq((1L, "a")).toDF("id", "s"), Seq.empty) // metadata v1
    t.append(Seq((2L, "b")).toDF("id", "s"))            // metadata v2

    val received = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def runAvailable(): Unit = {
      val q = spark.readStream
        .format("graft.streaming.TxTableSourceProvider")
        .load(loc)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("id", "_commit_version").collect()
            .foreach(r => received.add((r.getLong(0), r.getLong(1))))
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }

    runAvailable()
    import scala.jdk.CollectionConverters._
    assert(received.asScala.toSeq.sorted == Seq((1L, 1L), (2L, 2L)))

    // resume past an OPTIMIZE (whose adds must not re-enter the stream)
    // picks up only the genuinely new snapshot
    t.optimize()
    t.append(Seq((3L, "c")).toDF("id", "s"))
    received.clear()
    runAvailable()
    assert(received.asScala.toSeq.sorted == Seq((3L, 4L)))
  }

  test("TxTableSource streams a RAW foreign fixture (external-writer JSON log, DV commit)") {
    import spark.implicits._
    import java.nio.charset.StandardCharsets
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val loc = TestSpark.tmpDir("txsrc-raw") + "/t"
    val ckpt = TestSpark.tmpDir("txsrc-raw-ckpt")

    def oneParquetFile(df: org.apache.spark.sql.DataFrame, name: String): Long = {
      val tmp = TestSpark.tmpDir("txsrc-stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dest = Paths.get(loc, name)
      Files.createDirectories(dest.getParent)
      Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
      Files.size(dest)
    }
    def writeLine(name: String, lines: Seq[String]): Unit = {
      val log = Paths.get(loc, "_delta_log")
      Files.createDirectories(log)
      Files.write(log.resolve(name), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    }
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType))).json
    val meta = s"""{"metaData":{"id":"fixt","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(org.json4s.JString(schemaJson)))},""" +
      s""""partitionColumns":[],"configuration":{}}}"""

    val sz1 = oneParquetFile(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("id", "s").orderBy("id"), "f1.parquet")
    writeLine("00000000000000000000.json", Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      meta,
      s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$sz1,"modificationTime":1,"dataChange":true}}"""))

    // v1: external DELETE of id=2 in delta-rs shape — remove + re-add with
    // an INLINE deletion vector killing physical position 1
    val bm = new graft.tables.DeletionVectors.Bitmap64
    bm.add(1L)
    val data = bm.serialize
    val inline = graft.tables.DeletionVectors.encodeData(data)
    writeLine("00000000000000000001.json", Seq(
      """{"remove":{"path":"f1.parquet","deletionTimestamp":2,"dataChange":true}}""",
      s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$sz1,"modificationTime":1,"dataChange":true,""" +
        s""""deletionVector":{"storageType":"i","pathOrInlineDv":"$inline","sizeInBytes":${data.length},"cardinality":1}}}"""))

    val received = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def runAvailable(): Unit = {
      val q = spark.readStream
        .format("graft.streaming.TxTableSourceProvider")
        .load(loc)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("id", "_commit_version").collect()
            .foreach(r => received.add((r.getLong(0), r.getLong(1))))
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }

    runAvailable()
    import scala.jdk.CollectionConverters._
    // v0 emits the 4 original rows; v1's re-add re-emits the file's LIVE rows
    // only (DV applied — id=2 never reappears): Delta's ignoreChanges
    // semantics for change commits
    assert(received.asScala.toSeq.sorted ==
      Seq((1L, 0L), (1L, 1L), (2L, 0L), (3L, 0L), (3L, 1L), (4L, 0L), (4L, 1L)))

    // v2: a fresh external append; checkpoint-resume delivers ONLY it
    val sz2 = oneParquetFile(Seq((5L, "e"), (6L, "f")).toDF("id", "s").orderBy("id"), "f2.parquet")
    writeLine("00000000000000000002.json", Seq(
      s"""{"add":{"path":"f2.parquet","partitionValues":{},"size":$sz2,"modificationTime":3,"dataChange":true}}"""))
    received.clear()
    runAvailable()
    assert(received.asScala.toSeq.sorted == Seq((5L, 2L), (6L, 2L)))
  }

  test("TxIncremental: durable cursor delivers each commit exactly once across batches") {
    import spark.implicits._
    val loc = TestSpark.tmpDir("txinc") + "/t"
    val ckpt = TestSpark.tmpDir("txinc-ckpt")
    val t = new TxTable(spark, loc)
    t.create(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))       // v0
    t.append(Seq((3L, "c")).toDF("id", "s"))                  // v1

    var seen = Seq.empty[(Long, Long)] // (id, commit_version)
    def consume(df: org.apache.spark.sql.DataFrame): Unit =
      seen ++= df.select("id", "_commit_version").collect().map(r => (r.getLong(0), r.getLong(1)))

    // first batch: everything from the beginning (v0 + v1)
    assert(TxIncremental.processAvailable(t, ckpt)(consume) == 2)
    assert(seen.sorted == Seq((1L, 0L), (2L, 0L), (3L, 1L)))
    // nothing new -> function not called
    assert(TxIncremental.processAvailable(t, ckpt)(_ => fail("should not run")) == 0)
    // new commit -> only its rows delivered
    t.append(Seq((4L, "d")).toDF("id", "s"))                  // v2
    seen = Seq.empty
    assert(TxIncremental.processAvailable(t, ckpt)(consume) == 1)
    assert(seen == Seq((4L, 2L)))
    assert(TxIncremental.lastProcessedVersion(t, ckpt) == 2L)
  }

  test("CDC apply: streaming upserts + tombstones merge into the table per batch") {
    import spark.implicits._
    val tbl = TestSpark.tmpDir("cdc-apply") + "/t"
    val ckpt1 = TestSpark.tmpDir("cdc-apply-ckpt1")

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long, Boolean)]
    val stream = input.toDF().toDF("id", "name", "seq", "__deleted")
    // batch 1: two inserts, one key twice (seq decides), one irrelevant tombstone
    input.addData((1L, "a-old", 1L, false), (1L, "a-new", 2L, false),
      (2L, "b", 1L, false), (3L, "ghost", 1L, true))
    val q1 = StreamOps.upsertToTxTable(stream, tbl, Seq("id"), ckpt1,
      sequenceCol = Some("seq"), deleteCol = Some("__deleted"))
    q1.awaitTermination(60000)

    val t = TxTable.forLocation(spark, tbl)
    // the tombstone marker never lands in the target; the sequence
    // persists as the __graft_seq shadow column (cross-batch ordering)
    assert(t.snapshot.schema.fieldNames.toSeq == Seq("id", "name", "__graft_seq"))
    assert(t.toDF.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a-new"), (2L, "b")))

    // batch 2: update key 1, delete key 2, insert key 4
    input.addData((1L, "a-v3", 3L, false), (2L, "b", 2L, true), (4L, "d", 1L, false))
    val q2 = StreamOps.upsertToTxTable(stream, tbl, Seq("id"), ckpt1,
      sequenceCol = Some("seq"), deleteCol = Some("__deleted"))
    q2.awaitTermination(60000)
    assert(t.toDF.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a-v3"), (4L, "d")))

    // batch 3: LATE events — key 1 arrives with a LOWER sequence than the
    // seq=3 already applied (both an update and a tombstone). Neither may
    // take effect: the persisted __graft_seq guards across microbatches,
    // not just within one. Key 4's equal-sequence replay still applies
    // (>=, idempotent), and a genuinely newer update lands normally.
    input.addData((1L, "a-STALE", 2L, false), (4L, "d", 1L, false),
      (4L, "d-v2", 5L, false))
    val q3 = StreamOps.upsertToTxTable(stream, tbl, Seq("id"), ckpt1,
      sequenceCol = Some("seq"), deleteCol = Some("__deleted"))
    q3.awaitTermination(60000)
    assert(t.toDF.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a-v3"), (4L, "d-v2")))

    // batch 4: a late tombstone (seq below applied) must not delete
    input.addData((4L, "", 2L, true))
    val q4 = StreamOps.upsertToTxTable(stream, tbl, Seq("id"), ckpt1,
      sequenceCol = Some("seq"), deleteCol = Some("__deleted"))
    q4.awaitTermination(60000)
    assert(t.toDF.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a-v3"), (4L, "d-v2")))
  }

  test("CDC apply crash-replay: re-running an uncheckpointed batch changes nothing") {
    import spark.implicits._
    val tbl = TestSpark.tmpDir("cdc-crash") + "/t"
    val ckpt = TestSpark.tmpDir("cdc-crash-ckpt")

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long, Boolean)]
    val stream = input.toDF().toDF("id", "name", "seq", "__deleted")
    // AvailableNow self-terminates, but deregistration from the session's
    // active-query list is async — a too-fast restart on the same
    // checkpoint trips the concurrent-use guard, so drain explicitly
    def runOnce(): Unit = {
      val q = StreamOps.upsertToTxTable(stream, tbl, Seq("id"), ckpt,
        sequenceCol = Some("seq"), deleteCol = Some("__deleted"))
      q.awaitTermination(60000)
      q.stop()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.streams.active.nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
    }
    input.addData((1L, "a", 1L, false), (2L, "b", 1L, false))
    runOnce()
    // batch 1: update 1, tombstone 2, insert 3
    input.addData((1L, "a-v2", 2L, false), (2L, "", 2L, true), (3L, "c", 1L, false))
    runOnce()

    val t = TxTable.forLocation(spark, tbl)
    def state() = t.toDF.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(state() == Seq((1L, "a-v2"), (3L, "c")))
    val vBefore = t.snapshot.version

    // crash in the at-least-once window: the MERGE for batch 1 committed
    // to the table, the checkpoint commit marker was never written. On
    // restart Spark replays batch 1 from the offsets log — the upsert-by-
    // key merge (with its >= sequence guard) must make the replay a pure
    // re-application: same values, tombstoned key stays deleted, nothing
    // duplicated, nothing lost.
    val marker = new java.io.File(s"$ckpt/commits/1")
    assert(marker.exists(), "expected checkpoint commit marker for batch 1")
    assert(marker.delete())
    // local FS keeps a checksum sidecar; a real crash writes neither
    new java.io.File(s"$ckpt/commits/.1.crc").delete()
    runOnce()

    assert(state() == Seq((1L, "a-v2"), (3L, "c")),
      "crash-replay must not change effects")
    // the replay really ran (a merge commit landed), it just had no effect
    assert(t.snapshot.version >= vBefore)
    assert(new java.io.File(s"$ckpt/commits/1").exists(),
      "restart must re-write the checkpoint marker")
  }

  test("maintainView keeps an incremental MV fresh per trigger; replay cannot double-count") {
    import spark.implicits._
    val srcLoc = TestSpark.tmpDir("mvstream-src") + "/t"
    val viewLoc = TestSpark.tmpDir("mvstream-view") + "/v"
    val ckpt = TestSpark.tmpDir("mvstream-ckpt")
    val src = new TxTable(spark, srcLoc)
    src.create(Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v"))

    def runOnce(): Unit = {
      val q = StreamOps.maintainView(spark, srcLoc, viewLoc, Seq("k"), Seq("v"), ckpt)
      q.awaitTermination(60000)
      q.stop()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.streams.active.nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
    }
    def viewRows() = TxTable.forLocation(spark, viewLoc).toDF.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

    runOnce()
    assert(viewRows() == Set(("a", 1L, 1.0), ("b", 1L, 2.0)))
    src.append(Seq(("a", 4.0), ("c", 7.0)).toDF("k", "v"))
    runOnce()
    assert(viewRows() == Set(("a", 2L, 5.0), ("b", 1L, 2.0), ("c", 1L, 7.0)))

    // crash window: the refresh merged, the stream checkpoint didn't
    // advance — replaying the trigger must find the view watermark and
    // no-op (IncrementalView's exactly-once, exercised through the sink)
    val marker = new java.io.File(s"$ckpt/commits/1")
    assert(marker.exists())
    assert(marker.delete())
    new java.io.File(s"$ckpt/commits/.1.crc").delete()
    runOnce()
    assert(viewRows() == Set(("a", 2L, 5.0), ("b", 1L, 2.0), ("c", 1L, 7.0)))
  }

  test("dedupIngest: batches dedup against the corpus AND within themselves; replay is clean") {
    import spark.implicits._
    def doc(seed: String): String =
      (1 to 30).map(i => s"$seed token$i word${i % 7}").mkString(" ")
    val corpusLoc = TestSpark.tmpDir("ingest-corpus") + "/c"
    val idxLoc = TestSpark.tmpDir("ingest-index") + "/i"
    val ckpt = TestSpark.tmpDir("ingest-ckpt")

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    def runOnce(): Unit = {
      val q = StreamOps.dedupIngest(stream, corpusLoc, idxLoc, ckpt)
      q.awaitTermination(120000)
      q.stop()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.streams.active.nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
    }
    def corpusIds() = TxTable.forLocation(spark, corpusLoc).toDF
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted

    input.addData((1L, doc("alpha")), (2L, doc("beta")))
    runOnce()
    assert(corpusIds() == Seq(1L, 2L))

    // batch 2: a copy of alpha (vs-corpus dup), a fresh gamma, and two
    // near-identical deltas (within-batch dup -> lowest id survives)
    input.addData((10L, doc("alpha")), (11L, doc("gamma")),
      (12L, doc("delta")), (13L, doc("delta") + " tail"))
    runOnce()
    assert(corpusIds() == Seq(1L, 2L, 11L, 12L))

    // crash window: corpus append + index committed, checkpoint marker
    // lost — the replayed batch must change nothing
    val marker = new java.io.File(s"$ckpt/commits/1")
    assert(marker.exists()); assert(marker.delete())
    new java.io.File(s"$ckpt/commits/.1.crc").delete()
    runOnce()
    assert(corpusIds() == Seq(1L, 2L, 11L, 12L))
  }

  test("dedupIngest onto an existing Iceberg corpus appends into it, never shadows it") {
    import spark.implicits._
    def doc(seed: String): String =
      (1 to 30).map(i => s"$seed token$i word${i % 7}").mkString(" ")
    val corpusLoc = TestSpark.tmpDir("ingest-ice-corpus") + "/c"
    val idxLoc = TestSpark.tmpDir("ingest-ice-index") + "/i"
    val ckpt = TestSpark.tmpDir("ingest-ice-ckpt")
    graft.tables.IcebergWriter.create(spark, corpusLoc,
      Seq((1L, doc("alpha"))).toDF("doc_id", "text"))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    input.addData((10L, doc("alpha")), (11L, doc("beta"))) // one dup, one fresh
    val q = StreamOps.dedupIngest(input.toDF().toDF("doc_id", "text"),
      corpusLoc, idxLoc, ckpt)
    q.awaitTermination(120000)
    q.stop()

    assert(!graft.tables.TxLog.exists(spark, corpusLoc),
      "a native log was created over the Iceberg corpus")
    assert(TxTable.forAnyLocation(spark, corpusLoc).toDF
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted == Seq(1L, 11L))
  }

  test("CDC apply onto an existing Iceberg table merges into it, never shadows it") {
    import spark.implicits._
    val tbl = TestSpark.tmpDir("cdc-ice") + "/t"
    val ckpt = TestSpark.tmpDir("cdc-ice-ckpt")
    graft.tables.IcebergWriter.create(spark, tbl,
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("id", "name")
    input.addData((2L, "b-v2"), (3L, "c"))
    val q = StreamOps.upsertToTxTable(stream, tbl, Seq("id"), ckpt)
    q.awaitTermination(60000)

    // the create-if-missing guard must see the Iceberg table: a fresh
    // native log at the same location would silently shadow its data
    assert(!graft.tables.TxLog.exists(spark, tbl),
      "a native log was created over the Iceberg table")
    assert(TxTable.forAnyLocation(spark, tbl).toDF.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b-v2"), (3L, "c")))
  }
}
