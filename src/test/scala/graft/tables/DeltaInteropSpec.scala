package graft.tables

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.catalog.{ColumnInfo, DoesNotExistError, FileType, SchemaEvolution, TableInfo, TableType, UnsupportedOperationError, WriteMode}
import graft.io.TableIO
import graft.types.UcType

/** Real Delta-protocol (`_delta_log`) interop — the reference's primary
  * table format (every Delta test in /root/reference/tests/test_dataframes.py
  * goes through delta-rs). Round-trips through this library's own minimal
  * writer AND hand-crafted foreign logs exercising protocol corners the
  * writer never emits (removes, non-hive layout, percent-encoded paths,
  * checkpoints, protocol gating).
  */
class DeltaInteropSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def df1: DataFrame =
    Seq((0L, "a", 1.0), (1L, "b", 2.0), (2L, "c", 3.0), (3L, "d", 4.0))
      .toDF("id", "str_col", "float_col")
  private def df2: DataFrame =
    Seq((4L, "e", 5.0), (5L, "f", 6.0)).toDF("id", "str_col", "float_col")

  private def writeLine(dir: String, name: String, lines: Seq[String]): Unit = {
    val log = Paths.get(dir, "_delta_log")
    Files.createDirectories(log)
    Files.write(log.resolve(name), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Stage a single parquet file holding `df` and move it to `dir/name`. */
  private def oneParquetFile(df: DataFrame, dir: String, name: String): Long = {
    val tmp = TestSpark.tmpDir("dl-stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val dest = Paths.get(dir, name)
    Files.createDirectories(dest.getParent)
    Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
    Files.size(dest)
  }

  private val schemaString =
    StructType(Seq(StructField("id", LongType), StructField("str_col", StringType),
      StructField("float_col", DoubleType))).json

  private def metaAction(schemaJson: String = schemaString, partCols: Seq[String] = Seq.empty,
      conf: Map[String, String] = Map.empty): String = {
    val parts = partCols.map(c => "\"" + c + "\"").mkString(",")
    val cfg = conf.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }.mkString(",")
    s"""{"metaData":{"id":"fixture","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(org.json4s.JString(schemaJson)))},""" +
      s""""partitionColumns":[$parts],"configuration":{$cfg}}}"""
  }

  test("own-writer round-trip: create, append, overwrite, version time travel") {
    val loc = TestSpark.tmpDir("delta-rt")
    DeltaLogWriter.create(spark, loc, df1)
    assert(DeltaLog.isDeltaTable(spark, loc))
    assert(!TxLog.exists(spark, loc))
    assert(DeltaLog.toDF(spark, loc).orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))

    DeltaLogWriter.append(spark, loc, df2)
    assert(DeltaLog.toDF(spark, loc).count() == 6)

    DeltaLogWriter.overwrite(spark, loc, df2)
    assert(DeltaLog.toDF(spark, loc).orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(4L, 5L))

    // version time travel replays the JSON log prefix
    assert(DeltaLog.toDF(spark, loc, Some(0L)).count() == 4)
    assert(DeltaLog.toDF(spark, loc, Some(1L)).count() == 6)
    intercept[DoesNotExistError](DeltaLog.snapshot(spark, loc, Some(99L)))
  }

  test("partitioned round-trip keeps partition values and schema order") {
    val loc = TestSpark.tmpDir("delta-part")
    val df = Seq((1L, "x", "2024-01-01"), (2L, "y", "2024-01-02"), (3L, "x", "2024-01-02"))
      .toDF("id", "k", "day")
    DeltaLogWriter.create(spark, loc, df, partitionColumns = Seq("k"))
    val snap = DeltaLog.snapshot(spark, loc)
    assert(snap.partitionColumns == Seq("k"))
    assert(snap.files.forall(f => f.partitionValues.keySet == Set("k")))
    val out = DeltaLog.toDF(spark, loc)
    assert(out.schema.fieldNames.toSeq == Seq("id", "k", "day"))
    assert(out.filter(col("k") === "x").count() == 2)
  }

  test("foreign log: add/remove replay, stats parsed into the manifest") {
    val loc = TestSpark.tmpDir("delta-foreign")
    val sz1 = oneParquetFile(df1, loc, "part-0001.snappy.parquet")
    val sz2 = oneParquetFile(df2, loc, "part-0002.snappy.parquet")
    writeLine(loc, "00000000000000000000.json", Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaAction(),
      s"""{"add":{"path":"part-0001.snappy.parquet","partitionValues":{},"size":$sz1,"modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":4,\\"minValues\\":{\\"id\\":0},\\"maxValues\\":{\\"id\\":3}}"}}""",
      s"""{"add":{"path":"part-0002.snappy.parquet","partitionValues":{},"size":$sz2,"modificationTime":1,"dataChange":true}}"""))
    assert(DeltaLog.toDF(spark, loc).count() == 6)
    val f1 = DeltaLog.snapshot(spark, loc).files.find(_.path == "part-0001.snappy.parquet").get
    assert(f1.rows == 4L && f1.minValues.get("id") == "0" && f1.maxValues.get("id") == "3")

    writeLine(loc, "00000000000000000001.json", Seq(
      """{"remove":{"path":"part-0001.snappy.parquet","deletionTimestamp":2,"dataChange":true}}"""))
    assert(DeltaLog.toDF(spark, loc).orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(4L, 5L))
  }

  test("foreign log: percent-encoded paths and non-hive partition layout") {
    val loc = TestSpark.tmpDir("delta-nonhive")
    // partition column `p` lives ONLY in the log, not in file paths or data
    val data = StructType(Seq(StructField("id", LongType)))
    val dfa = spark.createDataFrame(java.util.List.of(Row(1L), Row(2L)), data)
    val dfb = spark.createDataFrame(java.util.List.of(Row(3L)), data)
    val szA = oneParquetFile(dfa, loc, "file a.parquet") // space → %20 in the log
    val szB = oneParquetFile(dfb, loc, "fileb.parquet")
    val schemaJ = StructType(Seq(StructField("id", LongType), StructField("p", StringType))).json
    writeLine(loc, "00000000000000000000.json", Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaAction(schemaJ, Seq("p")),
      s"""{"add":{"path":"file%20a.parquet","partitionValues":{"p":"x"},"size":$szA,"modificationTime":1,"dataChange":true}}""",
      s"""{"add":{"path":"fileb.parquet","partitionValues":{"p":"y"},"size":$szB,"modificationTime":1,"dataChange":true}}"""))
    val out = DeltaLog.toDF(spark, loc)
    assert(out.schema.fieldNames.toSeq == Seq("id", "p"))
    assert(out.filter(col("p") === "x").orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(out.filter(col("p") === "y").collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("protocol gating: v3 with an unknown feature rejected; benign features and name mapping pass") {
    // gating is exercised with a feature name outside the supported set —
    // deliberately a FUTURE/unknown name, since each real feature used here
    // as the example (deletionVectors, typeWidening, variantType) ended up
    // implemented and broke the fixture
    val loc = TestSpark.tmpDir("delta-gate")
    val szF = oneParquetFile(df1, loc, "f.parquet")
    writeLine(loc, "00000000000000000000.json", Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["someFutureFeature"]}}""",
      metaAction(),
      s"""{"add":{"path":"f.parquet","partitionValues":{},"size":$szF,"modificationTime":1,"dataChange":true}}"""))
    intercept[UnsupportedOperationError](DeltaLog.snapshot(spark, loc))

    val loc2 = TestSpark.tmpDir("delta-gate2")
    val szF2 = oneParquetFile(df1, loc2, "f.parquet")
    writeLine(loc2, "00000000000000000000.json", Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["timestampNtz"]}}""",
      metaAction(),
      s"""{"add":{"path":"f.parquet","partitionValues":{},"size":$szF2,"modificationTime":1,"dataChange":true}}"""))
    assert(DeltaLog.toDF(spark, loc2).count() == 4)

    // name-mode column mapping with a mapping-free schema reads fine
    // (full mapped-read coverage in the dedicated column-mapping test)
    val loc3 = TestSpark.tmpDir("delta-gate3")
    val szF3 = oneParquetFile(df1, loc3, "f.parquet")
    writeLine(loc3, "00000000000000000000.json", Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      metaAction(conf = Map("delta.columnMapping.mode" -> "name")),
      s"""{"add":{"path":"f.parquet","partitionValues":{},"size":$szF3,"modificationTime":1,"dataChange":true}}"""))
    assert(DeltaLog.toDF(spark, loc3).count() == 4)
  }

  test("checkpoint + JSON tail: snapshot starts from the checkpoint") {
    val loc = TestSpark.tmpDir("delta-ckpt")
    val sz1 = oneParquetFile(df1, loc, "f1.parquet")

    // checkpoint parquet holding protocol + metaData + one add, at version 1
    val ckptSchema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType)))),
      StructField("metaData", StructType(Seq(
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType)),
        StructField("format", StructType(Seq(StructField("provider", StringType))))))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("stats", StringType))))))
    val rows = java.util.List.of(
      Row(Row(1), null, null),
      Row(null, Row(schemaString, Seq.empty[String], Map.empty[String, String], Row("parquet")), null),
      Row(null, null, Row("f1.parquet", Map.empty[String, String], sz1, """{"numRecords":4}""")))
    val tmp = TestSpark.tmpDir("ckpt-stage")
    spark.createDataFrame(rows, ckptSchema).coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val log = Paths.get(loc, "_delta_log")
    Files.createDirectories(log)
    Files.move(part, log.resolve("00000000000000000001.checkpoint.parquet"))
    Files.write(log.resolve("_last_checkpoint"), """{"version":1,"size":3}""".getBytes(StandardCharsets.UTF_8))

    // JSON tail after the checkpoint adds f2; pre-checkpoint commits are gone
    // except an empty marker for version enumeration
    writeLine(loc, "00000000000000000001.json", Seq(
      """{"commitInfo":{"operation":"CHECKPOINTED"}}"""))
    val sz2 = oneParquetFile(df2, loc, "f2.parquet")
    writeLine(loc, "00000000000000000002.json", Seq(
      s"""{"add":{"path":"f2.parquet","partitionValues":{},"size":$sz2,"modificationTime":1,"dataChange":true}}"""))

    val snap = DeltaLog.snapshot(spark, loc)
    assert(snap.version == 2L)
    assert(snap.files.map(_.path).toSet == Set("f1.parquet", "f2.parquet"))
    assert(DeltaLog.toDF(spark, loc).count() == 6)
  }

  test("foreign-log stats drive manifest pruning in scan()") {
    val loc = TestSpark.tmpDir("delta-skip")
    val sz1 = oneParquetFile(df1, loc, "lo.parquet")   // ids 0..3
    val sz2 = oneParquetFile(df2, loc, "hi.parquet")   // ids 4..5
    writeLine(loc, "00000000000000000000.json", Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaAction(),
      s"""{"add":{"path":"lo.parquet","partitionValues":{},"size":$sz1,"modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":4,\\"minValues\\":{\\"id\\":0},\\"maxValues\\":{\\"id\\":3}}"}}""",
      s"""{"add":{"path":"hi.parquet","partitionValues":{},"size":$sz2,"modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":2,\\"minValues\\":{\\"id\\":4},\\"maxValues\\":{\\"id\\":5}}"}}"""))
    assert(DeltaLog.filesAfterPruning(spark, loc, "id >= 4") == 1)
    assert(DeltaLog.filesAfterPruning(spark, loc, "id <= 1") == 1)
    assert(DeltaLog.filesAfterPruning(spark, loc, "id >= 0") == 2)
    assert(DeltaLog.scan(spark, loc, "id >= 4").collect().map(_.getLong(0)).sorted.toSeq == Seq(4L, 5L))
  }

  test("changesSince surfaces per-commit adds with _commit_version") {
    val loc = TestSpark.tmpDir("delta-cdc")
    DeltaLogWriter.create(spark, loc, df1)       // v0: ids 0..3
    DeltaLogWriter.append(spark, loc, df2)       // v1: ids 4..5
    val t = TxTable.forForeignDelta(spark, loc)
    val changes = t.changesSince(0L)
    assert(changes.columns.contains("_commit_version"))
    assert(changes.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(4L, 5L))
    assert(changes.select("_commit_version").distinct().collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(t.changesSince(1L).count() == 0)
  }

  test("writer auto-checkpoints every 10th commit and the reader starts from it") {
    val loc = TestSpark.tmpDir("delta-auto-ckpt")
    DeltaLogWriter.create(spark, loc, df1)
    (1 to 10).foreach(_ => DeltaLogWriter.append(spark, loc, df2))
    val ckpt = Paths.get(loc, "_delta_log", "00000000000000000010.checkpoint.parquet")
    assert(Files.exists(ckpt), "checkpoint parquet should exist at v10")
    assert(Files.exists(Paths.get(loc, "_delta_log", "_last_checkpoint")))
    // full contents: 4 + 10*2 rows, reconstructed through the checkpoint
    assert(DeltaLog.toDF(spark, loc).count() == 24)
    // corrupt all pre-checkpoint commit JSONs: replay must not need them
    (0 to 9).foreach { v =>
      Files.writeString(Paths.get(loc, "_delta_log", f"$v%020d.json"), "not json")
    }
    assert(DeltaLog.toDF(spark, loc).count() == 24)
  }

  test("multi-part classic checkpoint WRITE: parts land and replay without the JSON tail") {
    val loc = TestSpark.tmpDir("delta-multipart")
    // 8 single-row files -> >= 10 actions (protocol + metaData + 8 adds)
    DeltaLogWriter.create(spark, loc, df1.repartition(4))
    DeltaLogWriter.append(spark, loc, df2.repartition(4))
    val v = DeltaLog.latestVersion(spark, loc).get
    // force the multi-part layout: at most 3 actions per part
    DeltaLogWriter.writeCheckpoint(spark, loc, v, maxActionsPerPart = 3)
    val log = Paths.get(loc, "_delta_log")
    val parts = Files.list(log).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .map(_.getFileName.toString)
      .filter(n => n.startsWith(f"$v%020d.checkpoint.") && n.endsWith(".parquet")).sorted
    assert(parts.length >= 2, s"expected multi-part checkpoint, got ${parts.toSeq}")
    // legacy naming every Delta reader understands: v.checkpoint.iiiiiiiiii.nnnnnnnnnn.parquet
    parts.foreach(n => assert(n.matches(raw"\d{20}\.checkpoint\.\d{10}\.\d{10}\.parquet"), n))
    val lc = Files.readString(log.resolve("_last_checkpoint"))
    assert(lc.contains(s""""parts":${parts.length}"""), lc)
    // replay must work from the parts ALONE (log-cleaned table)
    (0L to v).foreach { i =>
      val p = log.resolve(f"$i%020d.json")
      if (Files.exists(p)) Files.delete(p)
    }
    assert(DeltaLog.toDF(spark, loc).count() == 6)
    assert(DeltaLog.snapshot(spark, loc).files.size >= 2)
  }

  test("concurrent appends both land via optimistic version retry") {
    val loc = TestSpark.tmpDir("delta-concurrent")
    DeltaLogWriter.create(spark, loc, df1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = (0 until 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = DeltaLogWriter.append(spark, loc, df2)
        })
      }
      futures.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(DeltaLog.latestVersion(spark, loc).contains(2L))
    assert(DeltaLog.toDF(spark, loc).count() == 8) // 4 + 2 + 2
  }

  test("log-cleaned table: checkpoint alone reconstructs the snapshot after ALL commit JSONs are gone") {
    val loc = TestSpark.tmpDir("delta-logclean")
    DeltaLogWriter.create(spark, loc, df1)
    (1 to 10).foreach(_ => DeltaLogWriter.append(spark, loc, df2)) // checkpoint at v10
    val log = Paths.get(loc, "_delta_log")
    (0 to 10).foreach(v => Files.deleteIfExists(log.resolve(f"$v%020d.json")))
    assert(DeltaLog.isDeltaTable(spark, loc))
    assert(DeltaLog.latestVersion(spark, loc).contains(10L))
    assert(DeltaLog.toDF(spark, loc).count() == 24)
  }

  test("checkpoints preserve the table's real protocol and metaData id") {
    val loc = TestSpark.tmpDir("delta-proto-ckpt")
    val szF0 = oneParquetFile(df1, loc, "f0.parquet")
    writeLine(loc, "00000000000000000000.json", Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["timestampNtz"],"writerFeatures":["timestampNtz"]}}""",
      metaAction().replace("\"id\":\"fixture\"", "\"id\":\"stable-table-id\""),
      s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":$szF0,"modificationTime":1,"dataChange":true}}"""))
    (1 to 10).foreach(_ => DeltaLogWriter.append(spark, loc, df2)) // checkpoint at v10
    // replay purely from the checkpoint: protocol + id must survive
    val log = Paths.get(loc, "_delta_log")
    (0 to 10).foreach(v =>
      Files.writeString(log.resolve(f"$v%020d.json"), "not json"))
    val (state, v) = DeltaLog.replayState(spark, loc, Some(10L))
    assert(v == 10L)
    assert(state.minReader == 3 && state.minWriter == 7)
    assert(state.readerFeatures == Set("timestampNtz") && state.writerFeatures == Set("timestampNtz"))
    assert(state.metaId == "stable-table-id")
  }

  test("writer gating: unsupported writer features refused; append-only tables reject overwrite") {
    val loc = TestSpark.tmpDir("delta-wgate")
    val szF0 = oneParquetFile(df1, loc, "f0.parquet")
    writeLine(loc, "00000000000000000000.json", Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["icebergCompatV2"]}}""",
      metaAction(),
      s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":$szF0,"modificationTime":1,"dataChange":true}}"""))
    intercept[UnsupportedOperationError] { DeltaLogWriter.append(spark, loc, df2) }

    val loc2 = TestSpark.tmpDir("delta-wgate2")
    val szF02 = oneParquetFile(df1, loc2, "f0.parquet")
    writeLine(loc2, "00000000000000000000.json", Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaAction(conf = Map("delta.appendOnly" -> "true")),
      s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":$szF02,"modificationTime":1,"dataChange":true}}"""))
    DeltaLogWriter.append(spark, loc2, df2) // appends still allowed
    intercept[UnsupportedOperationError] { DeltaLogWriter.overwrite(spark, loc2, df1) }
  }

  test("OPTIMIZE ZORDER on a foreign Delta table improves rectangle pruning") {
    val loc = TestSpark.tmpDir("delta-zorder")
    val grid = spark.range(0, 16384).selectExpr(
      "CAST((id * 2654435761) % 16384 % 128 AS BIGINT) AS a",
      "CAST((id * 2654435761) % 16384 / 128 AS BIGINT) AS b",
      "id").repartition(8)
    DeltaLogWriter.create(spark, loc, grid)
    val rect = "a >= 0 AND a <= 31 AND b >= 0 AND b <= 31"
    assert(DeltaLog.filesAfterPruning(spark, loc, rect) >= 6)
    DeltaLogWriter.optimizeZOrder(spark, loc, Seq("a", "b"), targetFileBytes = 32L * 1024)
    val nFiles = DeltaLog.snapshot(spark, loc).files.size
    val after = DeltaLog.filesAfterPruning(spark, loc, rect)
    assert(DeltaLog.scan(spark, loc, rect).count() == 32L * 32L)
    assert(after <= math.max(2, nFiles / 4), s"expected few of $nFiles files, got $after")
  }

  test("randomized replay matches a model across add/remove/checkpoint sequences") {
    // model-based check: apply 40 random log actions both to a hand-written
    // foreign log and to an in-memory map; snapshots must agree at every
    // version. Deterministic seed -> reproducible failures.
    val rnd = new scala.util.Random(42)
    val loc = TestSpark.tmpDir("delta-model")
    val szSeed = oneParquetFile(df1, loc, "seed.parquet")
    val model = scala.collection.mutable.LinkedHashMap[String, Long]("seed.parquet" -> 1L)
    writeLine(loc, "00000000000000000000.json", Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaAction(),
      s"""{"add":{"path":"seed.parquet","partitionValues":{},"size":$szSeed,"modificationTime":1,"dataChange":true}}"""))
    var version = 0L
    val history = scala.collection.mutable.Map[Long, Set[String]](0L -> model.keySet.toSet)
    (1 to 40).foreach { i =>
      val actions = scala.collection.mutable.ArrayBuffer.empty[String]
      // each commit: 0-2 removes of live files, 1-2 adds
      rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(3))
        .filter(_ => model.size > 1).foreach { p =>
          model.remove(p)
          actions += s"""{"remove":{"path":"$p","deletionTimestamp":$i,"dataChange":true}}"""
        }
      (0 to rnd.nextInt(2)).foreach { j =>
        val p = s"f-$i-$j.parquet"
        model(p) = i.toLong
        actions += s"""{"add":{"path":"$p","partitionValues":{},"size":$i,"modificationTime":1,"dataChange":true}}"""
      }
      version += 1
      writeLine(loc, f"$version%020d.json", actions.toSeq)
      history(version) = model.keySet.toSet
    }
    // spot-check snapshots at several versions including the latest
    (Seq(0L, 7L, 19L, 33L, version)).foreach { v =>
      val got = DeltaLog.snapshot(spark, loc, Some(v)).files.map(_.path).toSet
      assert(got == history(v), s"version $v: got $got expected ${history(v)}")
    }
  }

  test("multi-part checkpoint: sharded write, readable alone after log cleanup") {
    val loc = TestSpark.tmpDir("delta-multickpt")
    DeltaLogWriter.create(spark, loc, df1)
    (1 to 6).foreach(_ => DeltaLogWriter.append(spark, loc, df2))
    val v = DeltaLog.latestVersion(spark, loc).get
    // tiny part cap -> the (protocol + metaData + adds) actions shard
    DeltaLogWriter.writeCheckpoint(spark, loc, v, maxActionsPerPart = 3)
    val logDir = Paths.get(loc, "_delta_log")
    val partFiles = Files.list(logDir).toArray.map(_.toString)
      .filter(p => p.contains(".checkpoint.") && p.endsWith(".parquet"))
    assert(partFiles.length >= 3, s"expected sharded checkpoint, got ${partFiles.mkString(",")}")
    val lc = Files.readString(logDir.resolve("_last_checkpoint"))
    assert(lc.contains(s""""parts":${partFiles.length}"""))

    val before = DeltaLog.toDF(spark, loc).count()
    // remove EVERY JSON commit: the union of parts must reconstruct alone
    Files.list(logDir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".json")).foreach(Files.delete)
    val snap = DeltaLog.snapshot(spark, loc)
    assert(snap.version == v)
    assert(DeltaLog.toDF(spark, loc).count() == before)
    // protocol + identity survive the sharding
    val (state, _) = DeltaLog.replayState(spark, loc, None)
    assert(state.metaId != null && state.metaId.nonEmpty)
  }

  test("column mapping: logical reads, stats pruning, STRICT writes, id-mode field-id matching") {
    import org.apache.spark.sql.types.MetadataBuilder
    def mapped(name: String, id: Long) = new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", name)
      .putLong("delta.columnMapping.id", id).build()
    val logical = StructType(Seq(
      StructField("id", LongType, nullable = true, mapped("col-aaa", 1)),
      StructField("info", StructType(Seq(
        StructField("name", StringType, nullable = true, mapped("col-ccc", 3)))),
        nullable = true, mapped("col-bbb", 2))))
    val physical = StructType(Seq(
      StructField("col-aaa", LongType),
      StructField("col-bbb", StructType(Seq(StructField("col-ccc", StringType))))))

    val loc = TestSpark.tmpDir("delta-cmap")
    val d1 = spark.createDataFrame(
      java.util.List.of(Row(0L, Row("a")), Row(3L, Row("b"))), physical)
    val d2 = spark.createDataFrame(
      java.util.List.of(Row(4L, Row("c")), Row(7L, Row("d"))), physical)
    val sz1 = oneParquetFile(d1, loc, "f1.parquet")
    val sz2 = oneParquetFile(d2, loc, "f2.parquet")
    writeLine(loc, "00000000000000000000.json", Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      metaAction(logical.json, Seq.empty, Map("delta.columnMapping.mode" -> "name",
        "delta.columnMapping.maxColumnId" -> "3")),
      s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$sz1,"modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":2,\\"minValues\\":{\\"col-aaa\\":0},\\"maxValues\\":{\\"col-aaa\\":3}}"}}""",
      s"""{"add":{"path":"f2.parquet","partitionValues":{},"size":$sz2,"modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":2,\\"minValues\\":{\\"col-aaa\\":4},\\"maxValues\\":{\\"col-aaa\\":7}}"}}"""))

    val out = DeltaLog.toDF(spark, loc)
    assert(out.schema.fieldNames.toSeq == Seq("id", "info"))
    assert(out.orderBy("id").collect().map(r => (r.getLong(0), r.getStruct(1).getString(0))).toSeq ==
      Seq((0L, "a"), (3L, "b"), (4L, "c"), (7L, "d")))
    // stats were keyed by physical name in the log; pruning works on the
    // LOGICAL predicate because the snapshot remapped them
    assert(DeltaLog.filesAfterPruning(spark, loc, "id > 5") == 1)
    assert(DeltaLog.scan(spark, loc, "id > 5").collect().map(_.getLong(0)).toSeq == Seq(7L))

    // STRICT writes work since round 5: the staged files carry PHYSICAL
    // names (and field ids), so external mapped readers keep working
    val t = TxTable.forForeignDelta(spark, loc)
    t.append(DeltaLog.toDF(spark, loc).filter(col("id") === 7)
      .withColumn("id", col("id") + 100))
    val appended = DeltaLog.toDF(spark, loc)
    assert(appended.count() === 5)
    assert(appended.filter(col("id") === 107).select("info.name").collect()
      .map(_.getString(0)).toSeq == Seq("d"))
    // the new file's parquet schema uses physical names
    val newAdd = TxTable.forForeignDelta(spark, loc).snapshot.files
      .find(_.minValues.exists(_.get("id").contains("107"))).get
    val physRead = spark.read.parquet(s"$loc/${newAdd.path}")
    assert(physRead.schema.fieldNames.toSeq == Seq("col-aaa", "col-bbb"))
    assert(physRead.select(col("`col-bbb`.`col-ccc`")).collect().map(_.getString(0)).toSeq == Seq("d"))
    // DELETE (copy-on-write) round-trips through the mapped staging too
    t.delete("id = 107")
    assert(DeltaLog.toDF(spark, loc).count() === 4)

    // schema EVOLUTION mints mapping identity for the new column: fresh
    // column id + UUID physical name, maxColumnId advanced; existing
    // columns keep theirs
    t.append(
      DeltaLog.toDF(spark, loc).filter(col("id") === 0).withColumn("extra", lit(9L)),
      graft.catalog.SchemaEvolution.MERGE)
    val evolved = TxTable.forForeignDelta(spark, loc).snapshot
    assert(evolved.schema.fieldNames.toSeq == Seq("id", "info", "extra"))
    val extraF = evolved.schema("extra")
    assert(extraF.metadata.getString("delta.columnMapping.physicalName").startsWith("col-"))
    assert(extraF.metadata.getLong("delta.columnMapping.id") === 4L)
    assert(evolved.schema("id").metadata.getString("delta.columnMapping.physicalName") === "col-aaa")
    assert(evolved.properties("delta.columnMapping.maxColumnId") === "4")
    val after = DeltaLog.toDF(spark, loc)
    assert(after.count() === 5)
    // old files read the new column as null; the appended row carries it
    assert(after.filter(col("extra").isNotNull).count() === 1)
    assert(after.filter(col("extra") === 9L).select("id").collect().map(_.getLong(0)).toSeq == Seq(0L))

    // partitioned variant: partition dir and partitionValues use the
    // PHYSICAL name; the read exposes the logical partition column
    val logicalP = StructType(Seq(
      StructField("id", LongType, nullable = true, mapped("col-aaa", 1)),
      StructField("p", StringType, nullable = true, mapped("col-ppp", 2))))
    val dataOnly = StructType(Seq(StructField("col-aaa", LongType)))
    val locP = TestSpark.tmpDir("delta-cmap-part")
    val p1 = spark.createDataFrame(java.util.List.of(Row(1L), Row(2L)), dataOnly)
    val p2 = spark.createDataFrame(java.util.List.of(Row(9L)), dataOnly)
    val szP1 = oneParquetFile(p1, locP, "col-ppp=x/f1.parquet")
    val szP2 = oneParquetFile(p2, locP, "col-ppp=y/f2.parquet")
    writeLine(locP, "00000000000000000000.json", Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      metaAction(logicalP.json, Seq("p"), Map("delta.columnMapping.mode" -> "name")),
      s"""{"add":{"path":"col-ppp=x/f1.parquet","partitionValues":{"col-ppp":"x"},"size":$szP1,"modificationTime":1,"dataChange":true}}""",
      s"""{"add":{"path":"col-ppp=y/f2.parquet","partitionValues":{"col-ppp":"y"},"size":$szP2,"modificationTime":1,"dataChange":true}}"""))
    val outP = DeltaLog.toDF(spark, locP)
    assert(outP.schema.fieldNames.toSeq == Seq("id", "p"))
    assert(outP.filter(col("p") === "x").orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(outP.filter(col("p") === "y").collect().map(_.getLong(0)).toSeq == Seq(9L))
    // partition pruning via the manifest (logical keys after remap)
    assert(DeltaLog.filesAfterPruning(spark, locP, "p = 'y'") == 1)

    // id mode: columns match by parquet field id even when the FILE's
    // column names differ from the log's physical names (the mode's
    // defining semantics — renames touch only metadata)
    val idMeta = (name: String, id: Long) => new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", name)
      .putLong("delta.columnMapping.id", id).build()
    val logicalId = StructType(Seq(
      StructField("id", LongType, nullable = true, idMeta("col-aaa", 1)),
      StructField("v", StringType, nullable = true, idMeta("col-vvv", 2))))
    // file written with DIFFERENT names but matching field ids
    val fileSchema = StructType(Seq(
      StructField("old_id", LongType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 1).build()),
      StructField("old_v", StringType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 2).build())))
    val locId = TestSpark.tmpDir("delta-cmap-id")
    val idDf = spark.createDataFrame(
      java.util.List.of(Row(10L, "ten"), Row(20L, "twenty")), fileSchema)
    val szId = oneParquetFile(idDf, locId, "f1.parquet")
    writeLine(locId, "00000000000000000000.json", Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      metaAction(logicalId.json, Seq.empty, Map("delta.columnMapping.mode" -> "id",
        "delta.columnMapping.maxColumnId" -> "2")),
      s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$szId,"modificationTime":1,"dataChange":true}}"""))
    val outId = DeltaLog.toDF(spark, locId)
    assert(outId.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(outId.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((10L, "ten"), (20L, "twenty")))
    // id-mode STRICT append: new file carries field ids, reads back by id
    TxTable.forForeignDelta(spark, locId).append(
      outId.filter(col("id") === 10).withColumn("id", col("id") * 10))
    assert(DeltaLog.toDF(spark, locId).orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(10L, 20L, 100L))
  }

  test("v2 checkpoints: UUID-named manifest, sidecar actions, json form") {
    import org.apache.spark.sql.types.{ArrayType, BooleanType, IntegerType, LongType, MapType}

    def addRow(path: String, size: Long): Row =
      Row(null, null, Row(path, Map.empty[String, String], size, 0L, true, null), null)
    val ckptSchema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType)),
        StructField("format", StructType(Seq(StructField("provider", StringType))))))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        StructField("stats", StringType)))),
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType),
        StructField("modificationTime", LongType))))))
    def protoRow(features: Seq[String]): Row =
      Row(Row(3, 7, features, features), null, null, null)
    def metaRow: Row =
      Row(null, Row("v2fix", schemaString, Seq.empty[String], Map.empty[String, String],
        Row("parquet")), null, null)

    // ---- parquet manifest with INLINE adds (no sidecars) ----
    val loc = TestSpark.tmpDir("delta-v2inline")
    val sz1 = oneParquetFile(df1, loc, "d1.parquet")
    val rows = java.util.List.of(protoRow(Seq("v2Checkpoint")), metaRow, addRow("d1.parquet", sz1))
    oneParquetFile(spark.createDataFrame(rows, ckptSchema), loc,
      "_delta_log/00000000000000000003.checkpoint.80a083e8-7026-4e79-81be-64bd76c43a11.parquet")
    writeLine(loc, "_last_checkpoint_tmp", Seq.empty) // ensure log dir exists
    java.nio.file.Files.write(Paths.get(loc, "_delta_log", "_last_checkpoint"),
      """{"version":3,"size":3}""".getBytes(StandardCharsets.UTF_8))
    java.nio.file.Files.delete(Paths.get(loc, "_delta_log", "_last_checkpoint_tmp"))
    assert(DeltaLog.toDF(spark, loc).count() === 4)
    assert(DeltaLog.snapshot(spark, loc).version === 3L)

    // ---- parquet manifest whose adds live in a SIDECAR ----
    val loc2 = TestSpark.tmpDir("delta-v2side")
    val sz2 = oneParquetFile(df1, loc2, "d1.parquet")
    val sz3 = oneParquetFile(df2, loc2, "d2.parquet")
    oneParquetFile(
      spark.createDataFrame(java.util.List.of(addRow("d1.parquet", sz2), addRow("d2.parquet", sz3)), ckptSchema),
      loc2, "_delta_log/_sidecars/016ae953-37a9-438e-8683-9a9a4a79a395.parquet")
    val manifest = java.util.List.of(protoRow(Seq("v2Checkpoint")), metaRow,
      Row(null, null, null, Row("016ae953-37a9-438e-8683-9a9a4a79a395.parquet", 1L, 0L)))
    oneParquetFile(spark.createDataFrame(manifest, ckptSchema), loc2,
      "_delta_log/00000000000000000005.checkpoint.3a0d65cd-4056-49b8-937b-95f9e3ee90b5.parquet")
    java.nio.file.Files.write(Paths.get(loc2, "_delta_log", "_last_checkpoint"),
      """{"version":5,"size":4}""".getBytes(StandardCharsets.UTF_8))
    assert(DeltaLog.toDF(spark, loc2).count() === 6)

    // a json commit AFTER the checkpoint still applies on top
    writeLine(loc2, "00000000000000000006.json", Seq(
      """{"remove":{"path":"d2.parquet","deletionTimestamp":1,"dataChange":true}}"""))
    assert(DeltaLog.toDF(spark, loc2).count() === 4)

    // ---- JSON manifest with a sidecar reference ----
    val loc3 = TestSpark.tmpDir("delta-v2json")
    val sz4 = oneParquetFile(df2, loc3, "d1.parquet")
    oneParquetFile(
      spark.createDataFrame(java.util.List.of(addRow("d1.parquet", sz4)), ckptSchema),
      loc3, "_delta_log/_sidecars/7d17ac10-5cc3-401b-bd1a-9c82fa5db056.parquet")
    writeLine(loc3, "00000000000000000002.checkpoint.52212c39-df02-4d32-9c93-6e25e3109ecb.json", Seq(
      """{"checkpointMetadata":{"version":2,"tags":{}}}""",
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}""",
      metaAction(),
      """{"sidecar":{"path":"7d17ac10-5cc3-401b-bd1a-9c82fa5db056.parquet","sizeInBytes":1,"modificationTime":0}}"""))
    java.nio.file.Files.write(Paths.get(loc3, "_delta_log", "_last_checkpoint"),
      """{"version":2,"size":4}""".getBytes(StandardCharsets.UTF_8))
    assert(DeltaLog.toDF(spark, loc3).orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(4L, 5L))

    // writes on a v2Checkpoint table emit a V2 checkpoint at the interval
    // (commit 10): UUID-named manifest + sidecars, never a classic file
    val t3 = TxTable.forForeignDelta(spark, loc3)
    (3 to 10).foreach(_ => t3.append(df2))
    assert(t3.toDF.count() === 2 + 8 * 2)
    val ckptFiles = java.nio.file.Files.list(Paths.get(loc3, "_delta_log")).toArray
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filter(n => n.contains("checkpoint") && n.endsWith(".parquet"))
    assert(ckptFiles.nonEmpty, "no V2 checkpoint written at the interval")
    assert(ckptFiles.forall(_.split('.').length == 4),
      s"expected only UUID-named V2 manifests, got: ${ckptFiles.toSeq}")
    assert(java.nio.file.Files.list(Paths.get(loc3, "_delta_log", "_sidecars")).count() >= 2)
    // the V2 checkpoint alone reconstructs the table after log cleanup
    java.nio.file.Files.list(Paths.get(loc3, "_delta_log")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.toString.endsWith(".json") && !p.getFileName.toString.startsWith(".") &&
        !p.getFileName.toString.contains("checkpoint"))
      .foreach(java.nio.file.Files.delete)
    assert(DeltaLog.toDF(spark, loc3).count() === 2 + 8 * 2)
  }

  test("cleanupLogs drops pre-checkpoint commits; replay and travel behave like Delta") {
    val loc = TestSpark.tmpDir("delta-logclean")
    import spark.implicits._
    DeltaLogWriter.create(spark, loc, Seq((0L, "v0")).toDF("id", "s"))
    val t = TxTable.forForeignDelta(spark, loc)
    (1 to 12).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("id", "s")))
    // checkpoint landed at v10
    val f = DeltaLog.fs(spark, loc)
    val dir = new org.apache.hadoop.fs.Path(loc, "_delta_log")
    assert(f.listStatus(dir).exists(_.getPath.getName.contains(".checkpoint.")))

    // nothing younger than the retention horizon is touched
    assert(DeltaLogWriter.cleanupLogs(spark, loc) == 0)
    // horizon 0: everything below v10 goes
    val removed = DeltaLogWriter.cleanupLogs(spark, loc, retentionMs = 0L)
    assert(removed == 10, s"expected 10 commit jsons removed, got $removed")
    // current state replays from the checkpoint + tail commits
    assert(t.toDF.count() == 13)
    assert(TxTable.forForeignDelta(spark, loc).snapshot.version == 12L)
    // versions at/after the checkpoint still travel; earlier ones raise
    assert(TxTable.forForeignDelta(spark, loc).toDF(10L).count() == 11)
    intercept[Exception] {
      TxTable.forForeignDelta(spark, loc).toDF(3L).count()
    }
  }

  test("TableIO dispatch: foreign Delta read, strict append, overwrite") {
    val loc = TestSpark.tmpDir("delta-dispatch")
    DeltaLogWriter.create(spark, loc, df1)
    val cols = Seq(
      ColumnInfo("id", UcType.LongT, 0), ColumnInfo("str_col", UcType.StringT, 1),
      ColumnInfo("float_col", UcType.DoubleT, 2))
    val tbl = TableInfo("t", "c", "s", TableType.EXTERNAL, FileType.DELTA, cols,
      storageLocation = Some(loc))
    assert(TableIO.read(spark, tbl).count() == 4)
    val (inferred, parts) = TableIO.inferSchema(spark, FileType.DELTA, loc)
    assert(inferred.fieldNames.toSeq == Seq("id", "str_col", "float_col") && parts.isEmpty)

    TableIO.write(spark, tbl, df2, WriteMode.APPEND)
    assert(TableIO.read(spark, tbl).count() == 6)
    TableIO.write(spark, tbl, df1, WriteMode.OVERWRITE)
    assert(TableIO.read(spark, tbl).count() == 4)
    // evolution / replaceWhere on foreign Delta: ForeignDeltaWriteSpec
  }
}
