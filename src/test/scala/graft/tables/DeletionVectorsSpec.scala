package graft.tables

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.catalog.UnsupportedOperationError

/** Deletion vectors (PROTOCOL.md "Deletion Vectors"): codec-level
  * round-trips of the published formats (Z85, portable RoaringBitmapArray,
  * the framed DV file), merge-on-read DELETE end-to-end through the Delta
  * log, and hand-crafted foreign logs shaped like what delta-rs /
  * Delta-Spark emit (path and inline storage, protocol gating, checkpoint
  * survival).
  */
class DeletionVectorsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import DeletionVectors._

  // ---- codecs ----

  test("z85 encodes the ZeroMQ spec test vector") {
    val bytes = Array(0x86, 0x4f, 0xd2, 0x6f, 0xb5, 0x59, 0xf7, 0x5b).map(_.toByte)
    assert(z85Encode(bytes) === "HelloWorld")
    assert(z85Decode("HelloWorld").toSeq === bytes.toSeq)
  }

  test("z85 uuid round trip") {
    val u = java.util.UUID.randomUUID()
    val enc = encodeUUID(u)
    assert(enc.length === 20)
    assert(decodeUUID(enc) === u)
  }

  test("padded data codec recovers arbitrary lengths") {
    for (n <- Seq(0, 1, 2, 3, 4, 5, 17)) {
      val data = Array.tabulate(n)(i => (i * 37 + 11).toByte)
      assert(decodeData(encodeData(data), n).toSeq === data.toSeq)
    }
  }

  test("bitmap64 round trips values across the 32-bit boundary") {
    val values = Seq(0L, 1L, 2L, 100L, 65536L, (1L << 32) - 1, 1L << 32, (1L << 32) + 7, (1L << 40) + 3)
    val bm = Bitmap64(values)
    assert(bm.cardinality === values.size.toLong)
    val back = Bitmap64.deserialize(bm.serialize)
    values.foreach(v => assert(back.contains(v), s"missing $v"))
    assert(!back.contains(3L) && !back.contains(1L << 33))
    assert(back.cardinality === values.size.toLong)
  }

  test("bitmap64 or() merges and native magic is refused") {
    val a = Bitmap64(Seq(1L, 2L))
    a.or(Bitmap64(Seq(2L, (1L << 32) + 5)))
    assert(a.cardinality === 3L)
    val nat = java.nio.ByteBuffer.allocate(12).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(NativeMagic).putLong(0L).array()
    assertThrows[UnsupportedOperationError](Bitmap64.deserialize(nat))
  }

  test("dv file round trips multiple DVs with CRC verification") {
    val loc = TestSpark.tmpDir("dvfile")
    val bms = Seq(Bitmap64(Seq(0L, 5L, 9L)), Bitmap64(Seq(2L)), Bitmap64(1000L to 2000L))
    val descs = writeDvFile(spark, loc, bms)
    assert(descs.map(_.cardinality) === Seq(3L, 1L, 1001L))
    assert(descs.forall(_.storageType == "u"))
    descs.zip(bms).foreach { case (d, bm) =>
      val back = readBitmap(spark, loc, d)
      assert(back.cardinality === bm.cardinality)
      assert(back.contains(if (d.cardinality == 1) 2L else 5L) || d.cardinality == 1001L)
    }
    // corrupt one byte of the middle DV's data -> OUR CRC check fails
    // (drop hadoop's .crc sidecar so its own checksum layer doesn't fire first)
    val p = absolutePath(loc, descs(1))
    val bytes = Files.readAllBytes(Paths.get(p.toUri.getPath))
    bytes(descs(1).offset.get + 4 + 2) = (bytes(descs(1).offset.get + 4 + 2) ^ 0x7f).toByte
    Files.write(Paths.get(p.toUri.getPath), bytes)
    val sidecar = Paths.get(p.getParent.toUri.getPath, "." + p.getName + ".crc")
    Files.deleteIfExists(sidecar)
    assertThrows[IllegalArgumentException](readBitmap(spark, loc, descs(1)))
    // the untouched first DV still reads
    assert(readBitmap(spark, loc, descs(0)).cardinality === 3L)
  }

  // ---- merge-on-read DELETE end-to-end ----

  private def sample: DataFrame =
    (0 until 100).map(i => (i.toLong, s"s$i", i % 7)).toDF("id", "s", "grp")

  test("DV delete: selective delete commits bitmaps, not rewrites") {
    val loc = TestSpark.tmpDir("dvdel")
    DeltaLogWriter.create(spark, loc, sample.repartition(4),
      properties = Map("delta.enableDeletionVectors" -> "true"))
    val t = TxTable.forForeignDelta(spark, loc)
    val filesBefore = t.snapshot.files.map(_.path).toSet

    t.delete("id % 10 = 3")
    val snap = t.snapshot
    // merge-on-read: the same physical files remain active, now with DVs
    assert(snap.files.map(_.path).toSet === filesBefore)
    assert(snap.files.flatMap(_.deletionVector).map(_.cardinality).sum === 10L)
    assert(t.toDF.count() === 90L)
    assert(t.toDF.filter(col("id") % 10 === 3).count() === 0L)
    // time travel to before the delete still sees every row
    assert(t.toDF(0L).count() === 100L)

    // second delete merges into the existing DVs
    t.delete("id < 20")
    assert(t.snapshot.files.map(_.path).toSet === filesBefore)
    assert(t.toDF.count() === 80L * 90L / 100L + 0L) // 100 - 10 - (20 - 2 overlaps) = 72
    assert(t.toDF.count() === 72L)
    assert(t.toDF.agg(sum("id")).as[Long].head() ===
      (0L until 100L).filter(i => i % 10 != 3 && i >= 20).sum)

    // protocol was upgraded to table features with deletionVectors listed
    val logTxt = Files.list(Paths.get(loc, "_delta_log")).toArray
      .map(_.asInstanceOf[java.nio.file.Path]).filter(_.toString.endsWith(".json")).sorted
      .map(p => new String(Files.readAllBytes(p), StandardCharsets.UTF_8)).mkString("\n")
    assert(logTxt.contains(""""minReaderVersion":3"""))
    assert(logTxt.contains(""""minWriterVersion":7"""))
    assert(logTxt.contains("deletionVectors"))
    assert(logTxt.contains("""\"tightBounds\":false"""))
  }

  test("DV delete that empties a file removes it outright") {
    val loc = TestSpark.tmpDir("dvgone")
    // partitioned by grp: deleting all of grp=0 must drop its files, no DV
    val df = (0 until 50).map(i => (i.toLong, i % 2)).toDF("id", "grp")
    DeltaLogWriter.create(spark, loc, df, partitionColumns = Seq("grp"),
      properties = Map("delta.enableDeletionVectors" -> "true"))
    val t = TxTable.forForeignDelta(spark, loc)
    val nFiles = t.snapshot.files.size
    t.delete("grp = 0")
    val snap = t.snapshot
    assert(snap.files.size < nFiles)
    assert(snap.files.forall(_.deletionVector.isEmpty))
    assert(t.toDF.count() === 25L)
  }

  test("DV delete on a partitioned table and copy-on-write interplay") {
    val loc = TestSpark.tmpDir("dvpart")
    DeltaLogWriter.create(spark, loc, sample, partitionColumns = Seq("grp"),
      properties = Map("delta.enableDeletionVectors" -> "true"))
    val t = TxTable.forForeignDelta(spark, loc)
    // single-row delete: its file keeps other rows, so it MUST get a DV
    t.delete("grp = 2 AND id = 2")
    val expected = (0 until 100).filterNot(_ == 2)
    assert(t.toDF.agg(sum("id")).as[Long].head() === expected.map(_.toLong).sum)
    // files in other partitions untouched (no DV)
    assert(t.snapshot.files.filter(_.partitionValues.get("grp").contains("2"))
      .exists(_.deletionVector.isDefined))
    assert(t.snapshot.files.filterNot(_.partitionValues.get("grp").contains("2"))
      .forall(_.deletionVector.isEmpty))

    // UPDATE is merge-on-read too. This one touches EVERY live row of the
    // grp=2 files, so they come out fully-deleted — removed outright (no
    // lingering DV) with the new versions appended; the id=2 delete holds
    t.update("grp = 2", Map("s" -> "'upd'"))
    assert(t.toDF.agg(sum("id")).as[Long].head() === expected.map(_.toLong).sum)
    assert(t.toDF.filter(col("grp") === 2 && col("s") =!= "upd").count() === 0L)
    assert(t.toDF.filter(col("id") === 2).count() === 0L)

    // a full rewrite (OPTIMIZE compaction) materializes the merge and
    // drops every DV; nothing deleted comes back
    t.optimize()
    assert(t.snapshot.files.forall(_.deletionVector.isEmpty))
    assert(t.toDF.agg(sum("id")).as[Long].head() === expected.map(_.toLong).sum)
    assert(t.toDF.filter(col("grp") === 2 && col("s") =!= "upd").count() === 0L)
  }

  test("DV delete on a partition value a path URI escapes") {
    val loc = TestSpark.tmpDir("dvspace")
    // the "a b" directory is p=a%20b in _metadata.file_path
    val df = (0 until 20).map(i => (i.toLong, if (i % 2 == 1) "a b" else "c")).toDF("id", "p")
    DeltaLogWriter.create(spark, loc, df, partitionColumns = Seq("p"),
      properties = Map("delta.enableDeletionVectors" -> "true"))
    val client = new graft.client.LakehouseClient(spark)
    client.createCatalog("dvspace"); client.createSchema("dvspace", "s")
    client.registerAsTable("dvspace", "s", "t", graft.catalog.FileType.DELTA, loc)
    val t = TxTable.forForeignDelta(spark, loc)
    t.delete("id = 1")
    assert(t.snapshot.files.exists(_.deletionVector.isDefined))
    assert(t.toDF.count() === 19L)
    assert(spark.sql("SELECT id FROM dvspace.s.t").collect().length === 19)
    assert(spark.sql("SELECT id FROM dvspace.s.t WHERE p = 'a b'").collect()
      .map(_.getLong(0)).sorted.toSeq === (3L to 19L by 2L))
  }

  test("DVs survive checkpoints (written and replayed)") {
    val loc = TestSpark.tmpDir("dvckpt")
    DeltaLogWriter.create(spark, loc, sample.repartition(3),
      properties = Map("delta.enableDeletionVectors" -> "true"))
    val t = TxTable.forForeignDelta(spark, loc)
    t.delete("id >= 90")
    DeltaLogWriter.writeCheckpoint(spark, loc, t.version, 100000)
    // drop the JSON commits: the checkpoint alone must reconstruct the DVs
    Files.list(Paths.get(loc, "_delta_log")).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.toString.endsWith(".json") && !p.getFileName.toString.startsWith("."))
      .foreach(Files.delete)
    val back = DeltaLog.toDF(spark, loc)
    assert(back.count() === 90L)
    assert(back.agg(max("id")).as[Long].head() === 89L)
  }

  test("foreign log with a path-stored DV and protocol 3/7 reads correctly") {
    val loc = TestSpark.tmpDir("dvforeign")
    // stage one parquet data file the way a foreign writer would
    val df = (0 until 20).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val stage = TestSpark.tmpDir("dvforeign-stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = Files.list(Paths.get(stage)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.createDirectories(Paths.get(loc))
    Files.move(part, Paths.get(loc, "data-0.parquet"))
    val size = Files.size(Paths.get(loc, "data-0.parquet"))
    // DV via our writer (same bytes a conforming engine would produce)
    val desc = writeDvFile(spark, loc, Seq(Bitmap64(Seq(1L, 3L, 5L, 7L)))).head
    val schemaJson = df.schema.json.replace("\"", "\\\"")
    val dvJson = s"""{"storageType":"u","pathOrInlineDv":"${desc.pathOrInlineDv}",""" +
      s""""offset":${desc.offset.get},"sizeInBytes":${desc.sizeInBytes},"cardinality":4}"""
    val log = Paths.get(loc, "_delta_log")
    Files.createDirectories(log)
    Files.write(log.resolve("00000000000000000000.json"), Seq(
      s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{"delta.enableDeletionVectors":"true"}}}""",
      s"""{"add":{"path":"data-0.parquet","partitionValues":{},"size":$size,"modificationTime":0,"dataChange":true,"deletionVector":$dvJson}}"""
    ).mkString("\n").getBytes(StandardCharsets.UTF_8))

    val back = DeltaLog.toDF(spark, loc)
    assert(back.count() === 16L)
    assert(back.filter(col("id").isin(1, 3, 5, 7)).count() === 0L)

    // and an inline variant of the same bitmap
    val data = Bitmap64(Seq(0L, 2L)).serialize
    val inline = s"""{"storageType":"i","pathOrInlineDv":"${encodeData(data)}",""" +
      s""""sizeInBytes":${data.length},"cardinality":2}"""
    Files.write(log.resolve("00000000000000000001.json"), Seq(
      s"""{"remove":{"path":"data-0.parquet","deletionTimestamp":1,"dataChange":true}}""",
      s"""{"add":{"path":"data-0.parquet","partitionValues":{},"size":$size,"modificationTime":0,"dataChange":true,"deletionVector":$inline}}"""
    ).mkString("\n").getBytes(StandardCharsets.UTF_8))
    assert(DeltaLog.toDF(spark, loc).count() === 18L)
    // live rows under 3 after the inline DV {0,2}: just id=1
    assert(DeltaLog.toDF(spark, loc).filter(col("id") < 3).count() === 1L)
  }

  test("DV update: bitmap for old rows, one small append for new ones") {
    val loc = TestSpark.tmpDir("dvupd")
    DeltaLogWriter.create(spark, loc, sample.coalesce(1),
      properties = Map("delta.enableDeletionVectors" -> "true"))
    val t = TxTable.forForeignDelta(spark, loc)
    val origPath = t.snapshot.files.head.path
    t.update("id >= 95", Map("s" -> "concat('u', s)", "id" -> "id + 1000"))
    val snap = t.snapshot
    // the original file survives with a 5-row DV; the update landed as a
    // separate small file
    val orig = snap.files.find(_.path == origPath).get
    assert(orig.deletionVector.map(_.cardinality) === Some(5L))
    assert(snap.files.size === 2)
    assert(t.toDF.count() === 100L)
    assert(t.toDF.filter(col("id") >= 1095).count() === 5L)
    // SET right-hand sides read the ORIGINAL row (id still original in s)
    assert(t.toDF.filter(col("id") === 1099).select("s").as[String].head() === "us99")
    // time travel: before the update everything is original
    assert(t.toDF(0L).filter(col("id") >= 1000).count() === 0L)

    // OPTIMIZE materializes the merge: DV gone, data unchanged
    t.optimize()
    assert(t.snapshot.files.forall(_.deletionVector.isEmpty))
    assert(t.toDF.count() === 100L)
    assert(t.toDF.filter(col("id") >= 95 && col("id") < 100).count() === 0L)
  }

  test("DV merge: matched rows join DVs, only produced rows are written") {
    val loc = TestSpark.tmpDir("dvmerge")
    val target = (0 until 40).map(i => (i.toLong, s"v$i", i % 4)).toDF("id", "v", "grp")
    DeltaLogWriter.create(spark, loc, target.repartition(2),
      properties = Map("delta.enableDeletionVectors" -> "true"))
    val t = TxTable.forForeignDelta(spark, loc)
    val origPaths = t.snapshot.files.map(_.path).toSet

    // source: updates ids 0-9 (matched), deletes ids 10-14 (matched),
    // inserts ids 100-104 (not matched)
    val source = ((0 until 15) ++ (100 until 105)).map(i => (i.toLong, s"s$i"))
      .toDF("sid", "sv")
    t.merge(source, "t.id = s.sid", sourceAlias = "s", targetAlias = "t")
      .whenMatchedDelete(Some("s.sid >= 10"))
      .whenMatchedUpdate(Map("v" -> "s.sv"))
      .whenNotMatchedInsert(Map("id" -> "s.sid", "v" -> "s.sv", "grp" -> "-1"))
      .execute()

    val out = t.toDF
    assert(out.count() === 40L - 15L + 10L + 5L) // 40 - matched(15 old gone) + 10 updated + 5 inserted
    assert(out.filter(col("id") < 10 && col("v").startsWith("s")).count() === 10L)
    assert(out.filter(col("id") >= 10 && col("id") < 15).count() === 0L)
    assert(out.filter(col("grp") === -1).count() === 5L)
    assert(out.filter(col("id") >= 15 && col("id") < 40 && !col("v").startsWith("v")).count() === 0L)

    // merge-on-read shape: the original files survive (with DVs for the 15
    // matched rows), new files carry only the 15 produced rows
    val snap = t.snapshot
    assert(origPaths.subsetOf(snap.files.map(_.path).toSet))
    assert(snap.files.filter(f => origPaths.contains(f.path))
      .flatMap(_.deletionVector).map(_.cardinality).sum === 15L)
    // time travel shows the pre-merge table
    assert(t.toDF(0L).count() === 40L)

    // cardinality violation still raises through the DV path
    val dupSource = Seq((0L, "x"), (0L, "y")).toDF("sid", "sv")
    intercept[graft.catalog.UnsupportedOperationError] {
      t.merge(dupSource, "t.id = s.sid", sourceAlias = "s", targetAlias = "t")
        .whenMatchedUpdate(Map("v" -> "s.sv"))
        .execute()
    }
  }

  test("distributed DV write: executor-written .bin files, many touched files, merge with prior DVs") {
    val loc = TestSpark.tmpDir("dv-dist") + "/t"
    // 8 files, deletes spread across ALL of them — the write path packs
    // each task's bitmaps into its own .bin (no driver bitmap funnel; the
    // planner returns descriptors only, which this test round-trips)
    val df = spark.range(0, 800).toDF("id")
      .repartitionByRange(8, col("id")) // contiguous ranges: every file mixes parities
    DeltaLogWriter.create(spark, loc, df,
      properties = Map("delta.enableDeletionVectors" -> "true"))
    val t = TxTable.forForeignDelta(spark, loc)
    t.delete("id % 2 = 0")
    val snap1 = DeltaLog.snapshot(spark, loc)
    val dvs1 = snap1.files.flatMap(_.deletionVector)
    assert(dvs1.nonEmpty)
    assert(dvs1.map(_.cardinality).sum == 400L)
    // every descriptor resolves to a readable on-disk .bin with a valid CRC
    dvs1.foreach { d =>
      assert(d.storageType == "u")
      assert(DeletionVectors.readBitmap(spark, loc, d).cardinality == d.cardinality)
    }
    // second delete ORs into the existing bitmaps ON THE EXECUTORS
    t.delete("id % 3 = 0")
    val expected = (0L until 800L).filterNot(i => i % 2 == 0 || i % 3 == 0)
    assert(DeltaLog.toDF(spark, loc).select("id").collect().map(_.getLong(0)).sorted
      === expected.toArray)
    val dvs2 = DeltaLog.snapshot(spark, loc).files.flatMap(_.deletionVector)
    assert(dvs2.map(_.cardinality).sum == (800 - expected.size).toLong)
  }

  test("randomized DV ops match an in-memory row model at every step") {
    // model-based: 25 random delete/update/append/optimize/checkpoint ops
    // through the REAL TxTable API against an in-memory row map; the table
    // contents must equal the model after every op. Deterministic seed.
    val rnd = new scala.util.Random(7)
    val loc = TestSpark.tmpDir("dvmodel")
    val model = scala.collection.mutable.LinkedHashMap[Long, (String, Int)]()
    (0L until 200L).foreach(i => model(i) = (s"s$i", (i % 5).toInt))
    def modelDf = model.toSeq.map { case (id, (s, g)) => (id, s, g) }.toDF("id", "s", "grp")
    DeltaLogWriter.create(spark, loc, modelDf.repartition(3),
      properties = Map("delta.enableDeletionVectors" -> "true"))
    val t = TxTable.forForeignDelta(spark, loc)
    var nextId = 200L

    def check(step: String): Unit = {
      val got = t.toDF.collect().map(r => (r.getLong(0), (r.getString(1), r.getInt(2)))).toMap
      assert(got == model.toMap, s"mismatch after $step")
    }

    (1 to 25).foreach { i =>
      rnd.nextInt(5) match {
        case 0 =>
          val m = 2 + rnd.nextInt(8); val r = rnd.nextInt(m)
          t.delete(s"id % $m = $r")
          model.filterInPlace { case (id, _) => id % m != r }
          check(s"$i: delete id % $m = $r")
        case 1 =>
          val g = rnd.nextInt(5)
          t.update(s"grp = $g", Map("s" -> "concat(s, '!')"))
          model.mapValuesInPlace { case (_, (s, grp)) => if (grp == g) (s + "!", grp) else (s, grp) }
          check(s"$i: update grp=$g")
        case 2 =>
          val fresh = (nextId until nextId + 10).map(id => (id, s"s$id", (id % 5).toInt))
          t.append(fresh.toDF("id", "s", "grp"))
          fresh.foreach { case (id, s, g) => model(id) = (s, g) }
          nextId += 10
          check(s"$i: append")
        case 3 =>
          t.optimize()
          assert(t.snapshot.files.forall(_.deletionVector.isEmpty))
          check(s"$i: optimize")
        case 4 =>
          DeltaLogWriter.writeCheckpoint(spark, loc, t.version, 100000)
          check(s"$i: checkpoint")
      }
    }

    // checkpoint, drop the JSON tail: the state must survive replay from
    // the checkpoint alone (DVs included)
    DeltaLogWriter.writeCheckpoint(spark, loc, t.version, 100000)
    Files.list(Paths.get(loc, "_delta_log")).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.toString.endsWith(".json") && !p.getFileName.toString.startsWith("."))
      .foreach(Files.delete)
    val got = DeltaLog.toDF(spark, loc).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getInt(2)))).toMap
    assert(got == model.toMap, "mismatch after log cleanup replay")
  }

  test("DVs on a column-mapped table: delete and update merge-on-read") {
    import org.apache.spark.sql.types.{LongType, MetadataBuilder, StringType, StructField, StructType}
    import org.apache.spark.sql.Row
    def mapped(name: String, id: Long) = new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", name)
      .putLong("delta.columnMapping.id", id).build()
    val logical = StructType(Seq(
      StructField("id", LongType, nullable = true, mapped("col-xx", 1)),
      StructField("v", StringType, nullable = true, mapped("col-yy", 2))))
    val physical = StructType(Seq(StructField("col-xx", LongType), StructField("col-yy", StringType)))
    // foreign-style mapped fixture with DVs enabled
    val loc = TestSpark.tmpDir("dvmap")
    val stage = TestSpark.tmpDir("dvmap-stage")
    val data = spark.createDataFrame(
      java.util.Arrays.asList((0L until 30L).map(i => Row(i, s"v$i")): _*), physical)
    data.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = Files.list(Paths.get(stage)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.createDirectories(Paths.get(loc))
    Files.move(part, Paths.get(loc, "data-0.parquet"))
    val size = Files.size(Paths.get(loc, "data-0.parquet"))
    val schemaJson = logical.json.replace("\\", "\\\\").replace("\"", "\\\"")
    val log = Paths.get(loc, "_delta_log")
    Files.createDirectories(log)
    Files.write(log.resolve("00000000000000000000.json"), Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"2","delta.enableDeletionVectors":"true"}}}""",
      s"""{"add":{"path":"data-0.parquet","partitionValues":{},"size":$size,"modificationTime":0,"dataChange":true,"stats":"{\\"numRecords\\":30}"}}"""
    ).mkString("\n").getBytes(StandardCharsets.UTF_8))

    val t = TxTable.forForeignDelta(spark, loc)
    t.delete("id % 3 = 0")     // 10 rows -> DV on the mapped file
    assert(t.toDF.count() === 20L)
    assert(t.snapshot.files.head.deletionVector.map(_.cardinality) === Some(10L))
    t.update("id = 1", Map("v" -> "'one'"))
    assert(t.toDF.filter(col("v") === "one").count() === 1L)
    assert(t.toDF.count() === 20L)
    // the update's appended file is physical-named
    val newAdd = t.snapshot.files.find(_.path != "data-0.parquet").get
    val phys = spark.read.parquet(s"$loc/${newAdd.path}")
    assert(phys.schema.fieldNames.toSeq == Seq("col-xx", "col-yy"))
  }

  test("vacuum keeps live DV files and reclaims superseded ones") {
    val loc = TestSpark.tmpDir("dvvac")
    DeltaLogWriter.create(spark, loc, sample.coalesce(1),
      properties = Map("delta.enableDeletionVectors" -> "true"))
    val t = TxTable.forForeignDelta(spark, loc)
    t.delete("id < 5")          // DV file #1
    t.delete("id >= 95")        // DV file #2 supersedes #1 (merged bitmap)
    def binCount = Files.list(Paths.get(loc)).toArray
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .count(_.endsWith(".bin"))
    assert(binCount === 2)
    // retain only the latest snapshot: DV #1 is unreferenced -> reclaimed
    val n = t.vacuum(retainVersions = 1, retentionMs = 0L, force = true)
    assert(n >= 1)
    assert(binCount === 1)
    assert(t.toDF.count() === 90L)
    // the surviving DV still applies after vacuum
    assert(t.toDF.filter(col("id") < 5 || col("id") >= 95).count() === 0L)
  }

  test("tables WITHOUT the property keep copy-on-write deletes") {
    val loc = TestSpark.tmpDir("dvcow")
    DeltaLogWriter.create(spark, loc, sample.repartition(2))
    val t = TxTable.forForeignDelta(spark, loc)
    t.delete("id < 10")
    assert(t.toDF.count() === 90L)
    assert(t.snapshot.files.forall(_.deletionVector.isEmpty))

    // SET TBLPROPERTIES flips the same table to merge-on-read
    t.setProperties(Map("delta.enableDeletionVectors" -> "true"))
    t.delete("id >= 90")
    assert(t.toDF.count() === 80L)
    assert(t.snapshot.files.exists(_.deletionVector.isDefined))
    // and unsetting reverts to copy-on-write for the NEXT delete
    t.setProperties(Map("delta.enableDeletionVectors" -> null))
    assert(!t.snapshot.properties.contains("delta.enableDeletionVectors"))
  }
}
