package graft.tables

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.catalog.UnsupportedOperationError

/** Apache Iceberg interop (spec v1/v2): round-trips through this
  * library's own minimal writer AND hand-crafted foreign metadata
  * exercising corners the writer never emits (v1 top-level schema,
  * position-delete manifests, equality-delete application with
  * sequence-number scoping, snapshot travel).
  */
class IcebergSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def df1: DataFrame =
    Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5)).toDF("id", "s", "v")
  private def df2: DataFrame =
    Seq((4L, "d", 4.5), (5L, "e", 5.5)).toDF("id", "s", "v")

  test("writer round-trip: create + append, read back, snapshot travel") {
    val loc = TestSpark.tmpDir("ice-rt") + "/t"
    IcebergWriter.create(spark, loc, df1)
    assert(IcebergLog.isIcebergTable(spark, loc))
    assert(IcebergLog.toDF(spark, loc).count() == 3)
    IcebergWriter.append(spark, loc, df2)
    val full = IcebergLog.toDF(spark, loc)
    assert(full.count() == 5)
    assert(full.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // snapshot time travel: the first snapshot still reads the old state
    val snaps = IcebergLog.history(spark, loc)
    assert(snaps.size == 2)
    assert(IcebergLog.toDF(spark, loc, Some(snaps.head)).count() == 3)
    // timestamp travel resolves through the snapshot log
    val firstId = IcebergLog.snapshotIdAtTimestamp(spark, loc, System.currentTimeMillis())
    assert(firstId == snaps.last)
  }

  test("schema bridge: every primitive + nested types round-trip") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("b", BooleanType), StructField("i", IntegerType),
      StructField("l", LongType), StructField("f", FloatType),
      StructField("d", DoubleType), StructField("dt", DateType),
      StructField("ts", TimestampType), StructField("ntz", TimestampNTZType),
      StructField("s", StringType), StructField("bin", BinaryType),
      StructField("dec", DecimalType(12, 2)),
      StructField("arr", ArrayType(LongType)),
      StructField("st", StructType(Seq(StructField("x", LongType), StructField("y", StringType)))),
      StructField("m", MapType(StringType, LongType))))
    val (json, lastId, topIds) = IcebergWriter.icebergSchemaJson(schema)
    val back = IcebergLog.structOf(org.json4s.jackson.JsonMethods.parse(json))
    assert(back.fieldNames.toSeq == schema.fieldNames.toSeq)
    assert(back("dec").dataType == DecimalType(12, 2))
    assert(back("ts").dataType == TimestampType)   // timestamptz
    assert(back("ntz").dataType == TimestampNTZType) // timestamp
    assert(back("arr").dataType.isInstanceOf[ArrayType])
    assert(back("st").dataType.isInstanceOf[StructType])
    assert(back("m").dataType.isInstanceOf[MapType])
    assert(lastId > schema.fields.length) // nested fields got ids too
    assert(topIds.keySet == schema.fieldNames.toSet)
  }

  test("foreign v1-shaped metadata (top-level schema field) reads") {
    val loc = TestSpark.tmpDir("ice-v1") + "/t"
    IcebergWriter.create(spark, loc, df1)
    // rewrite the metadata into the v1 shape: schema at top level, no
    // schemas list, no sequence numbers
    val f = IcebergLog.fs(spark, loc)
    val meta = IcebergLog.readJson(f, IcebergLog.currentMetadataPath(f, loc))
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val schemaJson = (meta \ "schemas").extract[Seq[JValue]].head
    val v1 = JObject(
      "format-version" -> JInt(1),
      "table-uuid" -> (meta \ "table-uuid"),
      "location" -> JString(loc),
      "last-updated-ms" -> JLong(1L),
      "last-column-id" -> (meta \ "last-column-id"),
      "schema" -> schemaJson,
      "partition-spec" -> JArray(Nil),
      "properties" -> JObject(Nil),
      "current-snapshot-id" -> (meta \ "current-snapshot-id"),
      "snapshots" -> (meta \ "snapshots"))
    val out = f.create(new Path(loc, "metadata/v2.metadata.json"), true)
    try out.write(JsonMethods.compact(JsonMethods.render(v1)).getBytes("UTF-8"))
    finally out.close()
    val hint = f.create(new Path(loc, "metadata/version-hint.text"), true)
    try hint.write("2".getBytes("UTF-8")) finally hint.close()
    assert(IcebergLog.toDF(spark, loc).count() == 3)
  }

  test("position deletes apply merge-on-read; id-less equality manifests refuse") {
    val loc = TestSpark.tmpDir("ice-posdel") + "/t"
    IcebergWriter.create(spark, loc, df1.repartition(1).sortWithinPartitions("id"))
    val f = IcebergLog.fs(spark, loc)

    // the single data file this created
    val meta = IcebergLog.readJson(f, IcebergLog.currentMetadataPath(f, loc))
    val snap = IcebergLog.snapshots(meta).head
    val (data, _, _) = IcebergLog.liveFiles(spark, loc, meta, snap)
    assert(data.size == 1)
    val dataPath = IcebergLog.resolve(loc, data.head.path).toString

    // a position-delete parquet naming (file, pos=1) — kills id=2
    val delDir = TestSpark.tmpDir("ice-posdel-files")
    val delFile = s"$delDir/del-0.parquet"
    Seq((dataPath, 1L)).toDF("file_path", "pos")
      .coalesce(1).write.mode("overwrite").parquet(delDir + "/stage")
    val stage = f.listStatus(new Path(delDir + "/stage")).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    f.rename(stage, new Path(delFile))

    // hand-written delete manifest (content=1) + extended manifest list,
    // committed as a new metadata version — the delta-rs-equivalent shape
    // an external engine's DELETE produces
    val entrySchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |{"name":"content","type":"int"},
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"}]}}
        |]}""".stripMargin.replaceAll("\n", ""))
    val dfr = new GenericData.Record(entrySchema.getField("data_file").schema())
    dfr.put("content", 1)
    dfr.put("file_path", delFile)
    dfr.put("file_format", "PARQUET")
    dfr.put("record_count", 1L)
    dfr.put("file_size_in_bytes", f.getFileStatus(new Path(delFile)).getLen)
    val entry = new GenericData.Record(entrySchema)
    entry.put("status", 1)
    entry.put("data_file", dfr)
    val delManifest = new Path(loc, "metadata/del-m0.avro")
    writeAvroFile(f, delManifest, entrySchema, Seq(entry))

    // manifest list = prior manifests + the delete manifest (content=1)
    val mlSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"},
        |{"name":"content","type":"int"},
        |{"name":"added_snapshot_id","type":"long"}
        |]}""".stripMargin.replaceAll("\n", ""))
    val prior = IcebergLog.readAvro(f, IcebergLog.resolve(loc, snap.manifestList))
    def mlRec(path: String, content: Int): GenericRecord = {
      val r = new GenericData.Record(mlSchema)
      r.put("manifest_path", path)
      r.put("manifest_length", f.getFileStatus(new Path(path)).getLen)
      r.put("partition_spec_id", 0)
      r.put("content", content)
      r.put("added_snapshot_id", 7L)
      r
    }
    val mlRecs = prior.map(p => mlRec(p.get("manifest_path").toString,
        Option(p.get("content")).map(_.asInstanceOf[Number].intValue).getOrElse(0))) :+
      mlRec(delManifest.toString, 1)
    val ml2 = new Path(loc, "metadata/snap-7.avro")
    writeAvroFile(f, ml2, mlSchema, mlRecs)

    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val newSnap = JObject(
      "snapshot-id" -> JLong(7L), "timestamp-ms" -> JLong(System.currentTimeMillis()),
      "summary" -> JObject("operation" -> JString("delete")),
      "manifest-list" -> JString(ml2.toString), "schema-id" -> JInt(0))
    val meta2 = meta.transformField {
      case ("snapshots", JArray(xs)) => ("snapshots", JArray(xs :+ newSnap))
      case ("current-snapshot-id", _) => ("current-snapshot-id", JLong(7L))
    }
    val out = f.create(new Path(loc, "metadata/v2.metadata.json"), true)
    try out.write(JsonMethods.compact(JsonMethods.render(meta2)).getBytes("UTF-8"))
    finally out.close()
    val hint = f.create(new Path(loc, "metadata/version-hint.text"), true)
    try hint.write("2".getBytes("UTF-8")) finally hint.close()

    val after = IcebergLog.toDF(spark, loc)
    assert(after.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // the pre-delete snapshot still reads all rows (time travel)
    assert(IcebergLog.toDF(spark, loc, Some(snap.snapshotId)).count() == 3)

    // an equality delete whose manifest carries NO equality_ids is
    // malformed — refused with a typed error (well-formed ones apply;
    // see the equality-delete round-trip test)
    val eqEntry = new GenericData.Record(entrySchema)
    val eqDfr = new GenericData.Record(entrySchema.getField("data_file").schema())
    eqDfr.put("content", 2)
    eqDfr.put("file_path", delFile)
    eqDfr.put("file_format", "PARQUET")
    eqDfr.put("record_count", 1L)
    eqDfr.put("file_size_in_bytes", 1L)
    eqEntry.put("status", 1)
    eqEntry.put("data_file", eqDfr)
    val eqManifest = new Path(loc, "metadata/eq-m0.avro")
    writeAvroFile(f, eqManifest, entrySchema, Seq(eqEntry))
    val ml3 = new Path(loc, "metadata/snap-8.avro")
    writeAvroFile(f, ml3, mlSchema, mlRecs :+ mlRec(eqManifest.toString, 2))
    val newSnap8 = JObject(
      "snapshot-id" -> JLong(8L), "timestamp-ms" -> JLong(System.currentTimeMillis()),
      "summary" -> JObject("operation" -> JString("overwrite")),
      "manifest-list" -> JString(ml3.toString), "schema-id" -> JInt(0))
    val meta3 = meta2.transformField {
      case ("snapshots", JArray(xs)) => ("snapshots", JArray(xs :+ newSnap8))
      case ("current-snapshot-id", _) => ("current-snapshot-id", JLong(8L))
    }
    val out3 = f.create(new Path(loc, "metadata/v3.metadata.json"), true)
    try out3.write(JsonMethods.compact(JsonMethods.render(meta3)).getBytes("UTF-8"))
    finally out3.close()
    val hint3 = f.create(new Path(loc, "metadata/version-hint.text"), true)
    try hint3.write("3".getBytes("UTF-8")) finally hint3.close()
    intercept[UnsupportedOperationError] { IcebergLog.toDF(spark, loc).count() }
  }

  test("equality deletes: write, apply with sequence scoping, re-insert survives") {
    val loc = TestSpark.tmpDir("ice-eqdel") + "/t"
    IcebergWriter.create(spark, loc, df1) // ids 1,2,3 @ seq 1

    // delete ids 2 and 3 by key — no data file read or rewritten
    val n = IcebergWriter.equalityDelete(spark, loc, Seq("id"),
      Seq(2L, 3L).toDF("id")) // seq 2
    assert(n == 2L)
    assert(IcebergLog.toDF(spark, loc).select("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))

    // re-insert id=2 AFTER the delete: its data seq (3) > delete seq (2),
    // so the spec's strictly-smaller rule keeps it alive
    IcebergWriter.append(spark, loc, Seq((2L, "b2", 9.5), (6L, "f", 6.5)).toDF("id", "s", "v"))
    assert(IcebergLog.toDF(spark, loc).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 6L))
    // the re-inserted row is the NEW version
    assert(IcebergLog.toDF(spark, loc).filter(col("id") === 2L)
      .select("s").head().getString(0) == "b2")

    // time travel: the pre-delete snapshot still reads all 3 original rows
    val snaps = IcebergLog.history(spark, loc)
    assert(IcebergLog.toDF(spark, loc, Some(snaps.head)).count() == 3)

    // predicate scan composes with equality deletes
    assert(IcebergLog.scan(spark, loc, "v > 2.0").select("id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 6L))

    // multi-column equality delete, null-safe matching
    val n2 = IcebergWriter.equalityDelete(spark, loc, Seq("id", "s"),
      Seq((6L, "f")).toDF("id", "s"))
    assert(n2 == 1L)
    assert(IcebergLog.toDF(spark, loc).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))

    // the TxTable surface folds live equality deletes into per-file
    // position bitmaps (one victim-locating scan per snapshot), so reads
    // through it agree with the direct IcebergLog path
    val t = TxTable.forIceberg(spark, loc)
    assert(t.toDF.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L))
    assert(t.snapshot.files.flatMap(_.deletionVector).map(_.cardinality).sum >= 3L)
  }

  test("identity-partitioned create/append: full rows in data files, manifest pruning") {
    val loc = TestSpark.tmpDir("ice-part") + "/t"
    val df = Seq((1L, "us", 10.0), (2L, "us", 20.0), (3L, "eu", 30.0), (4L, "jp", 40.0))
      .toDF("id", "region", "v")
    IcebergWriter.create(spark, loc, df, partitionColumns = Seq("region"))
    IcebergWriter.append(spark, loc, Seq((5L, "eu", 50.0)).toDF("id", "region", "v"))

    // rows read back whole — the partition column comes from the data
    // files themselves, not path reconstruction
    val back = IcebergLog.toDF(spark, loc)
    assert(back.count() == 5)
    val eu = back.filter($"region" === "eu").select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(eu == Seq(3L, 5L))

    // manifest partition values prune files before the scan plans
    val total = IcebergLog.filesAfterPruning(spark, loc, "id >= -99999")
    val pruned = IcebergLog.filesAfterPruning(spark, loc, "region = 'jp'")
    assert(pruned < total)
    assert(IcebergLog.scan(spark, loc, "region = 'jp'").count() == 1)

    // the state exposes the identity partition columns
    assert(IcebergLog.state(spark, loc).partitionColumns == Seq("region"))
  }

  test("manifest lower/upper bounds prune on non-partition columns") {
    val loc = TestSpark.tmpDir("ice-bounds") + "/t"
    val low = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "s", "v").repartition(1)
    val high = Seq((100L, "y", 9.0), (200L, "z", 9.5)).toDF("id", "s", "v").repartition(1)
    IcebergWriter.create(spark, loc, low)
    IcebergWriter.append(spark, loc, high)
    val total = IcebergLog.filesAfterPruning(spark, loc, "id >= -99999")
    assert(total >= 2)
    assert(IcebergLog.filesAfterPruning(spark, loc, "id > 150") < total)
    assert(IcebergLog.filesAfterPruning(spark, loc, "s < 'b'") < total)
    assert(IcebergLog.scan(spark, loc, "id > 150").count() == 1)
    // bounds round-trip: the state carries decoded min/max strings
    val st = IcebergLog.state(spark, loc)
    assert(st.files.forall(_.minValues.exists(_.contains("id"))))
  }

  test("DELETE writes a position-delete snapshot; time travel sees pre-delete rows") {
    val loc = TestSpark.tmpDir("ice-del") + "/t"
    IcebergWriter.create(spark, loc, df1) // ids 1,2,3
    IcebergWriter.append(spark, loc, df2) // ids 4,5
    val deleted = IcebergWriter.delete(spark, loc, "id = 2 OR id = 5")
    assert(deleted == 2L)
    val after = IcebergLog.toDF(spark, loc)
    assert(after.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 4L))
    // deletes stack: a second predicate delete applies over the survivors
    assert(IcebergWriter.delete(spark, loc, "id <= 1") == 1L)
    assert(IcebergLog.toDF(spark, loc).select("id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(3L, 4L))
    // no-match delete is a no-op commit-wise
    val snapsBefore = IcebergLog.history(spark, loc).size
    assert(IcebergWriter.delete(spark, loc, "id = 999") == 0L)
    assert(IcebergLog.history(spark, loc).size == snapsBefore)
    // time travel to the first snapshot still reads everything
    val first = IcebergLog.history(spark, loc).head
    assert(IcebergLog.toDF(spark, loc, Some(first)).count() == 3)
    // appends after deletes keep the delete manifests applied
    IcebergWriter.append(spark, loc, Seq((9L, "x", 0.5)).toDF("id", "s", "v"))
    assert(IcebergLog.toDF(spark, loc).select("id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(3L, 4L, 9L))
  }

  test("overwrite replaces contents; adoptSchema replaces the schema") {
    val loc = TestSpark.tmpDir("ice-ow") + "/t"
    IcebergWriter.create(spark, loc, df1)
    val preOverwrite = IcebergLog.history(spark, loc).last
    IcebergWriter.overwrite(spark, loc, df2)
    assert(IcebergLog.toDF(spark, loc).select("id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(4L, 5L))
    // the pre-overwrite snapshot still reads its own manifest list
    assert(IcebergLog.toDF(spark, loc, Some(preOverwrite)).count() == 3)
    // schema-adopting overwrite (evolution OVERWRITE)
    val evolved = Seq((7L, "z")).toDF("id", "name")
    IcebergWriter.overwrite(spark, loc, evolved, adoptSchema = true)
    val st = IcebergLog.state(spark, loc)
    assert(st.schema.fieldNames.toSeq == Seq("id", "name"))
    assert(IcebergLog.toDF(spark, loc).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((7L, "z")))
    // STRICT append of the old shape now fails
    intercept[Exception] { IcebergWriter.append(spark, loc, df1) }
  }

  test("adoptSchema overwrite refuses to drop or retype a partition source column") {
    val loc = TestSpark.tmpDir("ice-ow-part") + "/t"
    IcebergWriter.create(spark, loc, Seq((1L, 1L), (2L, 2L)).toDF("id", "p"), Seq("p"))
    val version = TxTable.forIceberg(spark, loc).version
    Seq(Seq((3L, "x")).toDF("id", "p"), Seq(3L).toDF("id")).foreach { df =>
      intercept[UnsupportedOperationError] {
        IcebergWriter.overwrite(spark, loc, df, adoptSchema = true)
      }
    }
    assert(TxTable.forIceberg(spark, loc).version == version)
    // a schema that keeps the source column's type is adopted
    IcebergWriter.overwrite(spark, loc, Seq((3L, 3L, "x")).toDF("id", "p", "s"), adoptSchema = true)
    assert(IcebergLog.toDF(spark, loc).collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq == Seq((3L, 3L, "x")))
  }

  test("TxTable runs the full write surface over the Iceberg log") {
    val loc = TestSpark.tmpDir("ice-tx") + "/t"
    val t = TxTable.forIceberg(spark, loc)
    t.create(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("id", "s", "v"),
      partitionColumns = Seq.empty)
    assert(IcebergLog.isIcebergTable(spark, loc))
    // auto-dispatch picks the Iceberg backend
    assert(TxTable.forAnyLocation(spark, loc).log eq IcebergCommitLog)

    // append (STRICT)
    t.append(Seq((4L, "d", 4.0)).toDF("id", "s", "v"))
    assert(t.toDF.count() == 4)

    // UPDATE — copy-on-write rewrite of only the files that can match
    t.update("id = 2", Map("v" -> "v * 10"))
    assert(t.toDF.filter($"id" === 2).select("v").collect()(0).getDouble(0) == 20.0)

    // DELETE — merge-on-read position-delete snapshot (no rewrite)
    t.delete("id = 3")
    assert(t.toDF.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 4L))
    val delOps = IcebergLog.snapshots(IcebergLog.stateAt(spark, loc, None).meta)
    assert(delOps.nonEmpty) // snapshot landed
    // a rewrite AFTER the MoR delete must not resurrect id=3
    t.update("id >= 1", Map("v" -> "v + 0.5"))
    assert(t.toDF.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 4L))

    // MERGE
    t.merge(Seq((2L, "B", 0.0), (9L, "i", 9.0)).toDF("id", "s", "v"), "s.id = t.id")
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute()
    val merged = t.toDF.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(merged == Seq((1L, "a"), (2L, "B"), (4L, "d"), (9L, "i")))

    // replaceWhere swaps one slice
    t.replaceWhere(Seq((9L, "I", 99.0)).toDF("id", "s", "v"), "id = 9")
    assert(t.toDF.filter($"id" === 9).select("s").collect()(0).getString(0) == "I")

    // MERGE schema evolution preserves existing field ids
    val idsBefore = IcebergLog.topFields(IcebergLog.stateAt(spark, loc, None).meta)
      .map { case (id, n, _) => n -> id }.toMap
    t.append(Seq((10L, "j", 10.0, "extra")).toDF("id", "s", "v", "note"),
      graft.catalog.SchemaEvolution.MERGE)
    val metaAfter = IcebergLog.stateAt(spark, loc, None).meta
    val idsAfter = IcebergLog.topFields(metaAfter).map { case (id, n, _) => n -> id }.toMap
    assert(idsBefore.forall { case (n, id) => idsAfter(n) == id })
    assert(idsAfter("note") > idsBefore.values.max)
    assert(t.toDF.filter($"note".isNotNull).count() == 1)
    assert(t.toDF.filter($"id" === 1 && $"note".isNull).count() == 1)

    // OPTIMIZE commits a "replace" snapshot; contents unchanged
    val before = t.toDF.orderBy("id").collect().toSeq
    t.optimize()
    assert(t.toDF.orderBy("id").collect().toSeq == before)
    assert(IcebergLog.currentOperation(IcebergLog.stateAt(spark, loc, None).meta) == "replace")

    // time travel by metadata version and timestamp
    assert(t.toDF(1L).count() == 3)
    val latestV = IcebergCommitLog.latestVersion(spark, loc).get
    assert(IcebergCommitLog.versionAtTimestamp(spark, loc, System.currentTimeMillis()) == latestV)

    // scan pruning works through the generic path too
    assert(t.filesAfterPruning("id > 100") <= t.filesAfterPruning("id >= -1"))

    // SetTransaction watermarks ride the metadata commit (see
    // SetTransactionSpec's iceberg case for the full matrix)
    val nBefore = t.toDF.count()
    assert(t.appendIdempotent(
      Seq((99L, "x", 0.0, "n")).toDF("id", "s", "v", "note"), "app", 1L))
    assert(!t.appendIdempotent(
      Seq((99L, "x", 0.0, "n")).toDF("id", "s", "v", "note"), "app", 1L))
    assert(t.toDF.count() == nBefore + 1)
  }

  test("changesSince and the streaming source ride the Iceberg log") {
    val loc = TestSpark.tmpDir("ice-stream") + "/t"
    val t = TxTable.forIceberg(spark, loc)
    t.create(Seq((1L, "a")).toDF("id", "s"), Seq.empty)
    t.append(Seq((2L, "b")).toDF("id", "s"))
    t.append(Seq((3L, "c")).toDF("id", "s"))
    val v1 = IcebergCommitLog.latestVersion(spark, loc).get
    // changes after metadata v2 = the third commit only
    val changes = t.changesSince(2L)
    assert(changes.select("id").collect().map(_.getLong(0)).toSeq == Seq(3L))
    // OPTIMIZE adds must NOT re-enter the feed
    t.optimize()
    assert(t.changesSince(v1).count() == 0)
    // one more append lands with its own commit version
    t.append(Seq((4L, "d")).toDF("id", "s"))
    val post = t.changesSince(v1).select("id", "_commit_version").collect()
    assert(post.map(_.getLong(0)).toSeq == Seq(4L))
  }

  test("vacuum keeps live Iceberg data AND position-delete files") {
    val loc = TestSpark.tmpDir("ice-vac") + "/t"
    val t = TxTable.forIceberg(spark, loc)
    t.create(df1, Seq.empty)
    t.delete("id = 2")
    t.overwrite(Seq((7L, "q", 7.0)).toDF("id", "s", "v"))
    // force-vacuum everything not referenced by the LATEST snapshot
    val removed = t.vacuum(retainVersions = 1, retentionMs = 0L, force = true)
    assert(removed > 0) // the overwritten originals went away
    assert(t.toDF.select("id").collect().map(_.getLong(0)).toSeq == Seq(7L))
    // time travel to the delete snapshot is gone (files vacuumed), but
    // the CURRENT state survived — and a fresh table with live deletes
    // keeps its delete files through vacuum
    val loc2 = TestSpark.tmpDir("ice-vac2") + "/t"
    val t2 = TxTable.forIceberg(spark, loc2)
    t2.create(df1, Seq.empty)
    t2.delete("id = 2")
    t2.vacuum(retainVersions = 1, retentionMs = 0L, force = true)
    assert(t2.toDF.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
  }

  private def writeAvroFile(f: org.apache.hadoop.fs.FileSystem, p: Path,
      schema: Schema, records: Seq[GenericRecord]): Unit = {
    val out = f.create(p, true)
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, out)
    try records.foreach(w.append) finally w.close()
  }

  test("position-delete bitmaps are built on executors; driver collects bitmaps, not rows") {
    val loc = TestSpark.tmpDir("ice-dvpayload") + "/t"
    IcebergWriter.create(spark, loc, df1)
    assert(IcebergWriter.delete(spark, loc, "id = 2 OR id = 3") == 2L)
    val st = IcebergLog.stateAt(spark, loc, None)
    assert(st.deletes.exists(_.content == 1))
    // the driver-side payload of the MoR read path: the snapshot fold's
    // per-file SERIALIZED Bitmap64s (the mapGroups output) as inline
    // descriptors, never raw (file_path, pos) rows
    IcebergCommitLog.clearDeleteFoldCacheForTest()
    val payload = IcebergCommitLog.snapshotOf(spark, loc, st).files.flatMap(_.deletionVector)
    assert(payload.nonEmpty && payload.forall(_.storageType == "i"))
    val bitmaps = payload.map(d =>
      DeletionVectors.Bitmap64.deserialize(
        DeletionVectors.decodeData(d.pathOrInlineDv, d.sizeInBytes)))
    bitmaps.foreach(bm => assert(bm.cardinality > 0))
    assert(bitmaps.map(_.cardinality).sum == 2L)
    // and the filter built from those descriptors still reads correctly
    assert(IcebergLog.toDF(spark, loc).select("id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
  }
}
