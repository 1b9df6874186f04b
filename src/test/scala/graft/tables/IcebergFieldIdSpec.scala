package graft.tables

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Iceberg field-id column resolution: data files we write carry
  * `parquet.field.id` footers (so real Iceberg engines resolve them by
  * id), and reads of a table whose schema HISTORY contains a rename
  * switch to id-based parquet resolution — old-name files resolve under
  * the new name instead of silently nulling out (spec "Column
  * Projection": columns bind by field id, never by name).
  */
class IcebergFieldIdSpec extends AnyFunSuite {

  private implicit val fmts: Formats = DefaultFormats
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def seed = Seq((1L, "alpha", 10.0), (2L, "beta", 20.0), (3L, "gamma", 30.0))

  /** Simulate a FOREIGN engine renaming top-level column `from` to `to`:
    * append a new schema (same field ids, one name changed) to the
    * metadata's schema history and point current-schema-id at it — the
    * exact metadata delta iceberg-java's RenameColumn update commits.
    */
  private def foreignRename(location: String, from: String, to: String): Unit = {
    val f = IcebergLog.fs(spark, location)
    val v = IcebergLog.latestMetadataVersion(spark, location).get
    val meta = IcebergLog.metaAt(spark, location, v)
    val cur = IcebergLog.currentSchemaJson(meta)
    val prior = (meta \ "schemas").extractOpt[Seq[JValue]].getOrElse(Seq(cur))
    val nextId = prior.flatMap(s => (s \ "schema-id").extractOpt[Int]).maxOption.getOrElse(0) + 1
    val renamed = cur.transformField {
      case ("fields", JArray(fs)) => "fields" -> JArray(fs.map {
        case fo: JObject if (fo \ "name") == JString(from) =>
          fo.transformField { case ("name", _) => "name" -> JString(to) }
        case other => other
      })
      case ("schema-id", _) => "schema-id" -> JInt(nextId)
    }
    val newMeta = meta
      .replace(List("schemas"), JArray((prior :+ renamed).toList))
      .replace(List("current-schema-id"), JInt(nextId))
    val body = JsonMethods.compact(JsonMethods.render(newMeta))
    val dir = IcebergLog.metadataDir(location)
    val out = f.create(new org.apache.hadoop.fs.Path(dir, s"v${v + 1}.metadata.json"), true)
    out.write(body.getBytes("UTF-8")); out.close()
    val hint = f.create(new org.apache.hadoop.fs.Path(dir, "version-hint.text"), true)
    hint.write((v + 1).toString.getBytes("UTF-8")); hint.close()
  }

  test("written data files carry parquet field ids") {
    val loc = TestSpark.tmpDir("ice-fid-write") + "/t"
    IcebergWriter.create(spark, loc, seed.toDF("id", "name", "score"))
    val st = IcebergLog.state(spark, loc)
    // read the raw file with a RENAMED id-attached schema: values resolve
    // only if the footer has ids
    val metaJson = IcebergLog.currentSchemaJson(st.meta)
    val withIds = IcebergLog.schemaWithFieldIds(metaJson)
    val renamed = org.apache.spark.sql.types.StructType(withIds.fields.map(f =>
      if (f.name == "name") f.copy(name = "name2") else f))
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val got = spark.read.schema(renamed).parquet(st.files.map(_.path): _*)
      .select("name2").as[String].collect().toSet
    assert(got == Set("alpha", "beta", "gamma"))
  }

  test("renamedEver: false on a plain history, true after a foreign rename") {
    val loc = TestSpark.tmpDir("ice-fid-hist") + "/t"
    IcebergWriter.create(spark, loc, seed.toDF("id", "name", "score"))
    assert(!IcebergLog.renamedEver(IcebergLog.state(spark, loc).meta))
    foreignRename(loc, "name", "label")
    assert(IcebergLog.renamedEver(IcebergLog.state(spark, loc).meta))
  }

  test("foreign rename: old files resolve under the new name, both eras mix") {
    val loc = TestSpark.tmpDir("ice-fid-rename") + "/t"
    IcebergWriter.create(spark, loc, seed.toDF("id", "name", "score"))
    foreignRename(loc, "name", "label")
    // pre-rename files read under the NEW column name via id resolution
    val st = IcebergLog.state(spark, loc)
    assert(st.schema.fieldNames.toSeq == Seq("id", "label", "score"))
    assert(IcebergLog.toDF(spark, loc).select("label").as[String].collect().toSet ==
      Set("alpha", "beta", "gamma"))
    // post-rename append writes files under the new name; both eras resolve
    IcebergWriter.append(spark, loc, Seq((4L, "delta", 40.0)).toDF("id", "label", "score"))
    assert(IcebergLog.toDF(spark, loc).select("label").as[String].collect().toSet ==
      Set("alpha", "beta", "gamma", "delta"))
    // predicate scan on the renamed column stays correct
    assert(IcebergLog.scan(spark, loc, "label = 'beta'").select("id").as[Long].collect().toSeq ==
      Seq(2L))
    // TxTable surface over the renamed table reads both eras too
    assert(TxTable.forAnyLocation(spark, loc).toDF.count() == 4)
  }

  test("rename on a partitioned table keeps pruning and DELETE working") {
    val loc = TestSpark.tmpDir("ice-fid-part") + "/t"
    val df = (0L until 40L).map(i => (i, s"g${i % 4}", i.toDouble)).toDF("id", "g", "v")
    IcebergWriter.create(spark, loc, df, Seq("g"))
    foreignRename(loc, "v", "value")
    assert(IcebergLog.scan(spark, loc, "g = 'g1' AND value > 20.0").count() ==
      df.filter($"g" === "g1" && $"v" > 20.0).count())
    // identity partition pruning on the untouched column still drops files
    assert(IcebergLog.filesAfterPruning(spark, loc, "g = 'g1'") == 1)
    // merge-on-read DELETE through position deletes on the renamed table
    IcebergWriter.delete(spark, loc, "value >= 30.0")
    assert(IcebergLog.toDF(spark, loc).count() == 30)
  }

  test("our own schema evolution preserves the schemas history") {
    val loc = TestSpark.tmpDir("ice-fid-evolve") + "/t"
    IcebergWriter.create(spark, loc, seed.toDF("id", "name", "score"))
    val t = TxTable.forAnyLocation(spark, loc)
    t.append(Seq((4L, "delta", 40.0, "x")).toDF("id", "name", "score", "tag"),
      evolution = graft.catalog.SchemaEvolution.MERGE)
    val meta = IcebergLog.state(spark, loc).meta
    val ids = (meta \ "schemas").extract[Seq[JValue]]
      .flatMap(s => (s \ "schema-id").extractOpt[Int])
    assert(ids.size >= 2 && ids.distinct.size == ids.size,
      s"evolution must append a fresh schema-id to the history, got $ids")
    // surviving columns keep their ids across the evolution
    val byName = IcebergLog.topFields(meta).map { case (id, n, _) => n -> id }.toMap
    assert(byName("id") == 1 && byName("name") == 2 && byName("score") == 3)
    assert(byName("tag") > 3)
  }

  test("a column an evolving append adds carries its field id in that append's files") {
    val loc = TestSpark.tmpDir("ice-fid-evolved-file") + "/t"
    val t = TxTable.forIceberg(spark, loc)
    t.create(seed.toDF("id", "name", "score"))
    t.append(Seq((4L, "delta", 40.0, "x"), (5L, "eps", 50.0, "y"))
      .toDF("id", "name", "score", "extra"), graft.catalog.SchemaEvolution.MERGE)
    val extraId = IcebergLog.topFields(IcebergLog.state(spark, loc).meta)
      .collectFirst { case (id, "extra", _) => id }.get
    // after a rename the read resolves every id-bearing file by id
    IcebergWriter.renameColumn(spark, loc, "name", "label")
    assert(IcebergLog.toDF(spark, loc).select("id", "extra").as[(Long, String)]
      .collect().toSet == Set((1L, null), (2L, null), (3L, null), (4L, "x"), (5L, "y")))
    assert(t.toDF.filter($"extra".isNotNull).count() == 2)
    val conf = spark.sessionState.newHadoopConf()
    val footerIds = IcebergLog.state(spark, loc).files.flatMap { f =>
      val r = FileStats.openFooter(conf, new org.apache.hadoop.fs.Path(f.path))
      try {
        import scala.jdk.CollectionConverters._
        r.getFileMetaData.getSchema.getFields.asScala
          .collect { case fld if fld.getName == "extra" => Option(fld.getId).map(_.intValue) }
      } finally r.close()
    }
    assert(footerIds.nonEmpty && footerIds.forall(_.contains(extraId)),
      s"the evolving append's files must stamp extra's field id $extraId, got $footerIds")
  }
}
