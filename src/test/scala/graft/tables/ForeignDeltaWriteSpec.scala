package graft.tables

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.catalog.{DoesNotExistError, FileType, SchemaEvolution, UnsupportedOperationError, WriteMode}
import graft.io.TableIO

/** The FULL write matrix over REAL Delta `_delta_log` tables — the
  * reference's primary path (delta-rs writes: schema evolution
  * uchelper/dataframe.py:306-316,344-352, replace_where/partition_filters
  * :332-337, MERGE :448-488). Every operation here commits spec-compliant
  * Delta JSON actions (metaData on evolution, remove+add on rewrites), so
  * external engines keep reading the table after each step — asserted by
  * re-replaying the raw log, not just through our own reader.
  */
class ForeignDeltaWriteSpec extends AnyFunSuite {

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

  /** A foreign fixture created by "another engine": our writer's create
    * commit is spec-shaped, so it stands in for a delta-rs v0.
    */
  private def fixture(prefix: String, df: DataFrame, parts: Seq[String] = Seq.empty,
      props: Map[String, String] = Map.empty): String = {
    val loc = TestSpark.tmpDir(prefix)
    DeltaLogWriter.create(spark, loc, df, parts, props)
    assert(!TxLog.exists(spark, loc))
    loc
  }

  test("append with MERGE evolution adds a column via a metaData action; id preserved") {
    val loc = fixture("fd-evo", df1)
    val beforeId = {
      val (st, _) = DeltaLog.replayState(spark, loc, None)
      st.metaId
    }
    val extra = Seq((6L, "g", 7.0, "new")).toDF("id", "str_col", "float_col", "tag")
    val t = TxTable.forForeignDelta(spark, loc)
    t.append(extra, SchemaEvolution.MERGE)

    val snap = DeltaLog.snapshot(spark, loc)
    assert(snap.schema.fieldNames.toSeq == Seq("id", "str_col", "float_col", "tag"))
    val out = DeltaLog.toDF(spark, loc)
    assert(out.count() == 5)
    // pre-evolution rows read the new column as null
    assert(out.filter(col("tag").isNull).count() == 4)
    assert(out.filter(col("tag") === "new").select("id").collect().map(_.getLong(0)).toSeq == Seq(6L))
    // the table identity must survive the metaData rewrite
    val (st2, _) = DeltaLog.replayState(spark, loc, None)
    assert(st2.metaId == beforeId)
    // and the raw commit must carry an explicit metaData action
    val commit1 = Files.readString(Paths.get(loc, "_delta_log", "00000000000000000001.json"))
    assert(commit1.contains("\"metaData\""))
    assert(commit1.contains("tag")) // evolved column in the schemaString
  }

  test("overwrite with OVERWRITE evolution replaces the schema") {
    val loc = fixture("fd-evo-ow", df1)
    val replacement = Seq((10L, true), (11L, false)).toDF("id", "flag")
    TxTable.forForeignDelta(spark, loc).overwrite(replacement, SchemaEvolution.OVERWRITE)
    val snap = DeltaLog.snapshot(spark, loc)
    assert(snap.schema.fieldNames.toSeq == Seq("id", "flag"))
    assert(DeltaLog.toDF(spark, loc).orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(10L, 11L))
    // time travel still reaches the pre-overwrite schema
    assert(DeltaLog.snapshot(spark, loc, Some(0L)).schema.fieldNames.toSeq ==
      Seq("id", "str_col", "float_col"))
  }

  test("replaceWhere on a data predicate rewrites only matching rows") {
    val loc = fixture("fd-rw", df1)
    val t = TxTable.forForeignDelta(spark, loc)
    val repl = Seq((2L, "C", 30.0), (3L, "D", 40.0)).toDF("id", "str_col", "float_col")
    t.replaceWhere(repl, "id >= 2")
    val out = DeltaLog.toDF(spark, loc).orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(out.map(_.getString(1)).toSeq == Seq("a", "b", "C", "D"))
    // new data violating the predicate is rejected (delta-rs parity)
    intercept[UnsupportedOperationError](t.replaceWhere(df1, "id >= 2"))
  }

  test("partition_filters selective overwrite keeps untouched partitions' files in place") {
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y"), (4L, "z")).toDF("id", "k")
    val loc = fixture("fd-pf", df, parts = Seq("k"))
    val untouched = DeltaLog.snapshot(spark, loc).files
      .filter(_.partitionValues.get("k").contains("y")).map(_.path).toSet
    assert(untouched.nonEmpty)

    val cols = Seq(
      graft.catalog.ColumnInfo("id", graft.types.UcType.LongT, 0),
      graft.catalog.ColumnInfo("k", graft.types.UcType.StringT, 1, partitionIndex = Some(0)))
    val tbl = graft.catalog.TableInfo("t", "c", "s", graft.catalog.TableType.EXTERNAL,
      FileType.DELTA, cols, storageLocation = Some(loc))
    val newX = Seq((10L, "x")).toDF("id", "k")
    TableIO.write(spark, tbl, newX, WriteMode.OVERWRITE,
      partitionFilters = Seq(("k", "=", "x")))

    val out = DeltaLog.toDF(spark, loc).orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(3L, 4L, 10L))
    // partition-only predicate = metadata delete: y's files survive physically
    val after = DeltaLog.snapshot(spark, loc).files.map(_.path).toSet
    assert(untouched.subsetOf(after))
  }

  test("MERGE clause matrix commits remove+add through the Delta protocol") {
    val loc = fixture("fd-merge", df1)
    val t = TxTable.forForeignDelta(spark, loc)
    val source = Seq((1L, "B2", 20.0), (3L, "del", 0.0), (9L, "new", 9.0))
      .toDF("id", "str_col", "float_col")
    t.merge(source, "s.id = t.id")
      .whenMatchedUpdateAll(condition = Some("s.str_col != 'del'"))
      .whenMatchedDelete(condition = Some("s.str_col = 'del'"))
      .whenNotMatchedInsertAll()
      .execute()
    val out = DeltaLog.toDF(spark, loc).orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 9L))
    assert(out.find(_.getLong(0) == 1L).get.getString(1) == "B2")
    // the merge commit is a real Delta commit other engines can replay
    val merged = DeltaLog.snapshot(spark, loc)
    assert(merged.version == 1L)
    val commit1 = Files.readString(Paths.get(loc, "_delta_log", "00000000000000000001.json"))
    assert(commit1.contains("\"remove\"") && commit1.contains("\"add\""))
    // cardinality violation raises (two source rows hit one target row)
    val dup = Seq((2L, "p", 1.0), (2L, "q", 2.0)).toDF("id", "str_col", "float_col")
    intercept[UnsupportedOperationError] {
      t.merge(dup, "s.id = t.id").whenMatchedUpdateAll().execute()
    }
  }

  test("DELETE and UPDATE run file-pruned copy-on-write on a foreign table") {
    val loc = fixture("fd-du", df1)
    val t = TxTable.forForeignDelta(spark, loc)
    t.delete("id = 0")
    assert(DeltaLog.toDF(spark, loc).count() == 3)
    t.update("id = 1", Map("str_col" -> "'up'"))
    assert(DeltaLog.toDF(spark, loc).filter(col("str_col") === "up")
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("timestamp time travel uses commitInfo timestamps from the foreign log") {
    val loc = TestSpark.tmpDir("fd-ts")
    val schemaJ = StructType(Seq(StructField("id", LongType))).json
    val metaJ = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(org.json4s.JString(schemaJ)))
    def one(df: DataFrame, name: String): Long = {
      val tmp = TestSpark.tmpDir("fd-ts-stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.size(Files.move(part, Paths.get(loc, name)))
    }
    val data = StructType(Seq(StructField("id", LongType)))
    val sz0 = one(spark.createDataFrame(java.util.List.of(Row(1L)), data), "f0.parquet")
    val sz1 = one(spark.createDataFrame(java.util.List.of(Row(2L)), data), "f1.parquet")
    writeLine(loc, "00000000000000000000.json", Seq(
      """{"commitInfo":{"timestamp":1000,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"fx","format":{"provider":"parquet","options":{}},"schemaString":$metaJ,"partitionColumns":[],"configuration":{}}}""",
      s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":$sz0,"modificationTime":1,"dataChange":true}}"""))
    writeLine(loc, "00000000000000000001.json", Seq(
      """{"commitInfo":{"timestamp":5000,"operation":"WRITE"}}""",
      s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$sz1,"modificationTime":1,"dataChange":true}}"""))

    assert(DeltaLog.versionAtTimestamp(spark, loc, 1000L) == 0L)
    assert(DeltaLog.versionAtTimestamp(spark, loc, 4999L) == 0L)
    assert(DeltaLog.versionAtTimestamp(spark, loc, 5000L) == 1L)
    assert(DeltaLog.versionAtTimestamp(spark, loc, System.currentTimeMillis()) == 1L)
    intercept[DoesNotExistError](DeltaLog.versionAtTimestamp(spark, loc, 999L))

    val t = TxTable.forForeignDelta(spark, loc)
    assert(t.toDFAtTimestamp(1500L).collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(t.toDFAtTimestamp(6000L).count() == 2)
  }

  test("changesSince over a foreign table tags per-commit adds") {
    val loc = fixture("fd-cdc", df1)
    val t = TxTable.forForeignDelta(spark, loc)
    t.append(df2)
    val changes = t.changesSince(0L)
    assert(changes.select("_commit_version").distinct().collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(changes.count() == 2)
  }

  test("syncTableProperties pulls delta.* configuration from a foreign log (C19)") {
    val loc = fixture("fd-sync", df1, props = Map("delta.appendOnly" -> "false", "custom" -> "v"))
    val c = new graft.client.LakehouseClient(spark)
    c.createCatalog("m"); c.createSchema("m", "d")
    c.registerAsTable("m", "d", "ft", FileType.DELTA, loc)
    val t = c.syncTableProperties("m", "d", "ft")
    assert(t.properties("delta.appendOnly") == "false")
    assert(t.properties("custom") == "v")
    assert(t.properties("graft.table.version") == "0")
  }

  test("writer gating still applies on the evolved write paths") {
    val loc = fixture("fd-gate", df1, props = Map("delta.appendOnly" -> "true"))
    val t = TxTable.forForeignDelta(spark, loc)
    t.append(df2) // appends stay legal
    intercept[UnsupportedOperationError](t.overwrite(df1))
    intercept[UnsupportedOperationError](t.delete("id = 0"))
    intercept[UnsupportedOperationError](t.replaceWhere(df2, "id >= 4"))
  }

  test("client MERGE routes to the foreign backend via getTxTable") {
    val loc = fixture("fd-client-merge", df1)
    val c = new graft.client.LakehouseClient(spark)
    c.createCatalog("m2"); c.createSchema("m2", "d")
    c.registerAsTable("m2", "d", "fm", FileType.DELTA, loc)
    val source = Seq((0L, "z", 0.5)).toDF("id", "str_col", "float_col")
    c.mergeTable(source, "m2", "d", "fm", Some("s.id = t.id"))
      .whenMatchedUpdateAll().execute()
    assert(c.readTable("m2", "d", "fm").filter(col("str_col") === "z").count() == 1)
    assert(DeltaLog.snapshot(spark, loc).version == 1L)
  }
}
