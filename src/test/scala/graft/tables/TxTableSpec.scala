package graft.tables

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.catalog.{SchemaEvolution, SchemaMismatchError, UnsupportedOperationError}

/** Transactional-table semantics, mirroring the reference's merge /
  * replace_where / partition_filters / schema-evolution scenario tests
  * (/root/reference/tests/test_dataframes.py:598-1114, FIXTURES.md §3-§5).
  */
class TxTableSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Reference merge fixture (tests/test_dataframes.py:665-700):
    * id, str_col, float_col.
    */
  private def df1: DataFrame =
    Seq((0L, "a", 1.0), (1L, "b", 2.0), (2L, "c", 3.0), (3L, "d", 4.0), (4L, "e", 5.0), (5L, "f", 6.0))
      .toDF("id", "str_col", "float_col")
  private def df2: DataFrame =
    Seq((0L, "x", 10.0), (1L, "y", 20.0), (6L, "g", 7.0), (7L, "h", 8.0))
      .toDF("id", "str_col", "float_col")

  private def collectById(t: TxTable): Seq[(Long, String, Double)] =
    t.toDF.orderBy("id").collect().toSeq.map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))

  test("timestamp time travel selects the latest commit at-or-before the timestamp") {
    val loc = TestSpark.tmpDir("tx-ts")
    val t = new TxTable(spark, loc)
    t.create(df1)
    Thread.sleep(25)
    val mid = System.currentTimeMillis()
    Thread.sleep(25)
    t.append(df2)
    assert(t.toDFAtTimestamp(mid).count() == 6)                       // v0 only
    assert(t.toDFAtTimestamp(System.currentTimeMillis()).count() == 10) // v1
    assert(t.snapshotAtTimestamp(mid).version == 0L)
    intercept[graft.catalog.DoesNotExistError] { t.toDFAtTimestamp(1L) } // before first commit
  }

  test("changesSince: per-commit adds with _commit_version, latest schema") {
    val loc = TestSpark.tmpDir("tx-cdc")
    val t = new TxTable(spark, loc)
    t.create(df1)                                   // v0: 6 rows
    t.append(df2)                                   // v1: 4 rows
    t.append(df1.limit(2), SchemaEvolution.STRICT)  // v2: 2 rows
    val changes = t.changesSince(0L)
    assert(changes.count() == 6)
    assert(changes.groupBy("_commit_version").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(1L -> 4L, 2L -> 2L))
    assert(t.changesSince(1L).count() == 2)
    assert(t.changesSince(2L).count() == 0)
    assert(t.changesSince(0L, toVersion = Some(1L)).count() == 4)
  }

  test("create + append + overwrite + time travel") {
    val loc = TestSpark.tmpDir("tx")
    val t = new TxTable(spark, loc)
    t.create(df1)
    assert(t.toDF.count() == 6)
    t.append(df2)
    assert(t.toDF.count() == 10)
    t.overwrite(df2)
    assert(t.toDF.count() == 4)
    // time travel
    assert(t.toDF(0L).count() == 6)
    assert(t.toDF(1L).count() == 10)
    assert(t.version == 2L)
  }

  test("append STRICT rejects schema drift; MERGE evolves by appending columns") {
    val loc = TestSpark.tmpDir("tx")
    val t = new TxTable(spark, loc)
    t.create(df1)
    val evolved = df1.withColumn("extra", lit("zz")).drop("float_col")
    intercept[SchemaMismatchError] { t.append(evolved, SchemaEvolution.STRICT) }
    t.append(evolved, SchemaEvolution.MERGE)
    val snap = t.snapshot
    // new column appended at the end; old columns keep positions
    assert(snap.schema.fieldNames.toSeq == Seq("id", "str_col", "float_col", "extra"))
    val rows = t.toDF.orderBy("id", "str_col").collect()
    assert(rows.length == 12)
    // old rows read null for the new column, new rows null for the missing one
    assert(rows.count(_.isNullAt(3)) == 6)
    assert(rows.count(_.isNullAt(2)) == 6)
  }

  test("MERGE evolution rejects same-name type conflicts") {
    val loc = TestSpark.tmpDir("tx")
    val t = new TxTable(spark, loc)
    t.create(df1)
    val conflicting = Seq((9L, "z", "not-a-double")).toDF("id", "str_col", "float_col")
    intercept[SchemaMismatchError] { t.append(conflicting, SchemaEvolution.MERGE) }
  }

  test("schema_evolution=OVERWRITE only valid with overwrite (dataframe.py:300-303)") {
    val loc = TestSpark.tmpDir("tx")
    val t = new TxTable(spark, loc)
    t.create(df1)
    intercept[UnsupportedOperationError] { t.append(df2, SchemaEvolution.OVERWRITE) }
    val newShape = Seq((1L, 5)).toDF("id", "n")
    t.overwrite(newShape, SchemaEvolution.OVERWRITE)
    assert(t.snapshot.schema.fieldNames.toSeq == Seq("id", "n"))
  }

  test("replaceWhere row-level (tests/test_dataframes.py:844-994)") {
    val loc = TestSpark.tmpDir("tx")
    val t = new TxTable(spark, loc)
    t.create(df1)
    // replace only id = 0
    val repl = Seq((0L, "new", 100.0)).toDF("id", "str_col", "float_col")
    t.replaceWhere(repl, "id = 0")
    assert(collectById(t) == Seq((0L, "new", 100.0), (1L, "b", 2.0), (2L, "c", 3.0),
      (3L, "d", 4.0), (4L, "e", 5.0), (5L, "f", 6.0)))
    // predicate with a scalar function: id > 3 AND length(str_col) > 0
    val repl2 = Seq((5L, "q", 50.0)).toDF("id", "str_col", "float_col")
    t.replaceWhere(repl2, "id > 4 AND length(str_col) > 0")
    assert(collectById(t).map(_._1) == Seq(0L, 1L, 2L, 3L, 4L, 5L))
    assert(collectById(t).last == ((5L, "q", 50.0)))
  }

  test("replaceWhere rejects rows violating the predicate") {
    val loc = TestSpark.tmpDir("tx")
    val t = new TxTable(spark, loc)
    t.create(df1)
    val bad = Seq((3L, "nope", 0.0)).toDF("id", "str_col", "float_col")
    intercept[UnsupportedOperationError] { t.replaceWhere(bad, "id = 0") }
  }

  test("partition-pruned replaceWhere rewrites only matching partitions") {
    val loc = TestSpark.tmpDir("tx")
    val t = new TxTable(spark, loc)
    val part = df1.withColumn("p", (col("id") % 2).cast("long"))
    t.create(part, partitionColumns = Seq("p"))
    val before = t.snapshot
    val evens = Seq((0L, "E", 0.0, 0L), (2L, "E", 0.0, 0L)).toDF("id", "str_col", "float_col", "p")
    t.replaceWhere(evens, "p = 0")
    val after = t.snapshot
    // odd-partition files untouched (same physical paths still active)
    val oddBefore = before.files.filter(_.partitionValues.get("p").contains("1")).map(_.path).toSet
    val oddAfter = after.files.filter(_.partitionValues.get("p").contains("1")).map(_.path).toSet
    assert(oddBefore == oddAfter && oddBefore.nonEmpty)
    assert(t.toDF.filter("p = 0").count() == 2)
    assert(t.toDF.filter("p = 1").count() == 3)
  }

  test("partition values read back exactly from the log: escaped and null values") {
    val t = new TxTable(spark, TestSpark.tmpDir("tx"))
    val rows = Seq((0L, "p1"), (1L, "a b"), (2L, "x%y"), (3L, "a=b"), (4L, null))
    t.create(rows.toDF("id", "p").repartition(1), partitionColumns = Seq("p"))
    assert(t.toDF.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq == rows)
    rows.foreach { case (id, p) =>
      val pred = if (p == null) "p IS NULL" else s"p = '$p'"
      assert(t.toDF.filter(pred).collect().map(_.getLong(0)).toSeq == Seq(id), pred)
      assert(t.filesAfterPruning(pred) == 1, pred)
    }
  }

  test("dynamic partition overwrite replaces exactly the partitions present in new data") {
    val loc = TestSpark.tmpDir("tx")
    val t = new TxTable(spark, loc)
    val part = df1.withColumn("p", (col("id") % 3).cast("long"))
    t.create(part, partitionColumns = Seq("p"))
    val newP0 = Seq((100L, "z", 9.0, 0L)).toDF("id", "str_col", "float_col", "p")
    t.overwritePartitionsDynamic(newP0)
    val out = t.toDF
    assert(out.filter("p = 0").count() == 1) // replaced
    assert(out.filter("p = 1").count() == 2) // untouched
    assert(out.filter("p = 2").count() == 2) // untouched
  }

  test("merge: whenNotMatchedInsertAll (tests/test_dataframes.py:733)") {
    val loc = TestSpark.tmpDir("tx")
    val t = new TxTable(spark, loc)
    t.create(df1)
    t.merge(df2, "s.id = t.id").whenNotMatchedInsertAll().execute()
    assert(collectById(t) == Seq((0L, "a", 1.0), (1L, "b", 2.0), (2L, "c", 3.0),
      (3L, "d", 4.0), (4L, "e", 5.0), (5L, "f", 6.0), (6L, "g", 7.0), (7L, "h", 8.0)))
  }

  test("merge: matchedUpdateAll + notMatchedBySourceUpdate (tests/test_dataframes.py:772-774)") {
    val loc = TestSpark.tmpDir("tx")
    val t = new TxTable(spark, loc)
    t.create(df1)
    t.merge(df2, "s.id = t.id")
      .whenMatchedUpdateAll()
      .whenNotMatchedBySourceUpdate(Map("float_col" -> "t.float_col * 10"))
      .execute()
    assert(collectById(t) == Seq((0L, "x", 10.0), (1L, "y", 20.0), (2L, "c", 30.0),
      (3L, "d", 40.0), (4L, "e", 50.0), (5L, "f", 60.0)))
  }

  test("merge: insertAll + notMatchedBySourceDelete (tests/test_dataframes.py:813)") {
    val loc = TestSpark.tmpDir("tx")
    val t = new TxTable(spark, loc)
    t.create(df1)
    t.merge(df2, "s.id = t.id")
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .whenNotMatchedBySourceDelete()
      .execute()
    assert(collectById(t) == Seq((0L, "x", 10.0), (1L, "y", 20.0), (6L, "g", 7.0), (7L, "h", 8.0)))
  }

  test("merge: matchedDelete and conditional update") {
    val loc = TestSpark.tmpDir("tx")
    val t = new TxTable(spark, loc)
    t.create(df1)
    t.merge(df2, "s.id = t.id")
      .whenMatchedDelete(Some("s.str_col = 'x'"))
      .whenMatchedUpdate(Map("float_col" -> "s.float_col"))
      .execute()
    // id 0 deleted (matched, s.str_col = x); id 1 updated float only
    assert(collectById(t) == Seq((1L, "b", 20.0), (2L, "c", 3.0), (3L, "d", 4.0),
      (4L, "e", 5.0), (5L, "f", 6.0)))
  }

  test("merge rejects multiple source matches per target row (Delta semantics)") {
    val loc = TestSpark.tmpDir("tx")
    val t = new TxTable(spark, loc)
    t.create(df1)
    val dupSource = Seq((0L, "x", 1.0), (0L, "y", 2.0)).toDF("id", "str_col", "float_col")
    intercept[UnsupportedOperationError] {
      t.merge(dupSource, "s.id = t.id").whenMatchedUpdateAll().execute()
    }
  }

  test("DELETE: removes matching rows, rewrites only files that can match") {
    val loc = TestSpark.tmpDir("tx")
    val t = new TxTable(spark, loc)
    t.create(Seq((0L, "a", 1.0), (1L, "b", 2.0)).toDF("id", "str_col", "float_col").repartition(1))
    t.append(Seq((10L, "c", 3.0), (11L, "d", 4.0)).toDF("id", "str_col", "float_col").repartition(1))
    val before = t.snapshot
    t.delete("id = 10")
    val after = t.snapshot
    // the id 0-1 file is untouched (stats prove id=10 can't be there)
    assert(before.files.map(_.path).toSet.intersect(after.files.map(_.path).toSet).size == 1)
    assert(collectById(t).map(_._1) == Seq(0L, 1L, 11L))
    // no-op delete outside all ranges leaves everything untouched
    val v = t.version
    t.delete("id = 999")
    assert(t.snapshot.files.map(_.path).toSet == after.files.map(_.path).toSet)
    assert(collectById(t).map(_._1) == Seq(0L, 1L, 11L))
  }

  test("DELETE whole-partition fast path: dropped files are never read") {
    val loc = TestSpark.tmpDir("tx-wfd")
    val t = new TxTable(spark, loc)
    t.create(Seq((0L, "a"), (1L, "a"), (2L, "b"), (3L, "c"), (4L, null: String))
      .toDF("id", "p").repartition(1), partitionColumns = Seq("p"))
    // corrupt every parquet byte under the partitions the delete drops:
    // any attempt to READ them now throws, so a passing delete PROVES
    // the fast path removed them manifest-only
    def corrupt(dir: String): Unit = {
      val d = new java.io.File(dir)
      assert(d.isDirectory, s"missing partition dir $dir")
      d.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.write(f.toPath, Array.fill[Byte](64)(0x7f))
      }
    }
    corrupt(s"$loc/p=a")
    corrupt(s"$loc/p=__HIVE_DEFAULT_PARTITION__")
    def ids(tt: TxTable): Seq[Long] =
      tt.toDF.select("id").collect().map(_.getLong(0)).toSeq.sorted
    // OR of a partition equality and IS NULL — both partitions prove
    // TRUE from their tuples alone (three-valued logic included)
    t.delete("p = 'a' OR p IS NULL")
    assert(ids(t) == Seq(2L, 3L))
    // a predicate referencing a NON-partition column takes the rewrite
    // path and stays exact
    t.delete("p = 'b' AND id > 100")
    assert(ids(t) == Seq(2L, 3L))
    // three-valued logic: `p <> 'c'` is UNKNOWN on a null partition —
    // those rows must SURVIVE (the rewrite path keeps them)
    val t2 = new TxTable(spark, TestSpark.tmpDir("tx-wfd2"))
    t2.create(Seq((0L, "a"), (1L, null: String)).toDF("id", "p").repartition(1),
      partitionColumns = Seq("p"))
    t2.delete("p <> 'a'")
    assert(ids(t2) == Seq(0L, 1L))
    // with CDF ON the feed must emit the removed rows, so the fast path
    // is gated off and the delete still reads what it drops
    val loc3 = TestSpark.tmpDir("tx-wfd3")
    DeltaLogWriter.create(spark, loc3,
      Seq((0L, "a"), (1L, "b")).toDF("id", "p").repartition(1),
      partitionColumns = Seq("p"),
      properties = Map("delta.enableChangeDataFeed" -> "true"))
    val t3 = TxTable.forForeignDelta(spark, loc3)
    t3.delete("p = 'a'")
    val changes = t3.tableChanges(1L, None)
      .filter(col("_change_type") === "delete").collect()
    assert(changes.length == 1 && changes(0).getAs[Long]("id") == 0L,
      "CDF delete must still emit the dropped partition's rows")
  }

  test("UPDATE: conditional column rewrite with expression values") {
    val loc = TestSpark.tmpDir("tx")
    val t = new TxTable(spark, loc)
    t.create(df1)
    t.update("id >= 4", Map("float_col" -> "float_col * 10", "str_col" -> "upper(str_col)"))
    assert(collectById(t) == Seq((0L, "a", 1.0), (1L, "b", 2.0), (2L, "c", 3.0),
      (3L, "d", 4.0), (4L, "E", 50.0), (5L, "F", 60.0)))
    intercept[UnsupportedOperationError] { t.update("id = 0", Map("nope" -> "1")) }
  }

  test("merge rewrites only files containing matched rows (file pruning)") {
    val loc = TestSpark.tmpDir("tx")
    val t = new TxTable(spark, loc)
    // three files with disjoint id ranges
    t.create(Seq((0L, "a", 1.0), (1L, "b", 2.0)).toDF("id", "str_col", "float_col").repartition(1))
    t.append(Seq((10L, "c", 3.0), (11L, "d", 4.0)).toDF("id", "str_col", "float_col").repartition(1))
    t.append(Seq((20L, "e", 5.0), (21L, "f", 6.0)).toDF("id", "str_col", "float_col").repartition(1))
    val before = t.snapshot
    assert(before.files.size == 3)

    // merge touches only the middle file (id 10) + inserts a new row
    val src = Seq((10L, "C", 30.0), (99L, "z", 99.0)).toDF("id", "str_col", "float_col")
    t.merge(src, "s.id = t.id").whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()

    val after = t.snapshot
    val beforePaths = before.files.map(_.path).toSet
    val afterPaths = after.files.map(_.path).toSet
    // the two untouched files survive physically
    assert(beforePaths.intersect(afterPaths).size == 2,
      s"expected 2 untouched files, before=$beforePaths after=$afterPaths")
    assert(collectById(t) == Seq((0L, "a", 1.0), (1L, "b", 2.0), (10L, "C", 30.0),
      (11L, "d", 4.0), (20L, "e", 5.0), (21L, "f", 6.0), (99L, "z", 99.0)))
  }

  test("merge probe resolves touched files exactly under suffix-sharing names across directories") {
    // Files "1.parquet" and "sub/1.parquet" share a path suffix. The old
    // endsWith probe filter false-positived the root file into the rewrite
    // set whenever the nested one was touched (and was O(files × touched)
    // on the driver); the normalized-URI map must place each probe path
    // exactly.
    val loc = TestSpark.tmpDir("tx-suffix")
    val fs = new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def writeOne(rows: Seq[(Long, String)], rel: String): TxLog.AddFile = {
      val stage = TestSpark.tmpDir("tx-suffix-stage")
      rows.toDF("id", "str_col").repartition(1).write.mode("overwrite").parquet(stage)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(stage))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      val dst = new org.apache.hadoop.fs.Path(loc, rel)
      fs.mkdirs(dst.getParent)
      assert(fs.rename(part, dst))
      TxLog.AddFile(rel, Map.empty, rows.size.toLong, fs.getFileStatus(dst).getLen)
    }
    val f1 = writeOne(Seq((0L, "a"), (1L, "b")), "1.parquet")
    val f2 = writeOne(Seq((10L, "c"), (11L, "d")), "sub/1.parquet")
    val schema = Seq((0L, "a")).toDF("id", "str_col").schema
    assert(TxLog.tryCommit(spark, loc, TxLog.Commit(0L, System.currentTimeMillis(),
      "CREATE", schema.json, Seq.empty, Seq(f1, f2), Seq.empty, Map.empty)))

    val t = new TxTable(spark, loc)
    t.merge(Seq((10L, "C")).toDF("id", "str_col"), "s.id = t.id")
      .whenMatchedUpdateAll().execute()

    val afterPaths = t.snapshot.files.map(_.path).toSet
    assert(afterPaths.contains("1.parquet"),
      s"untouched suffix-sharing file must survive the merge, got $afterPaths")
    assert(!afterPaths.contains("sub/1.parquet"),
      s"touched file must have been rewritten, got $afterPaths")
    assert(t.toDF.orderBy("id").collect().toSeq.map(r => (r.getLong(0), r.getString(1))) ==
      Seq((0L, "a"), (1L, "b"), (10L, "C"), (11L, "d")))
  }

  test("merge with by-source clauses rewrites the full table (no pruning possible)") {
    val loc = TestSpark.tmpDir("tx")
    val t = new TxTable(spark, loc)
    t.create(df1.repartition(2))
    t.merge(df2, "s.id = t.id")
      .whenMatchedUpdateAll()
      .whenNotMatchedBySourceDelete()
      .execute()
    assert(collectById(t) == Seq((0L, "x", 10.0), (1L, "y", 20.0)))
  }

  test("DELETE keeps rows where the predicate evaluates to NULL") {
    val loc = TestSpark.tmpDir("tx")
    val t = new TxTable(spark, loc)
    val withNulls = Seq[(java.lang.Long, String)]((1L, "a"), (null, "b"), (10L, "c"))
      .toDF("x", "v")
    t.create(withNulls)
    t.delete("x > 5")
    // the x=NULL row must survive: 'NULL > 5' is NULL, not TRUE
    assert(t.toDF.orderBy("v").collect().map(_.getString(1)).toSeq == Seq("a", "b"))
  }

  test("replaceWhere keeps NULL-evaluating rows on the rewrite path") {
    val loc = TestSpark.tmpDir("tx")
    val t = new TxTable(spark, loc)
    val withNulls = Seq[(java.lang.Long, String)]((1L, "a"), (null, "b"), (10L, "c"))
      .toDF("x", "v")
    t.create(withNulls)
    t.replaceWhere(Seq[(java.lang.Long, String)]((20L, "z")).toDF("x", "v"), "x > 5")
    assert(t.toDF.orderBy("v").collect().map(_.getString(1)).toSeq == Seq("a", "b", "z"))
    // and new data with a NULL-evaluating predicate row is rejected
    intercept[UnsupportedOperationError] {
      t.replaceWhere(Seq[(java.lang.Long, String)]((null, "n")).toDF("x", "v"), "x > 5")
    }
  }

  test("UPDATE SET expressions all read the original row (a=b, b=a swaps)") {
    val loc = TestSpark.tmpDir("tx")
    val t = new TxTable(spark, loc)
    t.create(Seq((1L, 10L, 20L)).toDF("id", "a", "b"))
    t.update("id = 1", Map("a" -> "b", "b" -> "a"))
    val r = t.toDF.collect().head
    assert((r.getLong(1), r.getLong(2)) == ((20L, 10L)))
  }

  test("merge commit detects concurrent rewrite of files it read") {
    val loc = TestSpark.tmpDir("tx")
    val t = new TxTable(spark, loc)
    t.create(df1.repartition(1))
    val snap = t.snapshot
    val planned = snap.files.map(_.path)
    // a concurrent DELETE rewrites the file the merge planned to replace
    t.delete("id = 0")
    intercept[java.util.ConcurrentModificationException] {
      t.commitRewrite(df2, planned, snap.version)
    }
  }

  test("merge commit detects concurrent appends it never joined against (WriteSerializable)") {
    val loc = TestSpark.tmpDir("tx")
    val t = new TxTable(spark, loc)
    t.create(df1.repartition(1))
    val snap = t.snapshot
    val planned = snap.files.map(_.path)
    // a concurrent APPEND lands rows the merge's join never saw: committing
    // a not-matched insert blindly could duplicate their keys
    t.append(df2.repartition(1))
    intercept[java.util.ConcurrentModificationException] {
      t.commitRewrite(df2, planned, snap.version)
    }
  }

  test("vacuum skips staging files and honors the retention window") {
    val loc = TestSpark.tmpDir("tx")
    val t = new TxTable(spark, loc)
    t.create(df1.repartition(1))
    t.overwrite(df2.repartition(1)) // v0's file is now unreferenced
    // simulate a concurrent writer's staged file
    val f = TxLog.fs(spark, loc)
    val staged = new org.apache.hadoop.fs.Path(loc, "_staging-zz/part-0.parquet")
    f.mkdirs(staged.getParent)
    val out = f.create(staged, false); out.write(1); out.close()
    // the default 7-day retention window protects the just-unreferenced file
    assert(t.vacuum(retainVersions = 1) == 0)
    assert(f.exists(staged))
    // sub-floor retention must be forced explicitly (in-flight-commit safety)
    intercept[graft.catalog.UnsupportedOperationError] {
      t.vacuum(retainVersions = 1, retentionMs = 0L)
    }
    // forced zero retention removes the old data file but never staging files
    assert(t.vacuum(retainVersions = 1, retentionMs = 0L, force = true) == 1)
    assert(f.exists(staged))
    assert(t.toDF.count() == 4)
  }

  test("partitioned reads prune by partition column filter") {
    val loc = TestSpark.tmpDir("tx")
    val t = new TxTable(spark, loc)
    val part = df1.withColumn("p", (col("id") % 2).cast("long"))
    t.create(part, partitionColumns = Seq("p"))
    val plan = t.toDF.filter("p = 0").queryExecution.executedPlan.toString
    // partition filter must appear as a partition filter, not a data filter
    assert(plan.contains("PartitionFilters") && plan.contains("p#"), plan)
  }
}
