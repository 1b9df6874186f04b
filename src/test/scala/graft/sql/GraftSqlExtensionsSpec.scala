package graft.sql

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.catalog.FileType
import graft.client.LakehouseClient

class GraftSqlExtensionsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("3-part names resolve through the graft catalog in spark.sql") {
    val client = new LakehouseClient(spark)
    client.createCatalog("lake")
    client.createSchema("lake", "core")
    val dir = TestSpark.tmpDir("sqlext")
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "name", "v")
    client.createAsTable(df, "lake", "core", "items", FileType.DELTA, s"$dir/items")
    client.createAsTable(df.filter($"id" > 1), "lake", "core", "sub", FileType.PARQUET, s"$dir/sub.parquet")

    // plain select over the transactional table
    val r1 = spark.sql("SELECT id, v FROM lake.core.items WHERE id >= 2 ORDER BY id").collect()
    assert(r1.map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((2L, 20.0), (3L, 30.0)))

    // join across two 3-part tables of different formats
    val r2 = spark.sql("""SELECT a.id, a.name FROM lake.core.items a
        JOIN lake.core.sub b ON a.id = b.id ORDER BY a.id""").collect()
    assert(r2.map(_.getLong(0)).toSeq == Seq(2L, 3L))

    // unknown table still raises Spark's normal error
    intercept[Exception] { spark.sql("SELECT * FROM lake.core.missing").collect() }
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF on 3-part names") {
    val client = new LakehouseClient(spark)
    client.createCatalog("lake3")
    client.createSchema("lake3", "core")
    val dir = TestSpark.tmpDir("sqltravel")
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    client.createAsTable(df, "lake3", "core", "t", FileType.DELTA, s"$dir/t") // v0
    val afterCreate = System.currentTimeMillis()
    Thread.sleep(5)
    client.writeTable(Seq((3L, "c")).toDF("id", "v"), "lake3", "core", "t",
      graft.catalog.WriteMode.APPEND) // v1

    assert(spark.sql("SELECT COUNT(*) FROM lake3.core.t").collect()(0).getLong(0) == 3)
    assert(spark.sql("SELECT COUNT(*) FROM lake3.core.t VERSION AS OF 0")
      .collect()(0).getLong(0) == 2)
    val ts = new java.sql.Timestamp(afterCreate).toString
    assert(spark.sql(s"SELECT COUNT(*) FROM lake3.core.t TIMESTAMP AS OF '$ts'")
      .collect()(0).getLong(0) == 2)

    // iceberg tables travel by metadata version through the same syntax
    client.createAsTable(df, "lake3", "core", "ice", FileType.ICEBERG, s"$dir/ice")
    client.writeTable(Seq((3L, "c")).toDF("id", "v"), "lake3", "core", "ice",
      graft.catalog.WriteMode.APPEND)
    assert(spark.sql("SELECT COUNT(*) FROM lake3.core.ice VERSION AS OF 1")
      .collect()(0).getLong(0) == 2)
    assert(spark.sql("SELECT COUNT(*) FROM lake3.core.ice").collect()(0).getLong(0) == 3)

    // non-transactional formats refuse with a typed error
    client.createAsTable(df, "lake3", "core", "p", FileType.PARQUET, s"$dir/p.parquet")
    val ex = intercept[Exception] {
      spark.sql("SELECT * FROM lake3.core.p VERSION AS OF 0").collect()
    }
    assert(ex.getMessage.contains("transactional") || ex.toString.contains("transactional"))
  }

  test("COUNT(*) on a transactional catalog table answers from the log, not a scan") {
    val client = new LakehouseClient(spark)
    client.createCatalog("lakec")
    client.createSchema("lakec", "core")
    val dir = TestSpark.tmpDir("sqlcount")
    val df = (1L to 100L).map(i => (i, s"n$i")).toDF("id", "name")
    client.createAsTable(df, "lakec", "core", "t", FileType.DELTA, s"$dir/t")

    def planOf(sql: String) =
      spark.sql(sql).queryExecution.executedPlan.toString
    def scansIn(p: String) = p.count(_ == '\n') > 0 && p.contains("FileScan")

    val q = spark.sql("SELECT COUNT(*) FROM lakec.core.t")
    assert(q.collect()(0).getLong(0) == 100L)
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("LocalTableScan") && !p.contains("FileScan"),
      s"metadata-only count must not scan\n$p")

    // stays exact through deletes (rows minus DV cardinalities on MoR)
    client.getTxTable("lakec", "core", "t").delete("id <= 10")
    assert(spark.sql("SELECT COUNT(*) FROM lakec.core.t").collect()(0).getLong(0) == 90L)

    // a WHERE clause must fall back to the scan and stay correct
    val filtered = spark.sql("SELECT COUNT(*) FROM lakec.core.t WHERE id > 50")
    assert(filtered.collect()(0).getLong(0) == 50L)
    assert(scansIn(filtered.queryExecution.executedPlan.toString),
      "filtered count must scan")

    // COUNT(col) is null-sensitive: answered from per-file NULL COUNTS
    // (Σ rows − nullCount) — metadata-only here because the delete above
    // was copy-on-write (no DVs survive on the native log)
    val byCol = spark.sql("SELECT COUNT(name) FROM lakec.core.t")
    assert(byCol.collect()(0).getLong(0) == 90L)
    assert(!scansIn(byCol.queryExecution.executedPlan.toString),
      "COUNT(col) with full null-count stats must answer metadata-only")
    // planted nulls subtract exactly; a merge-on-read DV forces the scan
    // (a deleted row's nullness is unknowable from metadata)
    val dirN = TestSpark.tmpDir("sqlcount-nulls")
    val dfN = (1L to 50L).map(i => (i, if (i % 5 == 0) null else s"n$i"))
      .toDF("id", "name")
    graft.tables.DeltaLogWriter.create(spark, s"$dirN/t", dfN.repartition(2),
      properties = Map("delta.enableDeletionVectors" -> "true"))
    client.registerAsTable("lakec", "core", "tn", FileType.DELTA, s"$dirN/t")
    val qn = spark.sql("SELECT COUNT(name) AS n FROM lakec.core.tn")
    assert(qn.collect()(0).getLong(0) == 40L)
    assert(!scansIn(qn.queryExecution.executedPlan.toString))
    graft.tables.TxTable.forForeignDelta(spark, s"$dirN/t").delete("id <= 3")
    val qnd = spark.sql("SELECT COUNT(name) AS n FROM lakec.core.tn")
    assert(qnd.collect()(0).getLong(0) == 37L)
    assert(scansIn(qnd.queryExecution.executedPlan.toString),
      "COUNT(col) under live DVs must scan")

    // grouped counts are untouched
    assert(spark.sql("SELECT id % 2, COUNT(*) FROM lakec.core.t GROUP BY 1")
      .collect().map(_.getLong(1)).sum == 90L)

    // iceberg tables get the same rewrite
    client.createAsTable(df, "lakec", "core", "ice", FileType.ICEBERG, s"$dir/ice")
    val qi = spark.sql("SELECT COUNT(*) FROM lakec.core.ice")
    assert(qi.collect()(0).getLong(0) == 100L)
    assert(qi.queryExecution.executedPlan.toString.contains("LocalTableScan"))

    // time-traveled counts are metadata-only too, pinned at the version
    val qv = spark.sql("SELECT COUNT(*) FROM lakec.core.t VERSION AS OF 0")
    assert(qv.collect()(0).getLong(0) == 100L)
    assert(qv.queryExecution.executedPlan.toString.contains("LocalTableScan"))

    // plain parquet has no log: correct via scan
    client.createAsTable(df, "lakec", "core", "p", FileType.PARQUET, s"$dir/p.parquet")
    assert(spark.sql("SELECT COUNT(*) FROM lakec.core.p").collect()(0).getLong(0) == 100L)
  }

  test("table_changes TVF streams the change feed through SQL") {
    val client = new LakehouseClient(spark)
    client.createCatalog("lakecdf")
    client.createSchema("lakecdf", "core")
    val dir = TestSpark.tmpDir("sqlcdf")
    client.createAsTable(Seq((1L, "a"), (2L, "b")).toDF("id", "s"),
      "lakecdf", "core", "t", FileType.ICEBERG, s"$dir/t")            // v1
    val t = client.getTxTable("lakecdf", "core", "t")
    t.append(Seq((3L, "c")).toDF("id", "s"))                           // v2
    t.delete("id = 1")                                                 // v3

    val all = spark.sql(
      "SELECT id, _change_type, _commit_version FROM table_changes('lakecdf.core.t', 1)")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(all == Set((1L, "insert", 1L), (2L, "insert", 1L),
      (3L, "insert", 2L), (1L, "delete", 3L)), all.toString)

    // bounded window + projection/aggregation compose over the TVF
    val win = spark.sql(
      """SELECT _change_type, COUNT(*) AS n
         FROM table_changes('lakecdf.core.t', 2, 3) GROUP BY 1""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(win == Map("insert" -> 1L, "delete" -> 1L))

    // malformed name raises a clear error
    val ex = intercept[Exception] {
      spark.sql("SELECT * FROM table_changes('core.t', 1)").collect()
    }
    assert(ex.getMessage.contains("3-part") || ex.toString.contains("3-part"))

    // TIMESTAMP bounds: the from/to literals map through the log's
    // versionAtTimestamp — from is first-commit-at-or-after, to is
    // last-commit-at-or-before (Delta's TVF convention, type-dispatched)
    val vts = spark.sql(
      "SELECT DISTINCT _commit_version, _commit_timestamp FROM table_changes('lakecdf.core.t', 1)")
      .collect().map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    def lit(v: Long) = fmt.format(vts(v))
    val byTs = spark.sql(
      s"""SELECT id, _change_type FROM
          table_changes('lakecdf.core.t', '${lit(2)}', '${lit(3)}')""")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(byTs == Set((3L, "insert"), (1L, "delete")), byTs.toString)
    // TIMESTAMP-typed literal, from-only, exact boundary is INCLUSIVE
    val fromOnly = spark.sql(
      s"SELECT COUNT(*) AS n FROM table_changes('lakecdf.core.t', TIMESTAMP'${lit(3)}')")
      .collect()(0).getLong(0)
    assert(fromOnly == 1L)
    // a from-timestamp before the first commit means the whole feed
    assert(spark.sql(
      "SELECT COUNT(*) FROM table_changes('lakecdf.core.t', TIMESTAMP'1999-01-01 00:00:00')")
      .collect()(0).getLong(0) == 4L)
    // unparseable timestamp string raises a clear error
    val bad = intercept[Exception] {
      spark.sql("SELECT * FROM table_changes('lakecdf.core.t', 'not-a-time')").collect()
    }
    assert(bad.getMessage.contains("cannot parse timestamp") ||
      bad.toString.contains("cannot parse timestamp"))
  }

  test("MIN/MAX on stats-covered columns answer from the log; unprovable cases scan") {
    val client = new LakehouseClient(spark)
    client.createCatalog("lakemm")
    client.createSchema("lakemm", "core")
    val dir = TestSpark.tmpDir("sqlminmax")
    val df = Seq(
      (5L, 3, java.sql.Date.valueOf("2024-03-01"), "x", Some(1.5)),
      (1L, 9, java.sql.Date.valueOf("2023-01-15"), "y", None),
      (7L, 4, java.sql.Date.valueOf("2024-07-09"), "z", Some(2.5)))
      .toDF("id", "k", "d", "s", "f")
    client.createAsTable(df.repartition(2), "lakemm", "core", "t",
      FileType.DELTA, s"$dir/t")

    def planOf(q: org.apache.spark.sql.DataFrame) =
      q.queryExecution.executedPlan.toString
    val q = spark.sql(
      "SELECT COUNT(*), MIN(id), MAX(id), MIN(k), MAX(k), MIN(d), MAX(d) FROM lakemm.core.t")
    val r = q.collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4)) ==
      (3L, 1L, 7L, 3, 9))
    assert((r.getDate(5).toString, r.getDate(6).toString) == ("2023-01-15", "2024-07-09"))
    assert(planOf(q).contains("LocalTableScan") && !planOf(q).contains("FileScan"),
      s"stats-covered MIN/MAX must not scan\n${planOf(q)}")

    // unprovable shapes fall back to the scan and stay correct:
    // strings (truncatable stats) and floats (NaN-unsound extremes)
    val qs = spark.sql("SELECT MIN(s), MAX(f) FROM lakemm.core.t")
    assert(planOf(qs).contains("FileScan"))
    assert((qs.collect()(0).getString(0), qs.collect()(0).getDouble(1)) == ("x", 2.5))
    // filtered / grouped aggregates are untouched
    assert(planOf(spark.sql("SELECT MIN(id) FROM lakemm.core.t WHERE k > 3"))
      .contains("FileScan"))
    // a Project ALIAS over a computed column must not be mistaken for
    // the relation's own attribute (exprId mismatch → scan)
    val qa = spark.sql(
      "SELECT MIN(x) FROM (SELECT id + 1 AS x FROM lakemm.core.t)")
    assert(planOf(qa).contains("FileScan"))
    assert(qa.collect()(0).getLong(0) == 2L)
    // but a pass-through subquery SELECT keeps the rewrite
    val qp = spark.sql("SELECT MAX(id) FROM (SELECT id FROM lakemm.core.t)")
    assert(qp.collect()(0).getLong(0) == 7L)
    assert(planOf(qp).contains("LocalTableScan") && !planOf(qp).contains("FileScan"))

    // a live deletion vector could have deleted the extreme → scan
    graft.tables.DeltaLogWriter.create(spark, s"$dir/dv",
      (1L to 50L).toDF("id"),
      properties = Map("delta.enableDeletionVectors" -> "true"))
    client.registerAsTable("lakemm", "core", "dv", FileType.DELTA, s"$dir/dv")
    graft.tables.TxTable.forForeignDelta(spark, s"$dir/dv").delete("id >= 49")
    val qdv = spark.sql("SELECT MIN(id), MAX(id) FROM lakemm.core.dv")
    assert(planOf(qdv).contains("FileScan"))
    assert((qdv.collect()(0).getLong(0), qdv.collect()(0).getLong(1)) == (1L, 48L))
  }

  test("COUNT(*) snapshot consistency: a held DataFrame counts its own snapshot") {
    val client = new LakehouseClient(spark)
    client.createCatalog("lakesnap")
    client.createSchema("lakesnap", "core")
    val dir = TestSpark.tmpDir("sqlsnap")
    client.createAsTable((1L to 40L).toDF("id"),
      "lakesnap", "core", "t", FileType.DELTA, s"$dir/t")
    // resolve the read BEFORE the commit and hold it
    val held = spark.sql("SELECT * FROM lakesnap.core.t")
    client.getTxTable("lakesnap", "core", "t").append((41L to 60L).toDF("id"))
    // the held plan pinned its file list at resolution time — count()
    // (which may answer metadata-only) and collect() must AGREE on the
    // pinned snapshot, not leak the concurrent commit's rows into one
    // of them
    val r0 = graft.tables.SnapshotCache.replayCount.get()
    assert(held.count() == 40L, "held df count must reflect the pinned snapshot")
    assert(graft.tables.SnapshotCache.replayCount.get() == r0,
      "the held read's count serves from its own snapshot, replaying nothing")
    assert(held.collect().length == 40)
    // a fresh resolution sees the new commit, still metadata-only
    val fresh = spark.sql("SELECT COUNT(*) FROM lakesnap.core.t")
    assert(fresh.collect()(0).getLong(0) == 60L)
    assert(fresh.queryExecution.executedPlan.toString.contains("LocalTableScan"))
  }

  test("merge results visible via SQL immediately (no view re-registration)") {
    val client = new LakehouseClient(spark)
    client.createCatalog("lake2")
    client.createSchema("lake2", "core")
    val dir = TestSpark.tmpDir("sqlext2")
    val df = Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")
    client.createAsTable(df, "lake2", "core", "t", FileType.DELTA, s"$dir/t")
    client.getTxTable("lake2", "core", "t")
      .merge(Seq((2L, 20.0), (3L, 30.0)).toDF("id", "v"), "s.id = t.id")
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    val out = spark.sql("SELECT v FROM lake2.core.t ORDER BY id").collect().map(_.getDouble(0))
    assert(out.toSeq == Seq(1.0, 20.0, 30.0))
  }

  test("partition-grouped COUNT/MIN/MAX answer from the file list") {
    val client = new LakehouseClient(spark)
    client.createCatalog("lakegrp")
    client.createSchema("lakegrp", "core")
    val dir = TestSpark.tmpDir("sqlgrp")
    val df = Seq(
      (1L, "a", 10), (2L, "a", 20), (3L, "a", 30),
      (4L, "b", 5), (5L, "b", 15),
      (6L, "c", 99)).toDF("id", "p", "k")
    // foreign Delta with DVs so the DELETE below is merge-on-read
    graft.tables.DeltaLogWriter.create(spark, s"$dir/t", df.repartition(2),
      partitionColumns = Seq("p"),
      properties = Map("delta.enableDeletionVectors" -> "true"))
    client.registerAsTable("lakegrp", "core", "t", FileType.DELTA, s"$dir/t")

    def planOf(q: org.apache.spark.sql.DataFrame) =
      q.queryExecution.executedPlan.toString
    val q = spark.sql("""SELECT p, COUNT(*) AS n, MIN(id) AS lo, MAX(k) AS hi
      FROM lakegrp.core.t GROUP BY p ORDER BY p""")
    assert(q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq ==
      Seq(("a", 3L, 1L, 30), ("b", 2L, 4L, 15), ("c", 1L, 6L, 99)))
    assert(planOf(q).contains("LocalTableScan") && !planOf(q).contains("FileScan"),
      s"partition-grouped rollup must not scan\n${planOf(q)}")
    // grouping by the partition column ITSELF with MIN/MAX of it works
    // (exact partition values serve as both key and extreme)
    val qp = spark.sql("SELECT p, MIN(p) FROM lakegrp.core.t GROUP BY p")
    assert(planOf(qp).contains("FileScan"), "string extremes keep the scan")
    // a NON-partition group key keeps the scan and stays correct
    val qk = spark.sql("SELECT k, COUNT(*) AS n FROM lakegrp.core.t GROUP BY k")
    assert(planOf(qk).contains("FileScan"))
    assert(qk.collect().length == 6)

    // merge-on-read delete: per-group counts subtract DV cardinalities
    // metadata-only; MIN/MAX correctly falls back to the scan; a group
    // whose EVERY row is deleted is omitted, as SQL GROUP BY demands
    graft.tables.TxTable.forForeignDelta(spark, s"$dir/t").delete("k >= 20 OR p = 'c'")
    val q2 = spark.sql("""SELECT p, COUNT(*) AS n
      FROM lakegrp.core.t GROUP BY p ORDER BY p""")
    assert(q2.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 1L), ("b", 2L)), "group c (fully deleted) must be omitted")
    assert(planOf(q2).contains("LocalTableScan") && !planOf(q2).contains("FileScan"),
      s"grouped count under DVs is still metadata-only\n${planOf(q2)}")
    val q3 = spark.sql("SELECT p, MAX(k) AS hi FROM lakegrp.core.t GROUP BY p ORDER BY p")
    assert(planOf(q3).contains("FileScan"), "a DV row could be a group's extreme")
    assert(q3.collect().map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("a", 10), ("b", 15)))

    // SELECT DISTINCT partition_col is the grouped rule's degenerate
    // case (group key only, no aggregates): answered from the file
    // list, fully-deleted groups omitted — "which days exist" on a 100
    // TB day-partitioned table is one snapshot read, not a scan
    val qd = spark.sql("SELECT DISTINCT p FROM lakegrp.core.t ORDER BY p")
    assert(qd.collect().map(_.getString(0)).toSeq == Seq("a", "b"),
      "fully-deleted partition c must not surface")
    assert(planOf(qd).contains("LocalTableScan") && !planOf(qd).contains("FileScan"),
      s"DISTINCT partition-col must not scan\n${planOf(qd)}")
  }

  test("partition-only WHERE absorbs into the metadata-only aggregates") {
    val client = new LakehouseClient(spark)
    client.createCatalog("lakepf")
    client.createSchema("lakepf", "core")
    val dir = TestSpark.tmpDir("sqlpf")
    val df = Seq(
      (1L, "a", 10), (2L, "a", 20), (3L, "a", 30),
      (4L, "b", 5), (5L, "b", 15),
      (6L, "c", 99)).toDF("id", "p", "k")
    client.createAsTable(df.repartition(2), "lakepf", "core", "t",
      FileType.DELTA, s"$dir/t", partitionColumns = Seq("p"))

    def planOf(q: org.apache.spark.sql.DataFrame) =
      q.queryExecution.executedPlan.toString
    // ungrouped with a partition equality: scan-free and exact
    val q = spark.sql(
      "SELECT COUNT(*) AS n, MIN(id) AS lo, MAX(k) AS hi FROM lakepf.core.t WHERE p = 'a'")
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq ==
      Seq((3L, 1L, 30)))
    assert(planOf(q).contains("LocalTableScan") && !planOf(q).contains("FileScan"),
      s"partition-filtered aggregate must not scan\n${planOf(q)}")
    // IN list; empty-match partition yields the SQL empty-scope row
    val qin = spark.sql(
      "SELECT COUNT(*) AS n FROM lakepf.core.t WHERE p IN ('b', 'c')")
    assert(qin.collect()(0).getLong(0) == 3L)
    assert(!planOf(qin).contains("FileScan"))
    val qnone = spark.sql(
      "SELECT COUNT(*) AS n, MIN(id) AS lo FROM lakepf.core.t WHERE p = 'zz'")
    assert(qnone.collect().map(r => (r.getLong(0), r.isNullAt(1))).toSeq == Seq((0L, true)))
    assert(!planOf(qnone).contains("FileScan"))
    // grouped rollup under a partition filter
    val qg = spark.sql("""SELECT p, COUNT(*) AS n FROM lakepf.core.t
      WHERE p IN ('a', 'b') GROUP BY p ORDER BY p""")
    assert(qg.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 3L), ("b", 2L)))
    assert(!planOf(qg).contains("FileScan"))
    // NON-partition filter keeps the scan and stays correct
    val qk = spark.sql("SELECT COUNT(*) AS n FROM lakepf.core.t WHERE k > 10")
    assert(planOf(qk).contains("FileScan"), "non-partition predicates must scan")
    assert(qk.collect()(0).getLong(0) == 4L)
    // mixed partition + non-partition conjuncts keep the scan
    val qm = spark.sql("SELECT COUNT(*) AS n FROM lakepf.core.t WHERE p = 'a' AND k > 10")
    assert(planOf(qm).contains("FileScan"))
    assert(qm.collect()(0).getLong(0) == 2L)
    // DISTINCT under a partition filter
    val qd = spark.sql("SELECT DISTINCT p FROM lakepf.core.t WHERE p IN ('a', 'zz')")
    assert(qd.collect().map(_.getString(0)).toSeq == Seq("a"))
    assert(!planOf(qd).contains("FileScan"))
    // RANGE predicates on the partition column (binary string ordering
    // — matches Spark's default collation exactly)
    val qr = spark.sql("SELECT COUNT(*) AS n FROM lakepf.core.t WHERE p >= 'b'")
    assert(qr.collect()(0).getLong(0) == 3L)
    assert(!planOf(qr).contains("FileScan"), "partition range must not scan")
    val qb = spark.sql(
      "SELECT COUNT(*) AS n FROM lakepf.core.t WHERE p BETWEEN 'a' AND 'b'")
    assert(qb.collect()(0).getLong(0) == 5L)
    assert(!planOf(qb).contains("FileScan"))
    val qgt = spark.sql(
      "SELECT COUNT(*) AS n, MAX(id) AS hi FROM lakepf.core.t WHERE 'b' > p")
    assert(qgt.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((3L, 3L)))
    assert(!planOf(qgt).contains("FileScan"))

    // DATE-partitioned table: the day-range dashboard shape
    val dir2 = TestSpark.tmpDir("sqlpf-date")
    client.createAsTable(
      Seq((1L, "2024-01-01"), (2L, "2024-01-02"), (3L, "2024-01-02"),
        (4L, "2024-01-03")).toDF("id", "d")
        .selectExpr("id", "CAST(d AS DATE) AS d"),
      "lakepf", "core", "td", FileType.DELTA, s"$dir2/td",
      partitionColumns = Seq("d"))
    val qdr = spark.sql(
      "SELECT COUNT(*) AS n FROM lakepf.core.td WHERE d >= DATE'2024-01-02'")
    assert(qdr.collect()(0).getLong(0) == 3L)
    assert(!planOf(qdr).contains("FileScan"), "date range must not scan")
  }

  test("ANALYZE stamps NDV stats; APPROX_COUNT_DISTINCT answers metadata-only while fresh") {
    val client = new LakehouseClient(spark)
    client.createCatalog("lakestats")
    client.createSchema("lakestats", "core")
    val dir = TestSpark.tmpDir("sqlstats")
    client.createAsTable(
      (0 until 900).map(i => (i.toLong, s"u${i % 120}")).toDF("id", "u"),
      "lakestats", "core", "t", FileType.DELTA, s"$dir/t")

    // one scan, exact below k: 900 ids, 120 users
    val analyzed = spark.sql(
      "ANALYZE TABLE lakestats.core.t COMPUTE STATISTICS FOR COLUMNS id, u")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(analyzed == Map("id" -> 900L, "u" -> 120L))

    def planOf(q: org.apache.spark.sql.DataFrame) = q.queryExecution.executedPlan.toString
    val q = spark.sql(
      "SELECT COUNT(*) AS n, APPROX_COUNT_DISTINCT(u) AS du FROM lakestats.core.t")
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((900L, 120L)))
    assert(planOf(q).contains("LocalTableScan") && !planOf(q).contains("FileScan"),
      s"fresh stats must answer metadata-only\n${planOf(q)}")
    // the same ANALYZE scan stamps EXACT integral sums — SUM(id) serves
    // scan-free while fresh
    val qs = spark.sql("SELECT SUM(id) AS s FROM lakestats.core.t")
    assert(qs.collect()(0).getLong(0) == (0L until 900L).sum)
    assert(!planOf(qs).contains("FileScan"),
      s"fresh exact sum must answer metadata-only\n${planOf(qs)}")

    // an APPEND no longer invalidates: the batch FOLDS into the stamp
    // (sketch merge + sum add, O(batch)) and both answers stay
    // scan-free AND exact — the COPY INTO-fed-table production path
    spark.sql("INSERT INTO lakestats.core.t VALUES (9000, 'u_new')")
    val q2 = spark.sql("SELECT APPROX_COUNT_DISTINCT(id) AS di FROM lakestats.core.t")
    assert(!planOf(q2).contains("FileScan"),
      s"append must fold into the stamp, not invalidate it\n${planOf(q2)}")
    assert(q2.collect()(0).getLong(0) == 901L)
    val qs2 = spark.sql("SELECT SUM(id) AS s FROM lakestats.core.t")
    assert(!planOf(qs2).contains("FileScan"))
    assert(qs2.collect()(0).getLong(0) == (0L until 900L).sum + 9000L)
    // a provable DELETE folds (round 14): SUM subtracts and stays
    // scan-free, while the sketch honestly CANNOT un-see the removed
    // id — APPROX falls back to the scan, stays correct
    spark.sql("DELETE FROM lakestats.core.t WHERE id = 0")
    val q2d = spark.sql("SELECT APPROX_COUNT_DISTINCT(id) AS di FROM lakestats.core.t")
    assert(planOf(q2d).contains("FileScan"), "a sketch cannot fold a removal")
    assert(math.abs(q2d.collect()(0).getLong(0) - 900L) < 50L)
    val qs2d = spark.sql("SELECT SUM(id) AS s FROM lakestats.core.t")
    assert(!planOf(qs2d).contains("FileScan"),
      s"a provable delete must fold SUM, not kill it\n${planOf(qs2d)}")
    assert(qs2d.collect()(0).getLong(0) == (1L until 900L).sum + 9000L)
    // partial re-ANALYZE of u over a FRESH stamp (the delete fold above
    // restamped the fingerprint) MERGES: sum.id provably describes this
    // same snapshot and survives — analyzing a new column must not
    // destroy yesterday's still-valid stats. (Over a STALE stamp the
    // other columns' keys clear instead — pinned below via overwrite.)
    spark.sql("ANALYZE TABLE lakestats.core.t COMPUTE STATISTICS FOR COLUMNS u")
    assert(!planOf(spark.sql("SELECT SUM(id) AS s FROM lakestats.core.t"))
      .contains("FileScan"), "a fresh sum key must merge through a partial re-ANALYZE")
    assert(spark.sql("SELECT SUM(id) AS s FROM lakestats.core.t")
      .collect()(0).getLong(0) == (1L until 900L).sum + 9000L)
    // ...but the kmv sketch the delete fold unset does NOT resurrect
    assert(planOf(spark.sql(
      "SELECT APPROX_COUNT_DISTINCT(id) AS di FROM lakestats.core.t"))
      .contains("FileScan"), "an unset key must stay unset through the merge")
    // re-ANALYZE restores the metadata-only answer at the new state
    spark.sql("ANALYZE TABLE lakestats.core.t COMPUTE STATISTICS FOR COLUMNS u")
    val q3 = spark.sql("SELECT APPROX_COUNT_DISTINCT(u) AS du FROM lakestats.core.t")
    assert(q3.collect()(0).getLong(0) == 121L)
    assert(!planOf(q3).contains("FileScan"))
    // a column never analyzed keeps the scan
    val q4 = spark.sql("SELECT APPROX_COUNT_DISTINCT(id) AS di FROM lakestats.core.t")
    assert(planOf(q4).contains("FileScan"))
    // unknown column raises the typed error
    intercept[Exception](spark.sql(
      "ANALYZE TABLE lakestats.core.t COMPUTE STATISTICS FOR COLUMNS nope"))
    // FOR ALL COLUMNS stamps every schema field in one scan
    val all = spark.sql(
      "ANALYZE TABLE lakestats.core.t COMPUTE STATISTICS FOR ALL COLUMNS")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(all.keySet == Set("id", "u"))
    assert(all("id") == 900L && all("u") == 121L) // id=0 deleted, 9000 added
    val qa = spark.sql("SELECT APPROX_COUNT_DISTINCT(id) AS di FROM lakestats.core.t")
    assert(qa.collect()(0).getLong(0) == 900L)
    assert(!planOf(qa).contains("FileScan"))
    // and the maintained stamp keeps serving across a further append
    spark.sql("INSERT INTO lakestats.core.t VALUES (9001, 'u_new2')")
    val qf = spark.sql("""SELECT APPROX_COUNT_DISTINCT(id) AS di,
        APPROX_COUNT_DISTINCT(u) AS du, SUM(id) AS s FROM lakestats.core.t""")
    assert(!planOf(qf).contains("FileScan"), "fold must keep the stamp fresh")
    assert(qf.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((901L, 122L, (1L until 900L).sum + 9000L + 9001L)))
    // content-preserving maintenance keeps the stamp too: OPTIMIZE
    // rewrites files but not rows — fingerprint re-issued in the same
    // hook, answers still scan-free and exact
    spark.sql("OPTIMIZE lakestats.core.t")
    val qo = spark.sql("SELECT SUM(id) AS s, APPROX_COUNT_DISTINCT(id) AS d FROM lakestats.core.t")
    assert(!planOf(qo).contains("FileScan"),
      s"OPTIMIZE must restamp, not kill, fresh stats\n${planOf(qo)}")
    assert(qo.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq(((1L until 900L).sum + 9000L + 9001L, 901L)))
    // SHOW STATISTICS: the stamp's inspection surface — one row per
    // analyzed column, fresh verdict flipping with staleness
    val shown = spark.sql("SHOW STATISTICS FOR lakestats.core.t")
    assert(shown.columns.toSeq ==
      Seq("column", "ndv", "cnt", "sum", "avg", "stddev", "min", "max",
        "exact", "partition_tuples", "stamped_version", "fresh",
        "layer_storage", "sidecar_file", "sidecar_bytes", "dropped_families"))
    val rows = shown.collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("id", "u"))
    assert(rows("id").getBoolean(11) && rows("u").getBoolean(11))
    // unpartitioned table: no per-partition layer to report
    assert(rows("id").isNullAt(9) && rows("u").isNullAt(9))
    assert(rows("id").getString(6) == "1" && rows("id").getString(7) == "9001")
    assert(rows("u").getString(3) == null, "no sum for a string column")
    // derived moment surface: cnt for every analyzed column, AVG and
    // STDDEV(pop) for the integral one — exact-integer math, one
    // division, matching the serve path
    assert(rows("id").getLong(2) == 901L && rows("u").getLong(2) == 901L)
    val idVals = (1L until 900L) ++ Seq(9000L, 9001L)
    assert(rows("id").getDouble(4) ==
      idVals.map(BigInt(_)).sum.toDouble / idVals.size.toDouble)
    val (bn, bs, bq) = (BigInt(idVals.size), idVals.map(BigInt(_)).sum,
      idVals.map(x => BigInt(x) * x).sum)
    assert(rows("id").getDouble(5) ==
      math.sqrt((bn * bq - bs * bs).toDouble / (bn * bn).toDouble))
    assert(rows("u").isNullAt(4) && rows("u").isNullAt(5),
      "no moments for a string column")
    // both columns sit under k=4096 distinct: exact regime, flagged so
    assert(rows("id").getBoolean(8) && rows("u").getBoolean(8))
    // the stamp binds to the latest fold/restamp commit, not version 0
    assert(!rows("id").isNullAt(10) && rows("id").getLong(10) > 0L)
    // a provable DELETE folds (round 14): the stamp STAYS fresh with
    // the sum subtracted, the tied extreme pair dropped (id=1 IS the
    // stamped min), and NDV honestly gone
    spark.sql("DELETE FROM lakestats.core.t WHERE id = 1")
    val shown2 = spark.sql("SHOW STATISTICS FOR lakestats.core.t").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(shown2("id").getBoolean(11), "delete fold must keep the stamp fresh")
    assert(shown2("id").getString(3) ==
      ((2L until 900L).sum + 9000L + 9001L).toString, "sum must subtract")
    assert(shown2("id").getString(6) == null && shown2("id").getString(7) == null,
      "a tied extreme pair must drop")
    assert(shown2("id").isNullAt(1), "NDV cannot fold a removal")
    // a CoW UPDATE folds (round 14): only the ASSIGNED column's stats
    // unset — its SHOW row disappears — while the other column's row
    // stays fresh and servable
    spark.sql("UPDATE lakestats.core.t SET u = u WHERE id = 2")
    val shown3 = spark.sql("SHOW STATISTICS FOR lakestats.core.t").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(!shown3.contains("u"), "the assigned column's stamp must unset")
    assert(shown3("id").getBoolean(11), "the unassigned column must stay fresh")
    // a genuine rewrite (overwrite) still flips fresh to false
    client.getTxTable("lakestats", "core", "t")
      .overwrite(Seq((1L, "x")).toDF("id", "u"))
    assert(spark.sql("SHOW STATISTICS FOR lakestats.core.t").collect()
      .forall(!_.getBoolean(11)), "fresh must flip to false after an overwrite")
  }

  test("SHOW STATISTICS surfaces the layer's storage regime and budget drops") {
    val client = new LakehouseClient(spark)
    client.createCatalog("lakestore")
    client.createSchema("lakestore", "core")
    val dir = TestSpark.tmpDir("sqlstore")
    def shown(t: String) =
      spark.sql(s"SHOW STATISTICS FOR lakestore.core.$t").collect()
        .map(r => r.getString(0) -> r).toMap
    def planOf(q: org.apache.spark.sql.DataFrame) =
      q.queryExecution.executedPlan.toString
    // unpartitioned: no per-partition layer at all → absent
    client.createAsTable((1L to 50L).map(i => (i, i * 3)).toDF("id", "v"),
      "lakestore", "core", "flat", FileType.DELTA, s"$dir/flat")
    spark.sql("ANALYZE TABLE lakestore.core.flat COMPUTE STATISTICS FOR COLUMNS v")
    val flat = shown("flat")("v")
    assert(flat.getString(12) == "absent" && flat.isNullAt(13) &&
      flat.isNullAt(14) && flat.isNullAt(15))
    // few tuples: the layer lives inline, nothing dropped
    client.createAsTable(
      (1L to 300L).map(i => (i, s"p${i % 3}")).toDF("v", "p"),
      "lakestore", "core", "small", FileType.DELTA, s"$dir/small",
      partitionColumns = Seq("p"))
    spark.sql("ANALYZE TABLE lakestore.core.small COMPUTE STATISTICS FOR COLUMNS v")
    val small = shown("small")("v")
    assert(small.getString(12) == "inline" && small.isNullAt(13) &&
      small.isNullAt(15))
    // 60 tuples: still inline (≤64) but 60 qs cells bust the 48-cell qs
    // budget — the sub-layer drops and the surface SAYS so: the filtered
    // percentile scans while the filtered SUM keeps serving
    client.createAsTable(
      (1L to 600L).map(i => (i, s"p${i % 60}")).toDF("v", "p"),
      "lakestore", "core", "qsdrop", FileType.DELTA, s"$dir/qsdrop",
      partitionColumns = Seq("p"))
    spark.sql("ANALYZE TABLE lakestore.core.qsdrop COMPUTE STATISTICS FOR COLUMNS v")
    val qsd = shown("qsdrop")("v")
    assert(qsd.getString(12) == "inline")
    assert(qsd.getString(15) == "qs", "the dropped qs sub-layer must be surfaced")
    assert(planOf(spark.sql(
      "SELECT SUM(v) AS s FROM lakestore.core.qsdrop WHERE p = 'p1'"))
      .contains("LocalTableScan"))
    assert(planOf(spark.sql(
      "SELECT APPROX_PERCENTILE(v, 0.5, 100) AS q FROM lakestore.core.qsdrop WHERE p = 'p1'"))
      .contains("FileScan"), "the dropped family honestly scans")
    // 80 tuples: past the inline cap — the layer moves to the sidecar,
    // file and size surfaced, nothing dropped
    client.createAsTable(
      (1L to 800L).map(i => (i, s"p${i % 80}")).toDF("v", "p"),
      "lakestore", "core", "side", FileType.DELTA, s"$dir/side",
      partitionColumns = Seq("p"))
    spark.sql("ANALYZE TABLE lakestore.core.side COMPUTE STATISTICS FOR COLUMNS v")
    val side = shown("side")("v")
    assert(side.getString(12) == "sidecar")
    assert(side.getString(13) != null &&
      side.getString(13).contains("_graft_stats"), "sidecar file surfaced")
    assert(!side.isNullAt(14) && side.getLong(14) > 0L, "sidecar size surfaced")
  }

  test("grouped APPROX_COUNT_DISTINCT serves from per-partition sketches; retention deletes keep the layer") {
    val client = new LakehouseClient(spark)
    client.createCatalog("lakegndv")
    client.createSchema("lakegndv", "core")
    val dir = TestSpark.tmpDir("sqlgndv")
    // per-partition k ranges are DISJOINT with distinct sizes 10/11/13
    // (moduli coprime with 3, so each partition fills its whole range)
    // — every grouped distinct count is its own recognizable value
    val kGen: Int => (Int, Int) = Map(0 -> (0, 10), 1 -> (10, 11), 2 -> (21, 13))
    val df = (0 until 240).map { i =>
      val part = i % 3
      val (base, m) = kGen(part)
      (i.toLong, s"p$part", (base + i % m).toLong)
    }.toDF("id", "p", "k")
    client.createAsTable(df.repartition(2), "lakegndv", "core", "t",
      FileType.DELTA, s"$dir/t", partitionColumns = Seq("p"))
    spark.sql("ANALYZE TABLE lakegndv.core.t COMPUTE STATISTICS FOR ALL COLUMNS")
    def planOf(q: org.apache.spark.sql.DataFrame) =
      q.queryExecution.executedPlan.toString
    // mixed exact + sketch outputs per group, one LocalTableScan
    val q = spark.sql("""SELECT p, COUNT(*) AS n, APPROX_COUNT_DISTINCT(k) AS d,
        MAX(id) AS hi FROM lakegndv.core.t GROUP BY p ORDER BY p""")
    assert(q.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq(("p0", 80L, 10L, 237L), ("p1", 80L, 11L, 238L), ("p2", 80L, 13L, 239L)))
    assert(planOf(q).contains("LocalTableScan") && !planOf(q).contains("FileScan"),
      s"grouped approx must serve from the sketches\n${planOf(q)}")
    // the absorbed WHERE family composes with the grouping
    val qf = spark.sql("""SELECT p, APPROX_COUNT_DISTINCT(k) AS d
      FROM lakegndv.core.t WHERE p <> 'p0' GROUP BY p""")
    assert(qf.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("p1", 11L), ("p2", 13L)))
    assert(!planOf(qf).contains("FileScan"))
    // grouped by the partition column, counting IT: exact from tuples
    val qp = spark.sql("""SELECT p, APPROX_COUNT_DISTINCT(p) AS d
      FROM lakegndv.core.t GROUP BY p""")
    assert(qp.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("p0", 1L), ("p1", 1L), ("p2", 1L)))
    assert(!planOf(qp).contains("FileScan"))
    // the retention DELETE is a pure partition drop: the layer SURVIVES,
    // grouped and ungrouped APPROX keep serving scan-free
    spark.sql("DELETE FROM lakegndv.core.t WHERE p = 'p1'")
    val q2 = spark.sql("""SELECT p, APPROX_COUNT_DISTINCT(k) AS d
      FROM lakegndv.core.t GROUP BY p ORDER BY p""")
    assert(q2.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("p0", 10L), ("p2", 13L)))
    assert(planOf(q2).contains("LocalTableScan") && !planOf(q2).contains("FileScan"),
      s"the layer must survive a pure partition drop\n${planOf(q2)}")
    // ...including the UNFILTERED table-wide answer, now that the
    // table-wide sketch is honestly gone (merge of all survivors)
    val q3 = spark.sql(
      "SELECT APPROX_COUNT_DISTINCT(id) AS d FROM lakegndv.core.t")
    assert(q3.collect()(0).getLong(0) == 160L)
    assert(!planOf(q3).contains("FileScan"),
      s"unfiltered approx must fall back to the partition layer\n${planOf(q3)}")
    // a non-partition group key keeps the scan, values stay right
    val qk = spark.sql("""SELECT k, APPROX_COUNT_DISTINCT(id) AS d
      FROM lakegndv.core.t GROUP BY k""")
    assert(planOf(qk).contains("FileScan"))
    assert(qk.collect().length == 23)
  }

  test("filtered/grouped SUM and string MIN/MAX serve from per-partition scalars") {
    val client = new LakehouseClient(spark)
    client.createCatalog("lakepsc")
    client.createSchema("lakepsc", "core")
    val dir = TestSpark.tmpDir("sqlpsc")
    // p=c is an ALL-NULL k partition (the SQL-NULL sum group); the
    // global max STRING lives in partition b (dropped below)
    val df = (0 until 90).map { i =>
      val p = Seq("a", "b", "c")(i % 3)
      val k: java.lang.Long = if (p == "c") null else java.lang.Long.valueOf(i.toLong)
      val s = if (p == "b" && i == 85) "zzz" else f"s$i%03d"
      (i.toLong, p, k, s)
    }.toDF("id", "p", "k", "s")
    client.createAsTable(df.repartition(2), "lakepsc", "core", "t",
      FileType.DELTA, s"$dir/t", partitionColumns = Seq("p"))
    spark.sql("ANALYZE TABLE lakepsc.core.t COMPUTE STATISTICS FOR ALL COLUMNS")
    def planOf(q: org.apache.spark.sql.DataFrame) =
      q.queryExecution.executedPlan.toString
    val exactSumAB = (0 until 90).filter(i => i % 3 != 2).map(_.toLong).sum
    // filtered SUM: no per-file footer stat exists for SUM — this is
    // only answerable through the stamped per-partition scalars
    val q1 = spark.sql("SELECT SUM(k) AS s FROM lakepsc.core.t WHERE p <> 'c'")
    assert(q1.collect()(0).getLong(0) == exactSumAB)
    assert(planOf(q1).contains("LocalTableScan") && !planOf(q1).contains("FileScan"),
      s"filtered SUM must serve from the scalar layer\n${planOf(q1)}")
    // grouped rollup mixing exact COUNT, layer SUM, and STRING extremes
    // (footer stats refuse strings -> the stamped per-partition extremes
    // serve them); the all-null group's SUM is SQL NULL
    val q2 = spark.sql("""SELECT p, COUNT(*) AS n, SUM(k) AS s,
        MIN(s) AS mn, MAX(s) AS mx
      FROM lakepsc.core.t GROUP BY p ORDER BY p""")
    val rows = q2.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    assert(rows.map(_.getLong(1)).toSeq == Seq(30L, 30L, 30L))
    assert(rows(0).getLong(2) == (0 until 90).filter(_ % 3 == 0).sum)
    assert(rows(1).getLong(2) == (0 until 90).filter(_ % 3 == 1).sum)
    assert(rows(2).isNullAt(2), "the all-null group's SUM must be SQL NULL")
    assert(rows(1).getString(4) == "zzz")
    assert(rows(2).getString(3) == "s002")
    assert(planOf(q2).contains("LocalTableScan") && !planOf(q2).contains("FileScan"),
      s"grouped SUM + string extremes must serve from the layer\n${planOf(q2)}")
    // the retention drop removes the partition HOLDING the global max
    // string: table-wide stats re-derive from the survivors (exact, no
    // tie hazard), so the unfiltered answers stay scan-free and right
    spark.sql("DELETE FROM lakepsc.core.t WHERE p = 'b'")
    val q3 = spark.sql("SELECT MAX(s) AS mx, SUM(k) AS s FROM lakepsc.core.t")
    val r3 = q3.collect()(0)
    assert(r3.getString(0) == "s089") // max over a+c after zzz left with b
    assert(r3.getLong(1) == (0 until 90).filter(_ % 3 == 0).map(_.toLong).sum)
    assert(planOf(q3).contains("LocalTableScan") && !planOf(q3).contains("FileScan"),
      s"post-drop unfiltered extremes/sum must stay scan-free\n${planOf(q3)}")
    // a filtered SUM hitting ONLY the all-null partition answers NULL
    val q4 = spark.sql("SELECT SUM(k) AS s FROM lakepsc.core.t WHERE p = 'c'")
    assert(q4.collect()(0).isNullAt(0))
    assert(!planOf(q4).contains("FileScan"))
  }

  test("inspection-table suffix reads: cat.s.t.files / .partitions / Iceberg set") {
    val client = new LakehouseClient(spark)
    client.createCatalog("lakemeta")
    client.createSchema("lakemeta", "core")
    val dir = TestSpark.tmpDir("sqlmeta")
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "p")
    client.createAsTable(df.repartition(1), "lakemeta", "core", "t",
      FileType.DELTA, s"$dir/t")
    // Delta/native: files + partitions derive from the snapshot
    val files = spark.sql("SELECT file_path, record_count FROM lakemeta.core.t.files")
    assert(files.collect().map(_.getLong(1)).sum == 3L)
    val parts = spark.sql(
      "SELECT record_count FROM lakemeta.core.t.partitions")
    assert(parts.collect().map(_.getLong(0)).sum == 3L)
    // Iceberg-only inspection names raise a clear error on a Delta table
    val e = intercept[Exception](spark.sql("SELECT * FROM lakemeta.core.t.snapshots"))
    assert(e.getMessage.contains("ICEBERG"), e.getMessage)

    // Iceberg: the full inspection set, metadata-sized
    val locI = TestSpark.tmpDir("sqlmeta-ice")
    client.createAsTable(df.repartition(1), "lakemeta", "core", "ti",
      FileType.ICEBERG, s"$locI/ti")
    client.getTxTable("lakemeta", "core", "ti")
      .append(Seq((4L, "b")).toDF("id", "p").repartition(1))
    assert(spark.sql("SELECT snapshot_id FROM lakemeta.core.ti.snapshots").count() == 2L)
    assert(spark.sql(
      "SELECT file_path FROM lakemeta.core.ti.files").count() == 2L)
    assert(spark.sql(
      "SELECT SUM(record_count) FROM lakemeta.core.ti.files").collect()(0).getLong(0) == 4L)
    // a non-catalog 4-part name still falls through to Spark's error
    intercept[Exception](spark.sql("SELECT * FROM nosuch.cat.t.files").collect())
  }

  test("AVG and VAR/STDDEV serve from stamped moments; folds keep them scan-free") {
    val client = new LakehouseClient(spark)
    client.createCatalog("lakemom")
    client.createSchema("lakemom", "core")
    val dir = TestSpark.tmpDir("sqlmom")
    client.createAsTable(
      (0 until 900).map(i => (i.toLong, i % 7)).toDF("id", "k"),
      "lakemom", "core", "t", FileType.DELTA, s"$dir/t")
    spark.sql("ANALYZE TABLE lakemom.core.t COMPUTE STATISTICS FOR ALL COLUMNS")
    def planOf(q: org.apache.spark.sql.DataFrame) = q.queryExecution.executedPlan.toString
    // the served double IS the exact rational rounded once: recompute it
    // the same way from exact integer moments
    def expectVar(xs: Seq[Long], samp: Boolean, std: Boolean): Double = {
      val n = BigInt(xs.size)
      val s = xs.map(BigInt(_)).sum
      val q = xs.map(x => BigInt(x) * BigInt(x)).sum
      val v = (n * q - s * s).toDouble /
        (if (samp) n * (n - 1) else n * n).toDouble
      if (std) math.sqrt(v) else v
    }
    val ids = (0L until 900L).toSeq
    val q = spark.sql("""SELECT AVG(id) AS a, VAR_POP(id) AS vp,
        VAR_SAMP(id) AS vs, STDDEV_POP(id) AS sp, STDDEV_SAMP(id) AS ss
      FROM lakemom.core.t""")
    assert(planOf(q).contains("LocalTableScan") && !planOf(q).contains("FileScan"),
      s"fresh moments must answer metadata-only\n${planOf(q)}")
    val r = q.collect()(0)
    assert(r.getDouble(0) == 449.5)
    assert(r.getDouble(1) == expectVar(ids, samp = false, std = false))
    assert(r.getDouble(2) == expectVar(ids, samp = true, std = false))
    assert(r.getDouble(3) == expectVar(ids, samp = false, std = true))
    assert(r.getDouble(4) == expectVar(ids, samp = true, std = true))
    // ...and within streaming-rounding distance of the actual scan
    val scan = (0 until 900).map(i => (i.toLong, i % 7)).toDF("id", "k")
      .selectExpr("avg(id)", "var_pop(id)", "stddev_samp(id)").collect()(0)
    assert(math.abs(r.getDouble(0) - scan.getDouble(0)) < 1e-9)
    assert(math.abs(r.getDouble(1) - scan.getDouble(1)) / scan.getDouble(1) < 1e-9)
    assert(math.abs(r.getDouble(4) - scan.getDouble(2)) / scan.getDouble(2) < 1e-9)

    // append folds the second moment too: still scan-free, still exact
    spark.sql("INSERT INTO lakemom.core.t VALUES (9000, 3)")
    val q2 = spark.sql(
      "SELECT AVG(id) AS a, STDDEV_POP(id) AS sp FROM lakemom.core.t")
    assert(!planOf(q2).contains("FileScan"),
      s"append must fold the moments, not invalidate\n${planOf(q2)}")
    val ids2 = ids :+ 9000L
    assert(q2.collect()(0).getDouble(1) == expectVar(ids2, samp = false, std = true))
    // a provable delete SUBTRACTS the removed rows' moments
    spark.sql("DELETE FROM lakemom.core.t WHERE id < 10")
    val q3 = spark.sql(
      "SELECT AVG(id) AS a, VAR_SAMP(id) AS vs FROM lakemom.core.t")
    assert(!planOf(q3).contains("FileScan"),
      s"a provable delete must fold the moments\n${planOf(q3)}")
    val ids3 = ids2.filter(_ >= 10L)
    val r3 = q3.collect()(0)
    assert(r3.getDouble(0) == ids3.map(BigInt(_)).sum.toDouble / ids3.size.toDouble)
    assert(r3.getDouble(1) == expectVar(ids3, samp = true, std = false))
    // a CoW UPDATE folds: the ASSIGNED column's moments unset (scan),
    // the other column's keep serving — one status-flip update no
    // longer kills the whole stamp
    spark.sql("UPDATE lakemom.core.t SET k = 0 WHERE id = 9000")
    assert(!planOf(spark.sql("SELECT VAR_POP(id) AS v FROM lakemom.core.t"))
      .contains("FileScan"), "unassigned columns' moments must survive an update")
    assert(planOf(spark.sql("SELECT AVG(k) AS a FROM lakemom.core.t"))
      .contains("FileScan"), "the assigned column's moments must unset")

    // partitioned: filtered and grouped moment serves from the layer
    client.createAsTable(
      (0 until 600).map(i => (i.toLong, Seq("a", "b", "c")(i % 3))).toDF("v", "p"),
      "lakemom", "core", "pt", FileType.DELTA, s"$dir/pt",
      partitionColumns = Seq("p"))
    spark.sql("ANALYZE TABLE lakemom.core.pt COMPUTE STATISTICS FOR ALL COLUMNS")
    val va = (0 until 600).filter(_ % 3 == 0).map(_.toLong)
    val qf = spark.sql(
      "SELECT AVG(v) AS a, STDDEV_POP(v) AS s FROM lakemom.core.pt WHERE p = 'a'")
    assert(!planOf(qf).contains("FileScan"),
      s"filtered moments must serve from the partition layer\n${planOf(qf)}")
    val rf = qf.collect()(0)
    assert(rf.getDouble(0) == va.map(BigInt(_)).sum.toDouble / va.size.toDouble)
    assert(rf.getDouble(1) == expectVar(va, samp = false, std = true))
    val qg = spark.sql("""SELECT p, AVG(v) AS a, VAR_SAMP(v) AS vs
      FROM lakemom.core.pt GROUP BY p ORDER BY p""")
    assert(!planOf(qg).contains("FileScan"),
      s"grouped moments must serve from the partition layer\n${planOf(qg)}")
    val expByP = Seq("a", "b", "c").zipWithIndex.map { case (p, off) =>
      val vs = (0 until 600).filter(_ % 3 == off).map(_.toLong)
      (p, vs.map(BigInt(_)).sum.toDouble / vs.size.toDouble,
        expectVar(vs, samp = true, std = false))
    }
    assert(qg.collect().toSeq.map(r2 => (r2.getString(0), r2.getDouble(1),
      r2.getDouble(2))) == expByP)
    // VAR_SAMP of a single row answers NULL — served and scanned alike
    client.createAsTable(Seq((5L, "x")).toDF("v", "p"),
      "lakemom", "core", "one", FileType.DELTA, s"$dir/one",
      partitionColumns = Seq("p"))
    spark.sql("ANALYZE TABLE lakemom.core.one COMPUTE STATISTICS FOR ALL COLUMNS")
    val q1r = spark.sql(
      "SELECT VAR_SAMP(v) AS vs, VAR_POP(v) AS vp, AVG(v) AS a FROM lakemom.core.one")
    assert(!planOf(q1r).contains("FileScan"))
    val r1 = q1r.collect()(0)
    assert(r1.isNullAt(0) && r1.getDouble(1) == 0.0 && r1.getDouble(2) == 5.0)
    // a non-integral argument keeps the scan (no moment stamp to serve)
    assert(planOf(spark.sql("SELECT AVG(v + 0.5) AS a FROM lakemom.core.one"))
      .contains("FileScan"))
  }

  test("COUNT(DISTINCT partition_col) answers exactly from the file list") {
    val client = new LakehouseClient(spark)
    client.createCatalog("lakecd")
    client.createSchema("lakecd", "core")
    val dir = TestSpark.tmpDir("sqlcd")
    client.createAsTable(
      (0 until 300).map(i => (i.toLong, Seq("a", "b", "c")(i % 3))).toDF("v", "p"),
      "lakecd", "core", "t", FileType.DELTA, s"$dir/t",
      partitionColumns = Seq("p"))
    def planOf(q: org.apache.spark.sql.DataFrame) = q.queryExecution.executedPlan.toString
    // no ANALYZE needed: the file list IS the truth
    val q = spark.sql("SELECT COUNT(DISTINCT p) AS d FROM lakecd.core.t")
    assert(planOf(q).contains("LocalTableScan") && !planOf(q).contains("FileScan"),
      s"partition COUNT(DISTINCT) must answer from the log\n${planOf(q)}")
    assert(q.collect()(0).getLong(0) == 3L)
    // absorbed partition WHERE composes
    val qf = spark.sql(
      "SELECT COUNT(DISTINCT p) AS d, COUNT(*) AS n FROM lakecd.core.t WHERE p >= 'b'")
    assert(!planOf(qf).contains("FileScan"))
    assert(qf.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 200L)))
    // a fully-deleted partition value stops counting
    spark.sql("DELETE FROM lakecd.core.t WHERE p = 'c'")
    val qd = spark.sql("SELECT COUNT(DISTINCT p) AS d FROM lakecd.core.t")
    assert(!planOf(qd).contains("FileScan"))
    assert(qd.collect()(0).getLong(0) == 2L)
    // a non-partition argument keeps the scan, stays exact
    val qk = spark.sql("SELECT COUNT(DISTINCT v) AS d FROM lakecd.core.t")
    assert(planOf(qk).contains("FileScan"))
    assert(qk.collect()(0).getLong(0) == 200L)
  }

  test("filtered/grouped APPROX_PERCENTILE serve from per-partition digests") {
    val client = new LakehouseClient(spark)
    client.createCatalog("lakepqs")
    client.createSchema("lakepqs", "core")
    val dir = TestSpark.tmpDir("sqlpqs")
    // p='a' holds 0..999, 'b' 1000..1999, 'c' 2000..2999
    client.createAsTable(
      (0 until 3000).map(i => (i.toLong, Seq("a", "b", "c")(i / 1000))).toDF("v", "p"),
      "lakepqs", "core", "t", FileType.DELTA, s"$dir/t",
      partitionColumns = Seq("p"))
    spark.sql("ANALYZE TABLE lakepqs.core.t COMPUTE STATISTICS FOR ALL COLUMNS")
    def planOf(q: org.apache.spark.sql.DataFrame) = q.queryExecution.executedPlan.toString
    // filtered: WHERE p = 'b' — served by the ONE surviving tuple's digest
    val qf = spark.sql(
      "SELECT APPROX_PERCENTILE(v, 0.5, 50) AS p50 FROM lakepqs.core.t WHERE p = 'b'")
    assert(planOf(qf).contains("LocalTableScan") && !planOf(qf).contains("FileScan"),
      s"partition-filtered percentile must serve from the layer\n${planOf(qf)}")
    assert(math.abs(qf.collect()(0).getLong(0) - 1500L) <= 60L)
    // range WHERE merges two tuples' digests
    val qr = spark.sql(
      "SELECT APPROX_PERCENTILE(v, 0.5, 50) AS p50 FROM lakepqs.core.t WHERE p >= 'b'")
    assert(!planOf(qr).contains("FileScan"))
    assert(math.abs(qr.collect()(0).getLong(0) - 2000L) <= 120L)
    // grouped rollup: per-group digests
    val qg = spark.sql("""SELECT p, APPROX_PERCENTILE(v, 0.5, 50) AS p50
      FROM lakepqs.core.t GROUP BY p ORDER BY p""")
    assert(!planOf(qg).contains("FileScan"),
      s"grouped percentile must serve from the layer\n${planOf(qg)}")
    val gm = qg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(gm("a") - 500L) <= 60L && math.abs(gm("b") - 1500L) <= 60L &&
      math.abs(gm("c") - 2500L) <= 60L)
    // the layer's ε is the COARSER 0.02: an accuracy-100 call asks for
    // 0.01 rank error — honestly keeps the scan (while the TABLE-WIDE
    // unfiltered digest at ε=0.01 still serves it)
    assert(planOf(spark.sql(
      "SELECT APPROX_PERCENTILE(v, 0.5, 100) AS p FROM lakepqs.core.t WHERE p = 'b'"))
      .contains("FileScan"), "tighter-than-layer accuracy must scan")
    assert(!planOf(spark.sql(
      "SELECT APPROX_PERCENTILE(v, 0.5, 100) AS p FROM lakepqs.core.t"))
      .contains("FileScan"))
    // append folds the cells; the filtered serve tracks the grown data
    spark.sql("INSERT INTO lakepqs.core.t SELECT id + 3000, 'b' FROM range(1000)")
    val qf2 = spark.sql(
      "SELECT APPROX_PERCENTILE(v, 0.5, 50) AS p50 FROM lakepqs.core.t WHERE p = 'b'")
    assert(!planOf(qf2).contains("FileScan"),
      s"append must fold the partition digests\n${planOf(qf2)}")
    // b now holds 1000..1999 ∪ 3000..3999: median near the 2000/3000 gap
    val v2 = qf2.collect()(0).getLong(0)
    assert(v2 >= 1900L && v2 <= 3100L, s"served $v2")
    // retention drop: the TABLE-WIDE digest resurrects from survivors
    // (coarser ε — accuracy 50 serves, 100 would honestly scan)
    spark.sql("DELETE FROM lakepqs.core.t WHERE p = 'c'")
    val qd = spark.sql(
      "SELECT APPROX_PERCENTILE(v, 0.5, 50) AS p50 FROM lakepqs.core.t")
    assert(!planOf(qd).contains("FileScan"),
      s"a pure partition drop must rebuild the table-wide digest\n${planOf(qd)}")
    // survivors: 0..1999 ∪ 3000..3999 (3000 rows): median ≈ 1500
    assert(math.abs(qd.collect()(0).getLong(0) - 1500L) <= 200L)
    assert(planOf(spark.sql(
      "SELECT APPROX_PERCENTILE(v, 0.5, 100) AS p FROM lakepqs.core.t"))
      .contains("FileScan"), "the rebuilt digest's coarser ε must gate accuracy-100")
    // ...and the surviving partitions keep their filtered serve
    assert(!planOf(spark.sql(
      "SELECT APPROX_PERCENTILE(v, 0.5, 50) AS p FROM lakepqs.core.t WHERE p = 'a'"))
      .contains("FileScan"))
    // a non-partition WHERE keeps the scan
    assert(planOf(spark.sql(
      "SELECT APPROX_PERCENTILE(v, 0.5, 50) AS p FROM lakepqs.core.t WHERE v > 10"))
      .contains("FileScan"))
  }

  test("APPROX_PERCENTILE serves from the stamped quantile sketch while fresh") {
    val client = new LakehouseClient(spark)
    client.createCatalog("lakeqs")
    client.createSchema("lakeqs", "core")
    val dir = TestSpark.tmpDir("sqlqs")
    val vals = (0 until 5000).map(i => (i * 37 % 5000).toLong) // permutation of 0..4999
    client.createAsTable(vals.map(v => (v, v.toDouble / 10.0)).toDF("v", "d"),
      "lakeqs", "core", "t", FileType.DELTA, s"$dir/t")
    spark.sql("ANALYZE TABLE lakeqs.core.t COMPUTE STATISTICS FOR ALL COLUMNS")
    def planOf(q: org.apache.spark.sql.DataFrame) = q.queryExecution.executedPlan.toString
    // rank-error contract: at accuracy<=100 (the stamp's eps=0.01) the
    // served p-quantile must land within rank p +/- eps of the exact order
    def rankOk(served: Double, p: Double): Boolean = {
      val exactLo = (5000 * (p - 0.015)).toLong.max(0L)
      val exactHi = (5000 * (p + 0.015)).toLong.min(4999L)
      served >= exactLo && served <= exactHi
    }
    val q = spark.sql(
      "SELECT APPROX_PERCENTILE(v, 0.5, 100) AS p50 FROM lakeqs.core.t")
    assert(planOf(q).contains("LocalTableScan") && !planOf(q).contains("FileScan"),
      s"a covered-accuracy call must serve from the stamp\n${planOf(q)}")
    assert(rankOk(q.collect()(0).getLong(0).toDouble, 0.5))
    // array form, double column
    val qa = spark.sql("""SELECT APPROX_PERCENTILE(d, array(0.1, 0.9), 50) AS ps
      FROM lakeqs.core.t""")
    assert(!planOf(qa).contains("FileScan"))
    val ps = qa.collect()(0).getSeq[Double](0)
    assert(rankOk(ps(0) * 10.0, 0.1) && rankOk(ps(1) * 10.0, 0.9))
    // the DEFAULT accuracy (10000) asks for a TIGHTER rank error than
    // the stamp guarantees: honestly keeps the scan
    assert(planOf(spark.sql(
      "SELECT APPROX_PERCENTILE(v, 0.5) AS p FROM lakeqs.core.t"))
      .contains("FileScan"), "a tighter-than-stamp call must scan")
    // append folds by sketch merge; still scan-free and still in-rank
    spark.sql("INSERT INTO lakeqs.core.t VALUES (5000, 500.0), (5001, 500.1)")
    val q2 = spark.sql(
      "SELECT APPROX_PERCENTILE(v, 0.99, 100) AS p99 FROM lakeqs.core.t")
    assert(!planOf(q2).contains("FileScan"),
      s"append must fold the sketch, not invalidate\n${planOf(q2)}")
    assert(q2.collect()(0).getLong(0) >= (5002 * 0.975).toLong)
    // a delete cannot be un-seen: the sketch unsets, the scan answers
    spark.sql("DELETE FROM lakeqs.core.t WHERE v < 100")
    assert(planOf(spark.sql(
      "SELECT APPROX_PERCENTILE(v, 0.5, 100) AS p FROM lakeqs.core.t"))
      .contains("FileScan"), "a delete must unset the quantile sketch")
    // a filtered call keeps the scan (the sketch is table-wide)
    spark.sql("ANALYZE TABLE lakeqs.core.t COMPUTE STATISTICS FOR ALL COLUMNS")
    assert(planOf(spark.sql(
      "SELECT APPROX_PERCENTILE(v, 0.5, 100) AS p FROM lakeqs.core.t WHERE v > 1000"))
      .contains("FileScan"), "a WHERE must keep the scan")
    // empty table: served SQL NULL, same as the scan
    client.createAsTable(Seq.empty[(Long, Double)].toDF("v", "d"),
      "lakeqs", "core", "empty", FileType.DELTA, s"$dir/e")
    spark.sql("ANALYZE TABLE lakeqs.core.empty COMPUTE STATISTICS FOR ALL COLUMNS")
    val qe = spark.sql(
      "SELECT APPROX_PERCENTILE(v, 0.5, 100) AS p FROM lakeqs.core.empty")
    assert(!planOf(qe).contains("FileScan"))
    assert(qe.collect()(0).isNullAt(0))
  }

  test("ANALYZE ... SKIP SKETCHES skips just the quantile layer") {
    val client = new LakehouseClient(spark)
    client.createCatalog("lakeskipqs")
    client.createSchema("lakeskipqs", "core")
    val dir = TestSpark.tmpDir("sqlskipqs")
    client.createAsTable(
      (1 to 300).map(i => (i.toLong, s"p${i % 3}")).toDF("v", "p"),
      "lakeskipqs", "core", "t", FileType.DELTA, s"$dir/t",
      partitionColumns = Seq("p"))
    spark.sql(
      "ANALYZE TABLE lakeskipqs.core.t COMPUTE STATISTICS FOR COLUMNS v SKIP SKETCHES")
    def planOf(q: org.apache.spark.sql.DataFrame) = q.queryExecution.executedPlan.toString
    // SUM/NDV/extremes still serve scan-free...
    val q1 = spark.sql("SELECT SUM(v) AS s, APPROX_COUNT_DISTINCT(v) AS d FROM lakeskipqs.core.t")
    assert(!planOf(q1).contains("FileScan"), planOf(q1))
    assert(q1.collect()(0).getLong(0) == (1L to 300L).sum)
    // ...but APPROX_PERCENTILE honestly keeps the scan (no digest stamped)
    val q2 = spark.sql("SELECT APPROX_PERCENTILE(v, 0.5, 100) AS p FROM lakeskipqs.core.t")
    assert(planOf(q2).contains("FileScan"), "SKIP SKETCHES must leave no digest")
    val props = client.getTxTable("lakeskipqs", "core", "t").snapshot.properties
    assert(!props.keys.exists(_.startsWith(graft.tables.ColumnStats.QsPropPrefix)))
    assert(!props.keys.exists(_.startsWith(graft.tables.ColumnStats.PqsPropPrefix)))
    // a FULL re-ANALYZE restores the digest; a later SKIP unsets it again
    spark.sql("ANALYZE TABLE lakeskipqs.core.t COMPUTE STATISTICS FOR COLUMNS v")
    assert(!planOf(spark.sql(
      "SELECT APPROX_PERCENTILE(v, 0.5, 100) AS p FROM lakeskipqs.core.t"))
      .contains("FileScan"))
    spark.sql(
      "ANALYZE TABLE lakeskipqs.core.t COMPUTE STATISTICS FOR ALL COLUMNS SKIP SKETCHES")
    assert(planOf(spark.sql(
      "SELECT APPROX_PERCENTILE(v, 0.5, 100) AS p FROM lakeskipqs.core.t"))
      .contains("FileScan"),
      "a SKIP restamp must unset the previous digest, not re-freshen it")
  }

  test("a multi-aggregate SELECT resolves its snapshot ONCE (memoized rewrite pass)") {
    // every served aggregate reads the snapshot the read was planned on:
    // resolving the read is the ONE log-directory probe, no serve looks
    // the snapshot up again, and the fingerprint hashes once per instance
    val client = new LakehouseClient(spark)
    client.createCatalog("lakememo")
    client.createSchema("lakememo", "core")
    val dir = TestSpark.tmpDir("sqlmemo")
    client.createAsTable(
      (1 until 500).map(i => (i.toLong, s"u${i % 60}")).toDF("id", "u"),
      "lakememo", "core", "t", FileType.DELTA, s"$dir/t")
    spark.sql("ANALYZE TABLE lakememo.core.t COMPUTE STATISTICS FOR COLUMNS id, u")
    // warm the snapshot cache on the post-ANALYZE version
    spark.sql("SELECT * FROM lakememo.core.t").queryExecution.analyzed
    val cache = graft.tables.SnapshotCache
    val (p0, r0) = (cache.probeCount.get(), cache.replayCount.get())
    val q = spark.sql("""SELECT COUNT(*) AS n, COUNT(id) AS nc, SUM(id) AS s,
        AVG(id) AS a, VAR_POP(id) AS v, STDDEV(id) AS sd, MIN(id) AS mn,
        MAX(id) AS mx, APPROX_COUNT_DISTINCT(u) AS du FROM lakememo.core.t""")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan"), s"all nine aggregates must serve\n$plan")
    val (probes, replays) = (cache.probeCount.get() - p0, cache.replayCount.get() - r0)
    assert(probes == 1L && replays == 0L,
      s"nine served aggregates must share ONE snapshot resolution, " +
        s"did $probes probes and $replays replays")
    val r = q.collect()(0)
    assert(r.getLong(0) == 499L && r.getLong(2) == (1L until 500L).sum)
    assert(math.abs(r.getDouble(3) - 250.0) < 1e-9)
    assert(r.getLong(8) == 60L)
  }

  test("table-wide serves never touch the sidecar; filtered serves read it once") {
    // the per-tuple layer can be a multi-MB sidecar file: COUNT(*)/SUM/
    // NDV/AVG answer from inline properties or the file list and must
    // not pay its read; only the partition-filtered serve family needs
    // the per-tuple cells (and re-reads hit the parsed cache, not disk)
    val client = new LakehouseClient(spark)
    client.createCatalog("lakeside2")
    client.createSchema("lakeside2", "core")
    val dir = TestSpark.tmpDir("sqlside2")
    client.createAsTable(
      (0 until 2000).map(i => (i.toLong, (i % 80).toLong)).toDF("v", "p")
        .repartition(4),
      "lakeside2", "core", "t", FileType.DELTA, s"$dir/t",
      partitionColumns = Seq("p"))
    spark.sql("ANALYZE TABLE lakeside2.core.t COMPUTE STATISTICS FOR COLUMNS v")
    val t = client.getTxTable("lakeside2", "core", "t")
    assert(t.snapshot.properties.contains(graft.tables.ColumnStats.PsidecarProp),
      "80 tuples must stamp the sidecar layer")
    def planOf(q: org.apache.spark.sql.DataFrame) =
      q.queryExecution.executedPlan.toString
    val before = graft.tables.ColumnStats.sidecarReadCount.get()
    val wide = spark.sql(
      "SELECT COUNT(*) AS n, SUM(v) AS s, AVG(v) AS a FROM lakeside2.core.t")
    assert(!planOf(wide).contains("FileScan"), "table-wide serves must be scan-free")
    assert(graft.tables.ColumnStats.sidecarReadCount.get() == before,
      "a table-wide serve must not read the sidecar")
    val filtered = spark.sql(
      "SELECT SUM(v) AS s FROM lakeside2.core.t WHERE p < 40")
    assert(!planOf(filtered).contains("FileScan"), "filtered serve must be scan-free")
    assert(graft.tables.ColumnStats.sidecarReadCount.get() > before,
      "the filtered serve reads per-tuple cells (through the cache)")
    assert(filtered.collect()(0).getLong(0)
      == (0 until 2000).filter(_ % 80 < 40).map(_.toLong).sum)
  }

  test("partial ANALYZE merges over a fresh stamp, clears over a stale one") {
    // fresh: ANALYZE a; ANALYZE b — a's keys provably describe the same
    // snapshot and survive (incl. the per-partition layer, tuple-matched).
    // stale: data changed without a fold; ANALYZE b must clear a's keys —
    // never re-validate old values against the new fingerprint.
    val client = new LakehouseClient(spark)
    client.createCatalog("lakemrg")
    client.createSchema("lakemrg", "core")
    val dir = TestSpark.tmpDir("sqlmrg")
    client.createAsTable(
      (0 until 1200).map(i => (i.toLong, (i * 7L) % 1000L, (i % 6).toString))
        .toDF("a", "b", "p").repartition(3),
      "lakemrg", "core", "t", FileType.DELTA, s"$dir/t",
      partitionColumns = Seq("p"))
    def planOf(q: org.apache.spark.sql.DataFrame) =
      q.queryExecution.executedPlan.toString
    spark.sql("ANALYZE TABLE lakemrg.core.t COMPUTE STATISTICS FOR COLUMNS a")
    spark.sql("ANALYZE TABLE lakemrg.core.t COMPUTE STATISTICS FOR COLUMNS b")
    val sa = spark.sql("SELECT SUM(a) AS s FROM lakemrg.core.t")
    assert(!planOf(sa).contains("FileScan"),
      "a's table-wide keys must merge through the fresh partial ANALYZE of b")
    assert(sa.collect()(0).getLong(0) == (0L until 1200L).sum)
    val sb = spark.sql("SELECT SUM(b) AS s FROM lakemrg.core.t")
    assert(!planOf(sb).contains("FileScan"))
    // the LAYER merged too: filtered serves on BOTH columns scan-free
    val fa = spark.sql("SELECT SUM(a) AS s FROM lakemrg.core.t WHERE p IN ('0','1')")
    assert(!planOf(fa).contains("FileScan"),
      "a's per-partition cells must merge tuple-matched into b's layer")
    assert(fa.collect()(0).getLong(0)
      == (0 until 1200).filter(i => i % 6 <= 1).map(_.toLong).sum)
    val fb = spark.sql("SELECT SUM(b) AS s FROM lakemrg.core.t WHERE p IN ('0','1')")
    assert(!planOf(fb).contains("FileScan"))
    assert(fb.collect()(0).getLong(0)
      == (0 until 1200).filter(i => i % 6 <= 1).map(i => (i * 7L) % 1000L).sum)
    // stale: a time-dependent DELETE predicate bails the fold (stamp
    // goes stale); a partial ANALYZE of b must now CLEAR a's keys
    spark.sql("DELETE FROM lakemrg.core.t WHERE a = 3 AND unix_timestamp() > 0")
    spark.sql("ANALYZE TABLE lakemrg.core.t COMPUTE STATISTICS FOR COLUMNS b")
    assert(planOf(spark.sql("SELECT SUM(a) AS s FROM lakemrg.core.t"))
      .contains("FileScan"), "a stale key must clear, never re-validate")
    assert(!planOf(spark.sql("SELECT SUM(b) AS s FROM lakemrg.core.t"))
      .contains("FileScan"))
  }

  test("stamped serves time-travel: fresh at stamped versions, honest between") {
    // the stamp is ordinary table properties, so VERSION AS OF v reads
    // the stamp as of v and the fingerprint check runs against v's file
    // list: any version whose properties describe its own snapshot
    // serves scan-free FOREVER — yesterday's total vs today's without
    // scanning either — while the in-between version (data committed,
    // fold not yet) honestly scans
    val client = new LakehouseClient(spark)
    client.createCatalog("laketts")
    client.createSchema("laketts", "core")
    val dir = TestSpark.tmpDir("sqltts")
    client.createAsTable((1 to 100).map(_.toLong).toDF("v"),
      "laketts", "core", "t", FileType.DELTA, s"$dir/t") // v0
    spark.sql("ANALYZE TABLE laketts.core.t COMPUTE STATISTICS FOR COLUMNS v") // v1: stamp
    spark.sql("INSERT INTO laketts.core.t VALUES (1000)") // v2: data; v3: fold
    def planOf(q: org.apache.spark.sql.DataFrame) =
      q.queryExecution.executedPlan.toString
    val atStamp = spark.sql("SELECT SUM(v) AS s FROM laketts.core.t VERSION AS OF 1")
    assert(!planOf(atStamp).contains("FileScan"),
      "the stamped historical version must serve scan-free")
    assert(atStamp.collect()(0).getLong(0) == (1 to 100).map(_.toLong).sum)
    val between = spark.sql("SELECT SUM(v) AS s FROM laketts.core.t VERSION AS OF 2")
    assert(planOf(between).contains("FileScan"),
      "the data-committed-fold-pending version must honestly scan")
    assert(between.collect()(0).getLong(0) == (1 to 100).map(_.toLong).sum + 1000L)
    val head = spark.sql("SELECT SUM(v) AS s FROM laketts.core.t")
    assert(!planOf(head).contains("FileScan"), "the folded head serves scan-free")
    assert(head.collect()(0).getLong(0) == (1 to 100).map(_.toLong).sum + 1000L)
  }
}
