package graft.tables

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Incremental materialized-view maintenance: per-group counts/sums kept
  * exact under append-only increments, CDF row deltas, and full re-sync
  * fallback — with an exactly-once refresh watermark riding the merge
  * commit (SetTransaction).
  */
class IncrementalViewSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rowsOf(t: TxTable): Set[(String, Long, Double)] =
    t.toDF.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

  private def expected(src: DataFrame): Set[(String, Long, Double)] =
    src.groupBy("k").agg(
      org.apache.spark.sql.functions.count("*").as("n"),
      org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.sum("v"),
        org.apache.spark.sql.functions.lit(0.0)).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

  test("append-only source: refreshes fold only the new rows; watermark makes replay a no-op") {
    val srcLoc = TestSpark.tmpDir("mv-src")
    val viewLoc = TestSpark.tmpDir("mv-view") + "/v"
    val src = new TxTable(spark, srcLoc)
    src.create(Seq(("a", 1.0), ("a", 2.0), ("b", 10.0)).toDF("k", "v"))

    val r1 = IncrementalView.refresh(src, viewLoc, Seq("k"), Seq("v"))
    assert(r1.mode == "initial")
    val view = TxTable.forLocation(spark, viewLoc)
    assert(rowsOf(view) == Set(("a", 2L, 3.0), ("b", 1L, 10.0)))

    // second refresh with nothing new: noop, no version churn
    val vBefore = view.version
    assert(IncrementalView.refresh(src, viewLoc, Seq("k"), Seq("v")).mode == "noop")
    assert(view.version == vBefore)

    // two more appends, one refresh folds both commits
    src.append(Seq(("a", 4.0), ("c", 7.0)).toDF("k", "v"))
    src.append(Seq(("c", 1.0)).toDF("k", "v"))
    val r2 = IncrementalView.refresh(src, viewLoc, Seq("k"), Seq("v"))
    assert(r2.mode == "incremental" && r2.fromVersion < r2.toVersion)
    assert(rowsOf(view) == expected(src.toDF))
    assert(rowsOf(view) == Set(("a", 3L, 7.0), ("b", 1L, 10.0), ("c", 2L, 8.0)))
  }

  test("non-append source commit without CDF forces a full re-sync that converges") {
    val srcLoc = TestSpark.tmpDir("mv-full-src")
    val viewLoc = TestSpark.tmpDir("mv-full-view") + "/v"
    val src = new TxTable(spark, srcLoc)
    src.create(Seq(("a", 1.0), ("a", 2.0), ("b", 10.0), ("c", 5.0)).toDF("k", "v"))
    IncrementalView.refresh(src, viewLoc, Seq("k"), Seq("v"))

    src.delete("k = 'c'")                 // non-append commit
    src.append(Seq(("b", 1.0)).toDF("k", "v"))
    val r = IncrementalView.refresh(src, viewLoc, Seq("k"), Seq("v"))
    assert(r.mode == "full")
    val view = TxTable.forLocation(spark, viewLoc)
    // group c vanished from the source and must vanish from the view
    assert(rowsOf(view) == Set(("a", 2L, 3.0), ("b", 2L, 11.0)))

    // back to append-only increments afterwards
    src.append(Seq(("c", 2.0)).toDF("k", "v"))
    assert(IncrementalView.refresh(src, viewLoc, Seq("k"), Seq("v")).mode == "incremental")
    assert(rowsOf(view) == expected(src.toDF))
  }

  test("foreign Delta source with CDF: deletes/updates stay incremental, zero-count groups drop") {
    val srcLoc = TestSpark.tmpDir("mv-cdf-src")
    val viewLoc = TestSpark.tmpDir("mv-cdf-view") + "/v"
    DeltaLogWriter.create(spark, srcLoc,
      Seq(("a", 1.0), ("a", 2.0), ("b", 10.0), ("c", 5.0)).toDF("k", "v"),
      properties = Map("delta.enableChangeDataFeed" -> "true"))
    val src = TxTable.forForeignDelta(spark, srcLoc)
    IncrementalView.refresh(src, viewLoc, Seq("k"), Seq("v"))

    src.delete("k = 'c'")                 // row-level feed carries the delete
    src.update("k = 'a' AND v = 1.0", Map("v" -> "100.0"))
    val r = IncrementalView.refresh(src, viewLoc, Seq("k"), Seq("v"))
    assert(r.mode == "cdf", s"expected cdf refresh, got ${r.mode}")
    val view = TxTable.forLocation(spark, viewLoc)
    assert(rowsOf(view) == Set(("a", 2L, 102.0), ("b", 1L, 10.0)),
      "update must fold as -pre +post; deleted group must leave the view")
  }

  test("iceberg source: the same incremental maintenance runs over the Iceberg log") {
    val srcLoc = TestSpark.tmpDir("mv-ice-src") + "/t"
    val viewLoc = TestSpark.tmpDir("mv-ice-view") + "/v"
    IcebergWriter.create(spark, srcLoc,
      Seq(("a", 1.0), ("b", 10.0)).toDF("k", "v"))
    val src = TxTable.forIceberg(spark, srcLoc)
    assert(IncrementalView.refresh(src, viewLoc, Seq("k"), Seq("v")).mode == "initial")
    src.append(Seq(("a", 2.0), ("c", 7.0)).toDF("k", "v"))
    assert(IncrementalView.refresh(src, viewLoc, Seq("k"), Seq("v")).mode == "incremental")
    assert(rowsOf(TxTable.forLocation(spark, viewLoc)) ==
      Set(("a", 2L, 3.0), ("b", 1L, 10.0), ("c", 1L, 7.0)))
    // an Iceberg merge-on-read DELETE folds through the snapshot-diff
    // changelog — incremental, no source rescan
    src.delete("k = 'b'")
    assert(IncrementalView.refresh(src, viewLoc, Seq("k"), Seq("v")).mode == "cdf")
    assert(rowsOf(TxTable.forLocation(spark, viewLoc)) ==
      Set(("a", 2L, 3.0), ("c", 1L, 7.0)))
    // an EQUALITY delete (the Flink-upsert shape) IS derivable — the
    // refresh stays on the cdf path, no source rescan
    IcebergWriter.equalityDelete(spark, srcLoc, Seq("k"), Seq("a").toDF("k"))
    assert(IncrementalView.refresh(src, viewLoc, Seq("k"), Seq("v")).mode == "cdf")
    assert(rowsOf(TxTable.forLocation(spark, viewLoc)) == Set(("c", 1L, 7.0)))
    // an OVERWRITE is derivable from file diffs too (removed files'
    // live rows out, added files' rows in) — the refresh STAYS on the
    // cdf path and still converges to the overwritten contents
    src.overwrite(Seq(("z", 1.0), ("z", 2.0)).toDF("k", "v"))
    assert(IncrementalView.refresh(src, viewLoc, Seq("k"), Seq("v")).mode == "cdf")
    assert(rowsOf(TxTable.forLocation(spark, viewLoc)) == Set(("z", 2L, 3.0)))
  }

  test("iceberg changelog: appends as inserts, MoR deletes as exact dying rows") {
    val loc = TestSpark.tmpDir("ice-changelog") + "/t"
    val t = TxTable.forIceberg(spark, loc)
    t.create(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"))     // v1
    t.append(Seq((4L, "d")).toDF("id", "s"))                            // v2
    t.delete("id <= 2")                                                 // v3 (position deletes)
    t.optimizeCompact(minFileBytes = 1L << 20)                          // replace: no change rows
    IcebergWriter.createTag(spark, loc, "pin")                          // metadata-only: none

    val ch = IcebergLog.tableChanges(spark, loc, 1L)
      .select("id", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(ch == Set(
      (1L, "insert", 1L), (2L, "insert", 1L), (3L, "insert", 1L),
      (4L, "insert", 2L),
      (1L, "delete", 3L), (2L, "delete", 3L)), ch.toString)
    // range start is inclusive; later windows skip earlier commits
    val tail = IcebergLog.tableChanges(spark, loc, 3L)
      .select("_change_type").distinct().collect().map(_.getString(0)).toSet
    assert(tail == Set("delete"))
    // a second delete overlapping already-dead positions emits only the
    // NEWLY dying rows
    t.delete("id <= 3")                                                 // kills only 3
    val last = IcebergLog.tableChanges(spark, loc, t.version, Some(t.version))
      .select("id", "_change_type").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(last == Set((3L, "delete")), last.toString)
  }

  test("iceberg changelog derives equality-delete row deltas under the sequence rule") {
    val loc = TestSpark.tmpDir("ice-eqdel") + "/t"
    val t = TxTable.forIceberg(spark, loc)
    t.create(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"))        // v1
    // v2: equality delete on id — kills id=2; id=9 matches nothing
    IcebergWriter.equalityDelete(spark, loc, Seq("id"), Seq(2L, 9L).toDF("id"))
    // v3: re-insert id=2 AFTER the delete — higher data sequence, so the
    // spec's strictly-smaller rule keeps it alive
    t.append(Seq((2L, "b2")).toDF("id", "s"))
    val ch = IcebergLog.tableChanges(spark, loc, 1L)
      .select("id", "s", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(ch == Set(
      (1L, "a", "insert", 1L), (2L, "b", "insert", 1L), (3L, "c", "insert", 1L),
      (2L, "b", "delete", 2L),
      (2L, "b2", "insert", 3L)), ch.toString)
    // a SECOND equality delete on the same key kills only the re-inserted
    // row — the first victim is already dead in the previous state
    IcebergWriter.equalityDelete(spark, loc, Seq("id"), Seq(2L).toDF("id"))  // v4
    val last = IcebergLog.tableChanges(spark, loc, t.version, Some(t.version))
      .select("id", "s", "_change_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(last == Set((2L, "b2", "delete")), last.toString)
    // the feed folds to the readable state
    assert(t.toDF.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (3L, "c")))
  }

  test("changelog derives OVERWRITE snapshots from file diffs") {
    val loc = TestSpark.tmpDir("ice-ovw-ch") + "/t"
    val t = TxTable.forIceberg(spark, loc)
    t.create(Seq((1L, "p", 10L), (2L, "p", 20L), (3L, "q", 30L))
      .toDF("id", "part", "v"), Seq("part"))                           // v1
    // v2: dynamic partition overwrite of 'p' — exact partition diff
    t.overwritePartitionsDynamic(Seq((7L, "p", 70L)).toDF("id", "part", "v"))
    val v2 = IcebergLog.tableChanges(spark, loc, 2L, Some(2L))
      .select("id", "_change_type")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(v2 == Set((1L, "delete"), (2L, "delete"), (7L, "insert")), v2.toString)
    // v3: CoW UPDATE (overwrite-labeled rewrite) — carried rows emit
    // delete+insert pairs; the SIGNED fold must equal the final state
    t.update("id = 3", Map("v" -> "v + 5"))
    import org.apache.spark.sql.functions.{col, lit, sum, when}
    val ch = IcebergLog.tableChanges(spark, loc, 1L)
    val sign = when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L))
    val net = ch.groupBy(col("id"))
      .agg(sum(sign).as("n"), sum(sign * col("v")).as("v"))
      .filter(col("n") =!= 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(net == Set((3L, 1L, 35L), (7L, 1L, 70L)), net.toString)
    // already-dead rows never resurface: a MoR delete then an overwrite
    // of that partition must not re-emit the dead row as a delete
    t.delete("id = 7")                                                 // v4 (position delete)
    t.overwritePartitionsDynamic(Seq((8L, "p", 80L)).toDF("id", "part", "v")) // v5
    val v5 = IcebergLog.tableChanges(spark, loc, 5L, Some(5L))
      .select("id", "_change_type")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(v5 == Set((8L, "insert")), v5.toString)
  }

  test("changelog aligns eras by FIELD ID across a column rename") {
    val loc = TestSpark.tmpDir("ice-ren-ch") + "/t"
    val t = TxTable.forIceberg(spark, loc)
    t.create(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))   // v1: pre-rename era
    t.renameColumn("s", "label")                           // v2: metadata-only
    t.append(Seq((3L, "c")).toDF("id", "label"))           // v3: post-rename era
    t.delete("id = 1")                                     // v4: kills a PRE-rename row
    val ch = IcebergLog.tableChanges(spark, loc, 1L)
      .select("id", "label", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    // pre-rename rows must surface under the CURRENT column name with
    // their values — field ids are the identity, not names (the r10 bug
    // nulled every pre-rename row's renamed column)
    assert(ch == Set(
      (1L, "a", "insert", 1L), (2L, "b", "insert", 1L),
      (3L, "c", "insert", 3L),
      (1L, "a", "delete", 4L)), ch.toString)
  }

  test("changelog over 50 commits: one state derivation per version, bounded plan") {
    val loc = TestSpark.tmpDir("ice-manyv") + "/t"
    val t = TxTable.forIceberg(spark, loc)
    t.create(Seq((0L, 0L)).toDF("id", "v"))
    (1 until 50).foreach(i => t.append(Seq((i.toLong, i.toLong)).toDF("id", "v")))
    val top = t.version
    IcebergLog.stateDerivations.set(0L)
    val ch = IcebergLog.tableChanges(spark, loc, 1L)
    val derivs: Long = IcebergLog.stateDerivations.get
    // one stateAt per data version + the `to` state; the r9 shape paid
    // TWO full manifest traversals per version
    assert(derivs <= top + 2,
      s"$derivs state derivations for a $top-version history")
    // bounded plan: the 50 append commits are ONE scan whose commit tags
    // are partition values, not 50 union branches
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val scans = Plans.collect(ch.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1, s"expected one scan, got ${scans.size}")
    val rows = ch.select("id", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == (0 until 50).map(i => (i.toLong, i.toLong + 1L)).toSet)
  }

  test("crash replay: re-running refresh after the merge committed is a no-op") {
    val srcLoc = TestSpark.tmpDir("mv-crash-src")
    val viewLoc = TestSpark.tmpDir("mv-crash-view") + "/v"
    val src = new TxTable(spark, srcLoc)
    src.create(Seq(("a", 1.0)).toDF("k", "v"))
    IncrementalView.refresh(src, viewLoc, Seq("k"), Seq("v"))
    src.append(Seq(("a", 2.0)).toDF("k", "v"))
    IncrementalView.refresh(src, viewLoc, Seq("k"), Seq("v"))
    val view = TxTable.forLocation(spark, viewLoc)
    val state = rowsOf(view)
    // the caller "crashed" right after the merge commit and retries the
    // whole refresh: the watermark rode the SAME commit as the effects,
    // so the replay sees it and must not double-count
    (1 to 3).foreach { _ =>
      assert(IncrementalView.refresh(src, viewLoc, Seq("k"), Seq("v")).mode == "noop")
    }
    assert(rowsOf(view) == state)
    assert(state == Set(("a", 2L, 3.0)))

    // harder restart: fresh handles (new TxTable instances ≈ a new
    // process — nothing is cached driver-side), replay still a PURE
    // no-op: not just same rows, zero new commits on the view log
    val vBefore = TxTable.forLocation(spark, viewLoc).version
    val srcFresh = new TxTable(spark, srcLoc)
    assert(IncrementalView.refresh(srcFresh, viewLoc, Seq("k"), Seq("v")).mode == "noop")
    assert(TxTable.forLocation(spark, viewLoc).version == vBefore,
      "a replayed refresh must not commit")
    // and the next REAL increment still folds incrementally after the
    // replay storm — the watermark is intact, not wedged
    srcFresh.append(Seq(("b", 5.0)).toDF("k", "v"))
    assert(IncrementalView.refresh(srcFresh, viewLoc, Seq("k"), Seq("v")).mode == "incremental")
    assert(rowsOf(TxTable.forLocation(spark, viewLoc)) ==
      Set(("a", 2L, 3.0), ("b", 1L, 5.0)))
  }

  test("uniq_<c> distinct sketches fold incrementally under appends, exactly below k") {
    import org.apache.spark.sql.functions.col
    val srcLoc = TestSpark.tmpDir("mv-uniq-src")
    val viewLoc = TestSpark.tmpDir("mv-uniq-view") + "/v"
    val src = new TxTable(spark, srcLoc)
    // group a: users u0..u49 (with duplicates), group b: u0..u19
    def batch(grp: String, lo: Int, hi: Int) =
      (lo until hi).flatMap(u => Seq((grp, s"u$u", 1.0), (grp, s"u$u", 2.0)))
        .toDF("k", "user", "v")
    src.create(batch("a", 0, 50).union(batch("b", 0, 20)))

    val r1 = IncrementalView.refresh(src, viewLoc, Seq("k"), Seq("v"),
      uniqCols = Seq("user"))
    assert(r1.mode == "initial")
    def uniques(): Map[String, Double] = {
      val v = TxTable.forLocation(spark, viewLoc)
      IncrementalView.withDistinctEstimates(v.toDF, Seq("user"))
        .select(col("k"), col("approx_uniq_user"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    }
    // below KmvK distinct per group, the sketch is EXACT
    assert(uniques() == Map("a" -> 50.0, "b" -> 20.0))

    // append: 30 NEW users to a, 10 OVERLAPPING users to b — the merged
    // sketch must count distinct across batches, not sum batch counts
    src.append(batch("a", 50, 80).union(batch("b", 10, 20)))
    val r2 = IncrementalView.refresh(src, viewLoc, Seq("k"), Seq("v"),
      uniqCols = Seq("user"))
    assert(r2.mode == "incremental", "appends must fold, not re-sync")
    assert(uniques() == Map("a" -> 80.0, "b" -> 20.0))

    // a delete on the source: sketches cannot un-insert a hash, so the
    // refresh must take the full re-sync path and converge exactly
    src.delete("user = 'u0'")
    val r3 = IncrementalView.refresh(src, viewLoc, Seq("k"), Seq("v"),
      uniqCols = Seq("user"))
    assert(r3.mode == "full", s"deletes must force re-sync, got ${r3.mode}")
    assert(uniques() == Map("a" -> 79.0, "b" -> 19.0))

    // replay after the fact stays a pure no-op (fresh handles)
    val vBefore = TxTable.forLocation(spark, viewLoc).version
    assert(IncrementalView.refresh(new TxTable(spark, srcLoc), viewLoc,
      Seq("k"), Seq("v"), uniqCols = Seq("user")).mode == "noop")
    assert(TxTable.forLocation(spark, viewLoc).version == vBefore)
  }

  test("uniq estimate stays within the error envelope past k distinct") {
    import org.apache.spark.sql.functions.col
    val srcLoc = TestSpark.tmpDir("mv-uniq-big")
    val viewLoc = TestSpark.tmpDir("mv-uniq-bigv") + "/v"
    val src = new TxTable(spark, srcLoc)
    val n1 = 6000; val n2 = 12000 // both past KmvK = 4096
    src.create((0 until n1).map(u => ("g", s"user_$u", 1.0)).toDF("k", "user", "v"))
    IncrementalView.refresh(src, viewLoc, Seq("k"), Seq("v"), uniqCols = Seq("user"))
    // second batch overlaps the first half and extends to n2
    src.append((n1 / 2 until n2).map(u => ("g", s"user_$u", 1.0)).toDF("k", "user", "v"))
    val r = IncrementalView.refresh(src, viewLoc, Seq("k"), Seq("v"),
      uniqCols = Seq("user"))
    assert(r.mode == "incremental")
    val est = IncrementalView.withDistinctEstimates(
      TxTable.forLocation(spark, viewLoc).toDF, Seq("user"))
      .select(col("approx_uniq_user")).collect()(0).getDouble(0)
    val rel = math.abs(est - n2) / n2
    assert(rel < 4.0 / math.sqrt(IncrementalView.KmvK - 2),
      s"merged-sketch estimate $est vs $n2 (rel $rel)")
  }

  test("moment columns stay incremental under CDF deletes; variance derives exactly") {
    val srcLoc = TestSpark.tmpDir("mv-mom-src")
    val viewLoc = TestSpark.tmpDir("mv-mom-view") + "/v"
    val rows = (1L to 60L).map(i => (s"k${i % 3}", i))
    DeltaLogWriter.create(spark, srcLoc, rows.toDF("k", "v"),
      properties = Map("delta.enableChangeDataFeed" -> "true"))
    val src = TxTable.forForeignDelta(spark, srcLoc)
    def refresh() = IncrementalView.refresh(src, viewLoc, Seq("k"), Seq("v"),
      momentCols = Seq("v"))
    assert(refresh().mode == "initial")
    // append folds the moment cells
    src.append(Seq(("k0", 1000L), ("k1", 2000L)).toDF("k", "v"))
    assert(refresh().mode == "incremental")
    // a DELETE stays on the CDF fast path — the moment state is
    // RETRACTABLE (cnt and sq subtract exactly), unlike min/max/uniq
    src.delete("v % 7 = 0")
    assert(refresh().mode == "cdf",
      "moment columns must not force a full re-sync on deletes")
    val live = (rows ++ Seq(("k0", 1000L), ("k1", 2000L))).filter(_._2 % 7 != 0)
    val view = IncrementalView.withVariances(
      TxTable.forLocation(spark, viewLoc).toDF, Seq("v"))
    def expVar(xs: Seq[Long]): Double = {
      val n = BigInt(xs.size); val s = xs.map(BigInt(_)).sum
      val q = xs.map(x => BigInt(x) * x).sum
      (n * q - s * s).toDouble / (n * n).toDouble
    }
    view.collect().foreach { r =>
      val k = r.getString(r.fieldIndex("k"))
      val xs = live.filter(_._1 == k).map(_._2)
      assert(r.getLong(r.fieldIndex("cnt_v")) == xs.size.toLong)
      assert(math.abs(r.getDouble(r.fieldIndex("avg_v")) -
        xs.map(BigInt(_)).sum.toDouble / xs.size) < 1e-9)
      val got = r.getDouble(r.fieldIndex("var_pop_v"))
      assert(math.abs(got - expVar(xs)) <= 1e-9 * math.max(1.0, expVar(xs)),
        s"group $k var $got vs ${expVar(xs)}")
      assert(math.abs(r.getDouble(r.fieldIndex("stddev_v")) -
        math.sqrt(expVar(xs))) < 1e-9)
    }
    // decimal(38,0) OVERFLOW of a group's sq state poisons to null —
    // the derived variance answers NULL, never a silently negative
    // value (an all-null group's legit null sq still folds as 0)
    // ±big: the long SUM stays ~0 (no ANSI throw) while Σx² crosses
    // the decimal(38,0) cap — isolating the sq-overflow path
    val big = 9000000000000000000L
    val ofSrcLoc = TestSpark.tmpDir("mv-mom-of")
    DeltaLogWriter.create(spark, ofSrcLoc,
      Seq(("k0", big), ("k0", -big), ("k1", 3L)).toDF("k", "v"),
      properties = Map("delta.enableChangeDataFeed" -> "true"))
    val ofSrc = TxTable.forForeignDelta(spark, ofSrcLoc)
    val ofView = TestSpark.tmpDir("mv-mom-ofv") + "/v"
    IncrementalView.refresh(ofSrc, ofView, Seq("k"), Seq("v"), momentCols = Seq("v"))
    val ofRows = IncrementalView.withVariances(
      TxTable.forLocation(spark, ofView).toDF, Seq("v"))
      .collect().map(r => r.getString(r.fieldIndex("k")) -> r).toMap
    assert(ofRows("k0").isNullAt(ofRows("k0").fieldIndex("var_pop_v")),
      "an overflowed group must answer NULL variance, not a negative one")
    assert(ofRows("k1").getDouble(ofRows("k1").fieldIndex("var_pop_v")) == 0.0)

    // a moment column without its SUM is a definition error
    val bad = TestSpark.tmpDir("mv-mom-bad") + "/v"
    intercept[graft.catalog.UnsupportedOperationError] {
      IncrementalView.refresh(src, bad, Seq("k"), Seq.empty, momentCols = Seq("v"))
    }
  }

  test("moment state stays exact under a value-changing source UPDATE") {
    // the regression shape: an UPDATE that changes values but not the
    // group's non-null count folds a SIGNED cnt delta of exactly 0 while
    // the Σx² delta (Σnew² − Σold²) is nonzero — a cnt-gated coalesce
    // dropped it, leaving sq (and every later variance read) stale
    val srcLoc = TestSpark.tmpDir("mv-momu-src")
    val viewLoc = TestSpark.tmpDir("mv-momu-view") + "/v"
    val rows = (1L to 30L).map(i => (s"k${i % 2}", i))
    DeltaLogWriter.create(spark, srcLoc, rows.toDF("k", "v"),
      properties = Map("delta.enableChangeDataFeed" -> "true"))
    val src = TxTable.forForeignDelta(spark, srcLoc)
    def refresh() = IncrementalView.refresh(src, viewLoc, Seq("k"), Seq("v"),
      momentCols = Seq("v"))
    assert(refresh().mode == "initial")
    // every row's value changes, no row's nullness changes
    src.update("v % 3 = 0", Map("v" -> "v * 10"))
    val r = refresh()
    // must stay on the signed CDF fold — a full re-sync would recompute
    // sq from scratch and mask the dropped-delta regression
    assert(r.mode == "cdf")
    val live = rows.map { case (k, v) => (k, if (v % 3 == 0) v * 10 else v) }
    val view = IncrementalView.withVariances(
      TxTable.forLocation(spark, viewLoc).toDF, Seq("v")).collect()
    assert(view.length == 2)
    view.foreach { row =>
      val k = row.getString(row.fieldIndex("k"))
      val xs = live.filter(_._1 == k).map(_._2)
      val n = BigInt(xs.size); val s = xs.map(BigInt(_)).sum
      val q = xs.map(x => BigInt(x) * x).sum
      val exp = (n * q - s * s).toDouble / (n * n).toDouble
      assert(row.getLong(row.fieldIndex("cnt_v")) == xs.size.toLong)
      val got = row.getDouble(row.fieldIndex("var_pop_v"))
      assert(math.abs(got - exp) <= 1e-9 * math.max(1.0, exp),
        s"group $k: var_pop $got after UPDATE, expected $exp — sq went stale")
    }
  }

  test("variance read path answers NULL on decimal overflow, never throws") {
    // healthy (non-poisoned) state whose n·Σx² exceeds decimal(38,0):
    // ±3e18 alternating keeps SUM(long) at 0 (no ANSI throw on write)
    // and Σx² = 10·9e36 = 9e37 inside decimal(38,0), but the read-time
    // product cnt·Σx² = 9e38 overflows — try_-arithmetic must answer
    // NULL (the poison contract) instead of an ANSI ArithmeticException
    val srcLoc = TestSpark.tmpDir("mv-momr-src")
    val viewLoc = TestSpark.tmpDir("mv-momr-view") + "/v"
    val big = 3000000000000000000L
    val rows = (1 to 10).map(i => ("hot", if (i % 2 == 0) big else -big)) ++
      Seq(("ok", 3L), ("ok", 5L))
    DeltaLogWriter.create(spark, srcLoc, rows.toDF("k", "v"),
      properties = Map("delta.enableChangeDataFeed" -> "true"))
    val src = TxTable.forForeignDelta(spark, srcLoc)
    IncrementalView.refresh(src, viewLoc, Seq("k"), Seq("v"), momentCols = Seq("v"))
    val got = IncrementalView.withVariances(
      TxTable.forLocation(spark, viewLoc).toDF, Seq("v"))
      .collect().map(r => r.getString(r.fieldIndex("k")) -> r).toMap
    assert(got("hot").isNullAt(got("hot").fieldIndex("var_pop_v")),
      "a 38-digit read-time intermediate must answer NULL, not throw")
    assert(got("ok").getDouble(got("ok").fieldIndex("var_pop_v")) == 1.0)
  }
}
