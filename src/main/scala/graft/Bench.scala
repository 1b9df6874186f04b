package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Probes.noop
import graft.ScaleCheck._
import graft.catalog.FileType
import graft.queries.Tables
import graft.tables.TxTable

/** Benchmark main: runs the headline queries against
  * sys.env("SPARK_GRAFT_SF_DIR") and prints one JSON line.
  *
  * Each query is fully materialized through the `noop` sink (so projections
  * and windows are actually computed, unlike a `count()` which Catalyst can
  * prune to a scan).
  *
  * Two timing regimes, deliberately different:
  *   - HEADLINE queries: best-of-3 per query — the first pass pays
  *     JIT/codegen warmup, and this host's timings swing up to 3x
  *     run-to-run under shared-CPU noise (the same q03 plan measured
  *     0.72s and 2.4s minutes apart); the minimum of three is a much
  *     tighter steady-state estimator.
  *   - OPS demo blocks: two full passes of the whole block, each label
  *     recording its minimum (min-of-two), because each label times a
  *     stateful fixture that must be rebuilt per pass.
  *
  * The headline loop runs as a CBO A/B: the contract metric ("value" /
  * "queries") comes from the CBO-OFF arm — the headline queries read raw
  * parquet with NO stamped statistics, so CBO buys them nothing and costs
  * a fixed per-query planning tax (the BasicStats plan visitor walks every
  * operator), material at sub-second local timings and noise at cluster
  * scale. The CBO-ON arm is recorded next to it ("cbo_ab") so the
  * round-over-round delta is attributable from the artifact alone.
  * Engine sessions that DO carry stamped stats (Verify/ScaleCheck) keep
  * CBO on — that is where GraftPlannerStats' NDV/min-max costing pays.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Probes.session(defaultCpus = 4)
    val off = new Probes("bench")
    val on = off.section("cbo_on")

    def setCbo(cbo: Boolean): Unit = {
      spark.conf.set("spark.sql.cbo.enabled", cbo.toString)
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", cbo.toString)
    }
    // A/B arms INTERLEAVED per query and COUNTERBALANCED (even-indexed
    // queries run the off arm first, odd-indexed the on arm first): a
    // whole-arm-first order hands the second arm every warmup the first
    // paid — page cache, classloading, JIT — and at sub-second timings
    // that bias is bigger than the effect being measured (even within a
    // query, JIT tiering keeps improving past pass 3, so the
    // second-run arm still inherits ~10% warmth; alternating the order
    // cancels it across the 16-query total). min-of-3 per arm discards
    // each arm's cold pass, so the off totals stay comparable to the
    // earlier rounds' protocol.
    SparkEntry.headlineQueries.zipWithIndex.foreach { case (q, i) =>
      val arms = Seq(false -> off, true -> on)
      (if (i % 2 == 0) arms else arms.reverse).foreach { case (cbo, r) =>
        setCbo(cbo)
        r.time(q.name, passes = 3)(noop(q.fn(spark, sfDir)))
      }
    }
    // every block below is measured under the session's documented
    // config (CBO ON), whatever arm the A/B loop ran last
    setCbo(true)

    // Skew demo (diagnostic; NOT in the headline total — its RESULT is
    // oracle-anchored by q77_salted_skew_join, which hash-proves salting
    // is result-transparent; this block only times the three plans): the
    // q77 hot-key join amplified 20x, with auto-broadcast disabled to
    // model a dim table too large to broadcast at production scale
    // (locally customer always broadcasts, which would hide the skew
    // entirely). Three timings, best-of-2, reported as measured:
    //   naive_aqe    — plain join, AQE skew-join split ON (the modern
    //                  baseline; where AQE's split applies, USE IT — at
    //                  sf0.1 it beats salting, and the numbers say so)
    //   salted       — Skew.saltedJoin, which fixes the pathology below
    //                  at the cost of dim-side replication
    //   naive_noaqe  — plain join with the split off: the single-task
    //                  hot-partition pathology salting exists for (AQE
    //                  cannot split e.g. pre-partitioned/bucketed stages
    //                  or first-shuffle aggregations)
    val skew = off.section("skew_demo")
    val bKey = "spark.sql.autoBroadcastJoinThreshold"
    val sKey = "spark.sql.adaptive.skewJoin.enabled"
    val (prevB, prevS) = (spark.conf.get(bKey), spark.conf.get(sKey))
    spark.conf.set(bKey, "-1")
    try {
      def skewed = Tables.events(spark, sfDir)
        .withColumn("rep", explode(sequence(lit(1), lit(20))))
        .withColumn("hot_key",
          when(pmod(col("user_id"), lit(10)) < 8, lit(1L)).otherwise(col("user_id")))
      def dim = Tables.customer(spark, sfDir)
        .select(col("c_custkey").as("hot_key"), col("c_mktsegment"))
      def naive = skewed.join(dim, Seq("hot_key")).groupBy("c_mktsegment").agg(sum("value"))
      skew.time("naive_aqe_sec", passes = 2)(noop(naive))
      skew.time("salted_sec", passes = 2)(noop(graft.ext.Skew.saltedJoin(skewed, dim,
        Seq("hot_key"), salts = spark.conf.get("spark.sql.shuffle.partitions").toInt)
        .groupBy("c_mktsegment").agg(sum("value"))))
      spark.conf.set(sKey, "false")
      skew.time("naive_noaqe_sec", passes = 2)(noop(naive))
    } finally { spark.conf.set(bKey, prevB); spark.conf.set(sKey, prevS) }

    // Deletion-vector demo (diagnostic; NOT in the headline total — its
    // RESULT is oracle-anchored by q79_dv_delete, which hash-proves the
    // DV write + DV-filtered read against DuckDB, and q94 pins row-id
    // survival; this block only times cow vs DV): the same selective
    // DELETE (~0.6% of rows) against two copies of a Delta table built
    // from lineitem — one copy-on-write (rewrites every touched file),
    // one merge-on-read (commits per-file bitmaps). The gap widens with
    // file size: at 100 TB the rewrite is O(touched bytes), the DV commit
    // O(matching rows). Best-of-2 on FRESH copies (a delete consumes its
    // table, so each pass rebuilds, untimed): the design-point ratio is
    // only quotable from steady-state timings.
    val dv = off.section("dv_demo")
    for ((label, props) <- Seq("cow_delete_sec" -> Map.empty[String, String],
        "dv_delete_sec" -> Map("delta.enableDeletionVectors" -> "true")); _ <- 1 to 2)
      dv.group(label) {
        val loc = tmp("bench-dv")
        // 4x-amplified into few big files, so the rewrite-vs-bitmap gap is
        // about file bytes, not job overhead
        graft.tables.DeltaLogWriter.create(spark, loc,
          Tables.lineitem(spark, sfDir)
            .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
              col("l_extendedprice"), col("l_returnflag"))
            .withColumn("rep", explode(sequence(lit(1), lit(4)))).repartition(2),
          properties = props)
        dv.time(label)(TxTable.forForeignDelta(spark, loc).delete("l_quantity = 17"))
      }

    // Iceberg demo (diagnostic; NOT in the headline total — RESULTS are
    // oracle-anchored by q95-q98/q102/q104-q106/q108; this block only
    // times the plans): ONE bucket+month hidden-partitioned table built
    // from orders — the write timed once (it clusters by ~hundreds of
    // partition tuples, the cost is file-count-shaped), then best-of-3
    // of the scans that matter at 100 TB in steady state: a full
    // manifest-planned scan, and a point scan whose raw-column predicates
    // project through the bucket/month transforms to prune manifest
    // entries (the r8 bench caught a 17s outlier on a 0.4s plan here).
    val ice = off.section("iceberg_demo")
    ice.group("fixture") {
      val loc = tmp("bench-ice") + "/t"
      ice.time("write_sec")(graft.tables.IcebergWriter.create(spark, loc,
        Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice")),
        partitionColumns = Seq("bucket(8, o_custkey)", "month(o_orderdate)")))
      ice.time("full_scan_sec", passes = 3)(noop(graft.tables.IcebergLog.toDF(spark, loc)))
      ice.time("pruned_scan_sec", passes = 3)(noop(graft.tables.IcebergLog.scan(spark, loc,
        "o_custkey = 371 AND o_orderdate >= TIMESTAMP_NTZ'1995-01-01 00:00:00'")))
    }

    // min-of-two FULL ops passes (the SCALE protocol at one scale):
    // per-label minimum, so a one-shot scheduler hiccup can no longer
    // masquerade as an operator regression in the round-over-round diff
    val ops = off.section("ops_demo")
    (1 to 2).foreach(pass => opsDemo(ops, spark, sfDir, pass))

    val total = off.total
    println(Probes.json("metric" -> "total", "value" -> total, "unit" -> "sec", "queries" -> off,
      "cbo_ab" -> Seq("off_total" -> total, "on_total" -> on.total, "on_queries" -> on),
      "skew_demo" -> skew, "dv_demo" -> dv, "iceberg_demo" -> ice, "ops_demo" -> ops,
      "sf" -> sfDir, "total_sec" -> total, "errors" -> off.errors))
    // the compact headline line goes out LAST: the driver captures the
    // TAIL of stdout, so whatever is final must be the line that always
    // fits — r14/r15 printed it before the giant record line and the
    // tail window kept only the big line's unparseable suffix
    println(Probes.json("metric" -> "headline", "value" -> total, "unit" -> "sec",
      "queries" -> off, "cbo_on_total" -> on.total, "sf" -> sfDir))
    spark.stop()
  }

  /** One full pass of the operator demos (diagnostic; NOT in the headline
    * total — RESULTS are oracle-anchored by q121/q122/q129/q136 and the
    * other queries they run; these rows exist so BENCH tracks each
    * operator's cost round-over-round, not just in one-off scale runs).
    * Fixtures are rebuilt per pass (fresh temp dirs, pass-suffixed
    * catalogs), so stateful ops time the same work both times.
    */
  private def opsDemo(r: Probes, spark: SparkSession, sfDir: String, pass: Int): Unit = {
    def query(label: String, name: String): Unit =
      r.time(label)(noop(SparkEntry.queries(name)(spark, sfDir)))
    def lineitem(cols: Column*): DataFrame = Tables.lineitem(spark, sfDir).select(cols: _*)
    def documents: DataFrame = Tables.documents(spark, sfDir)
    def sql(text: String): Unit = spark.sql(text).collect()

    // incremental MV maintenance (initial full fold vs O(changed rows)
    // refresh), the persisted dedup index (corpus signing vs O(batch)
    // candidate filtering), corpus shuffle-sharding, and the Iceberg
    // snapshot-diff changelog after a MoR delete
    mvCycle(r, spark, sfDir, "bench")
    r.group("dedup_index") {
      val loc = tmp("bench-didx")
      val docs = documents.select(col("doc_id"), col("text"))
      val corpus = new TxTable(spark, s"$loc/c")
      corpus.create(docs)
      r.time("dedup_index_refresh")(graft.ext.DedupIndex.refresh(corpus, s"$loc/i"))
      val batch = docs.limit(200).withColumn("doc_id", col("doc_id") + lit(10000000L))
      r.time("dedup_index_filter_new")(
        noop(graft.ext.DedupIndex.filterNew(corpus, s"$loc/i", batch)))
    }
    r.time("corpus_shards")(noop(corpusShards(spark, sfDir)))
    icebergChangelogDelete(r, spark, sfDir, "bench")
    // the trained-weight classifier (broadcast gather, map-only), the
    // cross-corpus boilerplate-line removal (two partial-agg shuffles),
    // the composed curation pipeline (classifier → dedup → split, q144's
    // exact shape), and the overwrite-snapshot changelog derivation
    // (delete feed = removed files' rows, insert feed = added files' rows)
    r.time("classifier_trained")(noop(trainedClassifier(spark, sfDir)))
    r.time("boilerplate_lines")(noop(boilerplateLines(spark, sfDir)))
    query("curation_pipeline", "q144_curation_pipeline")
    r.group("iceberg_changelog_overwrite") {
      val loc = tmp("bench-chovw") + "/t"
      val li = lineitem(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      val t = TxTable.forIceberg(spark, loc)
      t.create(li, Seq("l_returnflag"))
      t.overwritePartitionsDynamic(li.filter(col("l_returnflag") === "A")
        .withColumn("l_quantity", col("l_quantity") + lit(1)))
      r.time("iceberg_changelog_overwrite")(
        noop(graft.tables.IcebergLog.tableChanges(spark, loc, t.version, Some(t.version))))
    }
    // bigram-LM fluency scoring (explode + two model equi-joins),
    // sliding-window chunking (map-only explode), and the
    // partition-grouped metadata-only rollup vs the same rollup forced
    // through a scan — the at-scale delta IS the point
    r.time("bigram_lm_score")(noop(graft.ext.TextOps.bigramLmScore(documents)))
    r.time("doc_chunking")(noop(docChunks(spark, sfDir)))
    // the stamped-stats family below all runs against this table
    val (grpCat, grpLoc) = (s"benchgrp$pass", tmp("bench-grp") + "/t")
    r.group("grouped_rollup") {
      returnflagTable(spark, sfDir, grpCat, grpLoc, files = 8)
      groupedRollup(r, spark, grpCat, grpLoc)
    }
    bloomCycle(r, spark, sfDir, "bench", _ => 16)
    // the one-pass grouped-KMV overlap matrix, SpaceSaving frequent
    // items, eTLD+1 domain filtering, the quality-bucketed token-budget
    // mix, and the sketch-state incremental MV refresh
    query("kmv_overlap_matrix", "q158_source_overlap_matrix")
    query("frequent_items", "q149_frequent_items_sketch")
    query("url_domain_filter", "q148_url_domain_filter")
    query("quality_bucket_mix", "q157_quality_bucket_mix")
    r.group("mv_approx_distinct") {
      val loc = tmp("bench-mvkmv")
      val li = lineitem(col("l_returnflag"),
        col("l_quantity").cast("double").as("l_quantity"), col("l_orderkey"))
      val src = new TxTable(spark, s"$loc/src")
      src.create(li)
      def refresh(): Unit = graft.tables.IncrementalView.refresh(src, s"$loc/mv",
        Seq("l_returnflag"), Seq("l_quantity"), uniqCols = Seq("l_orderkey"))
      refresh()
      src.append(li.limit(10000))
      r.time("mv_approx_distinct_refresh")(refresh())
    }
    copyIntoCycle(r, spark, sfDir, "bench", files = 8)
    // the partition-only-WHERE metadata answer vs the same filtered
    // aggregate forced through a scan
    partitionFilterServe(r, spark, grpCat)
    // the table resolves outside the timed region, as the metadata twin's
    // catalog lookup is not a scan either
    val t = TxTable.forForeignDelta(spark, grpLoc)
    r.time("partition_filter_scan") {
      t.toDF.filter(col("l_returnflag") === "A")
        .agg(count(lit(1)).as("n"), min(col("l_orderkey")).as("lo"))
        .collect()
    }
    // the C4-shaped canonical-URL dedup pass — codegen'd normalize + one
    // group-by shuffle
    query("canonical_url_dedup", "q164_canonical_url_dedup")

    // the metadata-stats family on the grouped table: null-count
    // COUNT(col), the ANALYZE stamp scan (the SKIP SKETCHES twin FIRST —
    // the full stamp after it restores the digests the percentile rows
    // serve from; the delta between the two is the GK quantile layer's
    // share of the scan), the stamped scan-free SUM/NDV answer, stamped
    // exact extremes for a footer-refused type (doubles), the O(batch)
    // append FOLD, and the post-fold answer proving stats survived the
    // append without a re-scan
    r.time("metadata_count_col")(sql(s"SELECT COUNT(l_orderkey) AS n FROM $grpCat.s.t"))
    r.time("analyze_stamp_scan_noqs")(sql(s"""ANALYZE TABLE $grpCat.s.t COMPUTE STATISTICS
        FOR COLUMNS l_orderkey, l_quantity SKIP SKETCHES"""))
    r.time("analyze_stamp_scan")(sql(s"""ANALYZE TABLE $grpCat.s.t COMPUTE STATISTICS
        FOR COLUMNS l_orderkey, l_quantity"""))
    val sumNdv = s"""SELECT SUM(l_orderkey) AS s,
        APPROX_COUNT_DISTINCT(l_orderkey) AS d FROM $grpCat.s.t"""
    r.time("metadata_sum_ndv")(sql(sumNdv))
    r.time("metadata_minmax_double")(
      sql(s"SELECT MIN(l_quantity) AS mn, MAX(l_quantity) AS mx FROM $grpCat.s.t"))
    // includes the fold's batch aggregate
    r.time("stats_fold_append")(t.append(
      lineitem(col("l_orderkey"), col("l_quantity"), col("l_returnflag")).limit(10000)))
    r.time("metadata_sum_post_fold")(sql(sumNdv))
    // the full-aggregate-surface serves — AVG + central moments from the
    // stamped (n, Σx, Σx²) and APPROX_PERCENTILE from the stamped quantile
    // sketch, each against the same answer forced through a scan;
    // measured AFTER the append fold, so they also prove the fold carried
    // the moment and quantile layers forward without a re-scan
    r.time("metadata_avg_var")(sql(s"""SELECT AVG(l_orderkey) AS a,
        STDDEV_POP(l_orderkey) AS s, VAR_SAMP(l_orderkey) AS v FROM $grpCat.s.t"""))
    r.time("avg_var_scan")(t.toDF.agg(avg(col("l_orderkey")).as("a"),
      stddev_pop(col("l_orderkey")).as("s"), var_samp(col("l_orderkey")).as("v")).collect())
    r.time("approx_percentile_metadata")(sql(s"""SELECT APPROX_PERCENTILE(l_orderkey,
        array(0.5, 0.95, 0.99), 100) AS p FROM $grpCat.s.t"""))
    r.time("approx_percentile_scan")(t.toDF.selectExpr(
      "approx_percentile(l_orderkey, array(0.5, 0.95, 0.99), 100) AS p").collect())
    // a partial ANALYZE of a NEW column over the FRESH stamp — ONE
    // column-pruned scan, with the other columns' keys and layer cells
    // MERGING through instead of clearing; the post-merge serve mixes
    // old- and new-column aggregates in one scan-free answer
    r.time("analyze_partial_merge")(
      sql(s"ANALYZE TABLE $grpCat.s.t COMPUTE STATISTICS FOR COLUMNS l_returnflag"))
    r.time("metadata_serve_post_merge")(sql(s"""SELECT SUM(l_orderkey) AS s,
        APPROX_COUNT_DISTINCT(l_orderkey) AS d, APPROX_COUNT_DISTINCT(l_returnflag) AS dr
      FROM $grpCat.s.t"""))
    // the COPY INTO transform premium: copy_into_initial's drop zone with
    // a projection at load
    r.group("copy_into_transform") {
      val root = tmp("bench-cptr")
      val li = lineitem(col("l_orderkey"), col("l_quantity"))
      li.repartition(8).write.mode("append").parquet(s"$root/drop")
      val ct = new TxTable(spark, s"$root/t")
      ct.create(li.limit(0).withColumn("bucket", lit(0L)))
      r.time("copy_into_transform")(graft.tables.CopyInto.run(ct, s"$root/drop",
        transform = Some("l_orderkey, l_quantity, l_orderkey % 7 as bucket")))
    }
    // per-partition APPROX_COUNT_DISTINCT and APPROX_PERCENTILE under a
    // partition WHERE (stamped sketch merge, scan-free) vs the same
    // estimate forced through a scan; then the delete FOLD (O(touched
    // rows) aggregate over the removed files, riding the delete itself)
    // and the UPDATE fold (assigning one column costs O(touched files
    // rewrite) and leaves every other column's stats serving), each
    // followed by a scan-free SUM
    val partA = col("l_returnflag") === "A"
    r.time("partition_ndv_metadata")(sql(s"""SELECT APPROX_COUNT_DISTINCT(l_orderkey) AS d
        FROM $grpCat.s.t WHERE l_returnflag = 'A'"""))
    r.time("partition_ndv_scan")(
      t.toDF.filter(partA).agg(approx_count_distinct(col("l_orderkey")).as("d")).collect())
    r.time("partition_pct_metadata")(sql(s"""SELECT APPROX_PERCENTILE(l_orderkey, 0.5, 50)
        AS p FROM $grpCat.s.t WHERE l_returnflag = 'A'"""))
    r.time("partition_pct_scan")(t.toDF.filter(partA)
      .selectExpr("approx_percentile(l_orderkey, 0.5, 50) AS p").collect())
    r.time("stats_fold_delete")(t.delete("l_quantity = 17"))
    r.time("metadata_sum_post_delete")(sql(s"SELECT SUM(l_orderkey) AS s FROM $grpCat.s.t"))
    r.time("stats_fold_update")(t.update("l_quantity = 23", Map("l_quantity" -> "l_quantity + 0")))
    r.time("metadata_sum_post_update")(sql(s"SELECT SUM(l_orderkey) AS s FROM $grpCat.s.t"))

    // the grouped distinct-users rollup (sketch layer vs scan), the
    // retention partition-drop that KEEPS the layer (drop fold cost + the
    // post-drop unfiltered APPROX served from the surviving sketches),
    // the insert-only MERGE fold, and the same retention drop on ICEBERG
    // (a pinned metadata commit removing the files, no position-delete
    // write, stamp folds)
    r.group("retention") {
      val cat = s"benchret$pass"
      val client = catalog(spark, cat)
      val root = tmp("bench-ret")
      val li = Tables.lineitem(spark, sfDir).select(
        col("l_orderkey").cast("long").as("l_orderkey"),
        col("l_quantity").cast("long").as("l_quantity"), col("l_returnflag"))
      client.createAsTable(li.repartition(8), cat, "s", "t", FileType.DELTA, s"$root/t",
        partitionColumns = Seq("l_returnflag"))
      sql(s"ANALYZE TABLE $cat.s.t COMPUTE STATISTICS FOR ALL COLUMNS")
      val rt = client.getTxTable(cat, "s", "t")
      r.time("grouped_approx_metadata")(sql(s"""SELECT l_returnflag, COUNT(*) AS n,
          APPROX_COUNT_DISTINCT(l_orderkey) AS d FROM $cat.s.t GROUP BY l_returnflag"""))
      r.time("grouped_approx_scan")(rt.toDF.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), approx_count_distinct(col("l_orderkey")).as("d")).collect())
      r.time("retention_drop_fold")(spark.sql(s"DELETE FROM $cat.s.t WHERE l_returnflag = 'A'"))
      r.time("retention_approx_post_drop")(
        sql(s"SELECT APPROX_COUNT_DISTINCT(l_orderkey) AS d FROM $cat.s.t"))
      // disjoint keys: everything lands NOT MATCHED — the commit is an
      // append and the (surviving) stamp folds it in
      val src = li.filter(col("l_returnflag") =!= "A")
        .select((col("l_orderkey") + lit(100000000L)).as("l_orderkey"),
          col("l_quantity"), col("l_returnflag")).limit(10000)
      r.time("insert_only_merge_fold")(rt.merge(src, "s.l_orderkey = t.l_orderkey")
        .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute())
      client.createAsTable(li.repartition(8), cat, "s", "ti", FileType.ICEBERG, s"$root/ti",
        partitionColumns = Seq("l_returnflag"))
      sql(s"ANALYZE TABLE $cat.s.ti COMPUTE STATISTICS FOR ALL COLUMNS")
      r.time("iceberg_retention_drop")(
        spark.sql(s"DELETE FROM $cat.s.ti WHERE l_returnflag = 'A'"))
    }
    // the SIDECAR per-partition layer at 120 tuples on a native-log table
    sidecarCycle(r, spark, sfDir, s"benchside$pass", new TxTable(_, _), FileType.DELTA,
      tuples = 120, files = 2, serveBelow = 40, dropFrom = 100, twins = false)

    // the BINNED range join (q185's shape) vs the naive range predicate,
    // in BOTH regimes. With the user_id equi key present, Spark already
    // hash-joins and the residual filter is cheap at this fixture's
    // per-user density — the keyed pair pins result-transparent overhead
    // and linear scaling, not a win. The win is the NO-equi-key regime:
    // a pure range predicate plans as a BroadcastNestedLoopJoin — every
    // (point, interval) pair evaluated — while binning makes it an
    // equi-join on the day-bin. That pair runs on a FIXED 30k×30k slice
    // (constant work at any SF: the nested loop is quadratic, up to 900M
    // evaluations, and would be unrunnable at ×10 — which is the point).
    r.group("range_join") {
      val (clicks, purchases) = clicksAndPurchases(spark, sfDir)
      keyedRangeJoins(r, clicks, purchases)
      // ordered by id, so both arms time the exact same rows every run
      // (an unordered limit() is partition- and scheduling-dependent);
      // the sort is materialized into the cache outside the timings
      val gClicks = clicks.orderBy(col("click_id")).limit(30000).cache()
      val gPurch = purchases.orderBy(col("p_id")).limit(30000).cache()
      gClicks.count(); gPurch.count()
      r.time("range_join_global_binned")(noop(graft.ext.RangeJoin.pointInInterval(
        gPurch, gClicks, pointCol = "p_ts", startCol = "w_start", endCol = "w_end",
        binWidth = 86400000000L)))
      r.time("range_join_global_nestedloop")(noop(gPurch.join(gClicks,
        col("p_ts") >= col("w_start") && col("p_ts") < col("w_end"))))
      gClicks.unpersist(); gPurch.unpersist()
    }
    // the fused native span-cut pass (q92's shape) and the EXACT
    // prefix-filtered Jaccard pair join (q99/q100's edge generation — the
    // naive all-pairs twin is not benched at sf0.1: it is quadratic in
    // documents, ~100× this row, which is the point)
    query("span_removal", "q92_span_removal")
    r.time("jaccard_pairs_prefix")(noop(prefixJaccardPairs(spark, sfDir)))
  }
}
