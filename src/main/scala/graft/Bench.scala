package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.Timing.timed

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
  *   - OPS demo blocks: ONE full pass per opsDemoRun call; the caller
  *     runs two full passes and records the per-label minimum
  *     (min-of-two), because each label times a stateful fixture that
  *     must be rebuilt per pass.
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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // cost-based optimizer ON for the ops blocks: the stamped column
      // statistics the engine attaches (GraftPlannerStats) feed filter
      // selectivity and join-reorder costing there; the headline loop
      // below A/Bs this flag per arm
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.sql.GraftSparkSessionExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(_) => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }

    val cboKey = "spark.sql.cbo.enabled"
    val reorderKey = "spark.sql.cbo.joinReorder.enabled"
    def setCbo(on: Boolean): Unit = {
      spark.conf.set(cboKey, on.toString); spark.conf.set(reorderKey, on.toString)
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
    def bestOf3(q: graft.queries.QueryDef, arm: String): Double = {
      val passes = (1 to 3).map { i =>
        val t = timeOnce(q.fn)
        System.err.println(f"[bench] ${q.name} $arm pass$i $t%.2fs")
        t
      }
      if (passes.exists(_ < 0)) -1.0 else passes.min
    }
    val headlineAb = SparkEntry.headlineQueries.zipWithIndex.map { case (q, i) =>
      val offFirst = i % 2 == 0
      setCbo(on = !offFirst)
      val first = bestOf3(q, if (offFirst) "cbo_off" else "cbo_on")
      setCbo(on = offFirst)
      val second = bestOf3(q, if (offFirst) "cbo_on" else "cbo_off")
      if (offFirst) (q.name, first, second) else (q.name, second, first)
    }
    val results = headlineAb.map { case (n, off, _) => n -> off }
    val resultsCboOn = headlineAb.map { case (n, _, on) => n -> on }
    // The A/B loop's last arm may leave CBO off (last index odd → final
    // setCbo(offFirst=false)); every block below is measured under the
    // session's documented config (CBO ON), so restore it explicitly —
    // otherwise the ops/skew/dv/iceberg numbers silently change planner
    // regime depending on the headline-query COUNT's parity.
    setCbo(on = true)

    // Skew demo (diagnostic; NOT in the headline total — its RESULT is
    // oracle-anchored by q77_salted_skew_join, which hash-proves salting
    // is result-transparent; this block only times the three plans): the
    // q77 hot-key
    // join amplified 20x, with auto-broadcast disabled to model a dim
    // table too large to broadcast at production scale (locally customer
    // always broadcasts, which would hide the skew entirely). Three
    // timings, reported as measured:
    //   naive_aqe    — plain join, AQE skew-join split ON (the modern
    //                  baseline; where AQE's split applies, USE IT — at
    //                  sf0.1 it beats salting, and the numbers say so)
    //   naive_noaqe  — plain join with the split off: the single-task
    //                  hot-partition pathology salting exists for (AQE
    //                  cannot split e.g. pre-partitioned/bucketed stages
    //                  or first-shuffle aggregations)
    //   salted       — Skew.saltedJoin, which fixes that pathology at the
    //                  cost of dim-side replication
    val (skewAqe, skewNoAqe, skewSalted) = {
      import org.apache.spark.sql.functions._
      val bKey = "spark.sql.autoBroadcastJoinThreshold"
      val sKey = "spark.sql.adaptive.skewJoin.enabled"
      val prevB = spark.conf.get(bKey)
      val prevS = spark.conf.get(sKey)
      spark.conf.set(bKey, "-1")
      try {
        def skewed = graft.queries.Tables.events(spark, sfDir)
          .withColumn("rep", explode(sequence(lit(1), lit(20))))
          .withColumn("hot_key",
            when(pmod(col("user_id"), lit(10)) < 8, lit(1L)).otherwise(col("user_id")))
        val dim = graft.queries.Tables.customer(spark, sfDir)
          .select(col("c_custkey").as("hot_key"), col("c_mktsegment"))
        def run(df: => org.apache.spark.sql.DataFrame): Double = {
          val t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        def naive = skewed.join(dim, Seq("hot_key"))
          .groupBy("c_mktsegment").agg(sum("value"))
        def salted = graft.ext.Skew.saltedJoin(skewed, dim, Seq("hot_key"), salts = cpus.toInt)
          .groupBy("c_mktsegment").agg(sum("value"))
        // per-pass lines, like the query loop: a noisy host window must
        // be self-diagnosing from the driver log alone
        def best(label: String)(f: => Double): Double = (1 to 2).map { i =>
          val t = f
          System.err.println(f"[bench] skew_demo ${label}_pass$i $t%.2fs")
          t
        }.min
        val aqe = best("naive_aqe")(run(naive))
        val slt = best("salted")(run(salted))
        spark.conf.set(sKey, "false")
        val noaqe = best("naive_noaqe")(run(naive))
        System.err.println(
          f"[bench] skew_demo naive_aqe $aqe%.2fs naive_noaqe $noaqe%.2fs salted $slt%.2fs")
        (aqe, noaqe, slt)
      } finally { spark.conf.set(bKey, prevB); spark.conf.set(sKey, prevS) }
    }

    // Deletion-vector demo (diagnostic; NOT in the headline total — its
    // RESULT is oracle-anchored by q79_dv_delete, which hash-proves the
    // DV write + DV-filtered read against DuckDB, and q94 pins row-id
    // survival; this block only times cow vs DV): the
    // same selective DELETE (~0.6% of rows) against two copies of a Delta
    // table built from lineitem — one copy-on-write (rewrites every
    // touched file), one merge-on-read (commits per-file bitmaps). The gap
    // widens with file size: at 100 TB the rewrite is O(touched bytes),
    // the DV commit O(matching rows).
    val (cowSec, dvSec) = {
      import org.apache.spark.sql.functions.{col, explode, lit, sequence}
      def build(dv: Boolean): String = {
        val loc = java.nio.file.Files.createTempDirectory(s"bench-dv-$dv").toString
        // 4x-amplified into few big files, so the rewrite-vs-bitmap gap is
        // about file bytes, not job overhead
        graft.tables.DeltaLogWriter.create(spark, loc,
          graft.queries.Tables.lineitem(spark, sfDir)
            .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
              col("l_extendedprice"), col("l_returnflag"))
            .withColumn("rep", explode(sequence(lit(1), lit(4)))).repartition(2),
          properties =
            if (dv) Map("delta.enableDeletionVectors" -> "true") else Map.empty)
        loc
      }
      def timeDelete(loc: String): Double = {
        val t0 = System.nanoTime()
        graft.tables.TxTable.forForeignDelta(spark, loc).delete("l_quantity = 17")
        (System.nanoTime() - t0) / 1e9
      }
      // best-of-2 on FRESH copies: a delete consumes its table, so each
      // pass rebuilds (build untimed). The minimum strips the shared-CPU
      // noise that previously swung the cow/dv numbers ~4x round-to-round
      // — the design-point ratio (rewrite O(touched bytes) vs bitmap
      // O(matching rows)) is only quotable from steady-state timings.
      def bestDelete(dv: Boolean): Double =
        (1 to 2).map { i =>
          val t = timeDelete(build(dv))
          System.err.println(f"[bench] dv_demo ${if (dv) "dv" else "cow"}_pass$i $t%.2fs")
          t
        }.min
      val cow = bestDelete(dv = false)
      val dvT = bestDelete(dv = true)
      System.err.println(f"[bench] dv_demo cow_delete $cow%.2fs dv_delete $dvT%.2fs")
      (cow, dvT)
    }

    // Iceberg demo (diagnostic; NOT in the headline total — RESULTS are
    // oracle-anchored by q95-q98/q102/q104-q106/q108; this block only
    // times the plans): ONE bucket+month hidden-partitioned table built
    // from orders — the write timed once (it clusters by ~hundreds of
    // partition tuples, the cost is file-count-shaped), then the scans
    // that matter at 100 TB in steady state: a full manifest-planned
    // scan, and a point scan whose raw-column predicates project through
    // the bucket/month transforms to prune manifest entries.
    val (iceWrite, iceFull, icePruned) = {
      import org.apache.spark.sql.functions.col
      val loc = java.nio.file.Files.createTempDirectory("bench-ice").toString + "/t"
      val orders = graft.queries.Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
      val t0 = System.nanoTime()
      graft.tables.IcebergWriter.create(spark, loc, orders,
        partitionColumns = Seq("bucket(8, o_custkey)", "month(o_orderdate)"))
      val w = (System.nanoTime() - t0) / 1e9
      def run(df: => org.apache.spark.sql.DataFrame): Double = {
        val t = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t) / 1e9
      }
      // best-of-3 with per-pass lines (the r8 bench caught a 17s outlier
      // on a 0.4s plan here; three logged passes make noise vs regression
      // decidable from the driver log)
      def best(label: String)(f: => Double): Double = (1 to 3).map { i =>
        val t = f
        System.err.println(f"[bench] iceberg_demo ${label}_pass$i $t%.2fs")
        t
      }.min
      val full = best("full_scan")(run(graft.tables.IcebergLog.toDF(spark, loc)))
      val pruned = best("pruned_scan")(run(graft.tables.IcebergLog.scan(spark, loc,
        "o_custkey = 371 AND o_orderdate >= TIMESTAMP_NTZ'1995-01-01 00:00:00'")))
      System.err.println(
        f"[bench] iceberg_demo write $w%.2fs full_scan $full%.2fs pruned_scan $pruned%.2fs")
      (w, full, pruned)
    }

    // Round-7–9 operator demos (diagnostic; NOT in the headline total —
    // RESULTS are oracle-anchored by q121/q122/q129/q136; these rows
    // exist so BENCH tracks the operators' cost round-over-round, not
    // just in one-off scale runs): incremental MV maintenance (initial
    // full fold vs O(changed rows) refresh), the persisted dedup index
    // (corpus signing vs O(batch) candidate filtering), corpus
    // shuffle-sharding, and the Iceberg snapshot-diff changelog after a
    // MoR delete. ONE FULL PASS — the caller runs two and records the
    // per-label minimum (round 14: the r13 single-shot protocol posted
    // 2-4x outliers on this shared-CPU host that the min-of-two SCALE
    // record at the same HEAD disproved; min-of-two makes
    // round-over-round deltas trustworthy). Fixtures are rebuilt per
    // pass (fresh temp dirs, pass-suffixed catalog), so stateful ops
    // time the same work both times.
    def opsDemoRun(pass: Int): Seq[(String, Double)] = {
      val grpCat = s"benchgrp$pass"
      import org.apache.spark.sql.functions.{col, lit}
      def line(label: String, v: Double): Unit =
        System.err.println(f"[bench] ops_demo $label $v%.2fs")
      val (mvInit, mvIncr) = {
        val loc = java.nio.file.Files.createTempDirectory("bench-mv").toString
        val li = graft.queries.Tables.lineitem(spark, sfDir)
          .select(col("l_returnflag"), col("l_quantity").cast("double").as("l_quantity"))
        val src = new graft.tables.TxTable(spark, s"$loc/src")
        src.create(li)
        val a = timed(graft.tables.IncrementalView.refresh(
          src, s"$loc/mv", Seq("l_returnflag"), Seq("l_quantity")))
        src.append(li.limit(10000))
        val b = timed(graft.tables.IncrementalView.refresh(
          src, s"$loc/mv", Seq("l_returnflag"), Seq("l_quantity")))
        line("mv_initial_fold", a); line("mv_incremental_refresh", b)
        (a, b)
      }
      val (idxRefresh, idxFilter) = {
        val loc = java.nio.file.Files.createTempDirectory("bench-didx").toString
        val docs = graft.queries.Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("text"))
        val corpus = new graft.tables.TxTable(spark, s"$loc/c")
        corpus.create(docs)
        val a = timed(graft.ext.DedupIndex.refresh(corpus, s"$loc/i"))
        val batch = docs.limit(200).withColumn("doc_id", col("doc_id") + lit(10000000L))
        val b = timed {
          graft.ext.DedupIndex.filterNew(corpus, s"$loc/i", batch)
            .write.format("noop").mode("overwrite").save()
        }
        line("dedup_index_refresh", a); line("dedup_index_filter_new", b)
        (a, b)
      }
      val shards = timed {
        graft.ext.Sampling.shuffleShards(
          graft.queries.Tables.documents(spark, sfDir).select(col("doc_id")),
          "doc_id", docsPerShard = 4096L)
          .write.format("noop").mode("overwrite").save()
      }
      line("corpus_shards", shards)
      val chlog = {
        val loc = java.nio.file.Files.createTempDirectory("bench-chlog").toString + "/t"
        val li = graft.queries.Tables.lineitem(spark, sfDir)
          .select(col("l_orderkey"), col("l_quantity"))
        val t = graft.tables.TxTable.forIceberg(spark, loc)
        t.create(li)
        t.delete("l_orderkey % 97 = 0")
        val c = timed {
          graft.tables.IcebergLog.tableChanges(spark, loc, t.version, Some(t.version))
            .write.format("noop").mode("overwrite").save()
        }
        line("iceberg_changelog_delete", c)
        c
      }
      // round-10/11 operators, so BENCH tracks the current frontier:
      // the trained-weight classifier (broadcast gather, map-only), the
      // cross-corpus boilerplate-line removal (two partial-agg
      // shuffles), the composed curation pipeline (classifier → dedup →
      // split, q144's exact shape), and the overwrite-snapshot
      // changelog derivation (delete feed = removed files' rows,
      // insert feed = added files' rows)
      val classifierTrained = timed {
        val w = Array.tabulate(graft.functions.ClassifierScoreGen.NumBuckets)(b =>
          (((b.toLong * 1664525L + 1013904223L) % 4096L) - 2048L).toFloat / 1024.0f)
        graft.queries.Tables.documents(spark, sfDir).select(
          col("doc_id"),
          graft.functions.TextNativeFunctions.classifierScore(col("text"), w)
            .as(Seq("n_tokens", "raw_score", "score", "keep")))
          .write.format("noop").mode("overwrite").save()
      }
      line("classifier_trained", classifierTrained)
      val boiler = timed {
        import org.apache.spark.sql.functions.{concat, when}
        val d = graft.queries.Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("text"))
        val planted = d.withColumn("text", concat(col("text"),
          when(col("doc_id") % 3 === 0, lit("\nSubscribe to our newsletter"))
            .otherwise(lit(""))))
        graft.ext.TextOps.removeBoilerplateLines(planted, minDocs = 3L)
          .write.format("noop").mode("overwrite").save()
      }
      line("boilerplate_lines", boiler)
      val curation = timed {
        SparkEntry.queries("q144_curation_pipeline")(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      line("curation_pipeline", curation)
      val chlogOverwrite = {
        val loc = java.nio.file.Files.createTempDirectory("bench-chovw").toString + "/t"
        val li = graft.queries.Tables.lineitem(spark, sfDir)
          .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
        val t = graft.tables.TxTable.forIceberg(spark, loc)
        t.create(li, Seq("l_returnflag"))
        t.overwritePartitionsDynamic(
          li.filter(col("l_returnflag") === "A").withColumn("l_quantity", col("l_quantity") + lit(1)))
        val c = timed {
          graft.tables.IcebergLog.tableChanges(spark, loc, t.version, Some(t.version))
            .write.format("noop").mode("overwrite").save()
        }
        line("iceberg_changelog_overwrite", c)
        c
      }
      // round-11 operators: bigram-LM fluency scoring (explode + two
      // model equi-joins), sliding-window chunking (map-only explode),
      // and the partition-grouped metadata-only rollup vs the same
      // rollup forced through a scan — the at-scale delta IS the point
      val lmScore = timed {
        graft.ext.TextOps.bigramLmScore(
          graft.queries.Tables.documents(spark, sfDir))
          .write.format("noop").mode("overwrite").save()
      }
      line("bigram_lm_score", lmScore)
      val chunking = timed {
        graft.ext.TextOps.chunkDocuments(
          graft.queries.Tables.documents(spark, sfDir),
          chunkTokens = 64, overlapTokens = 16)
          .write.format("noop").mode("overwrite").save()
      }
      line("doc_chunking", chunking)
      val (grpMeta, grpScan) = {
        val client = new graft.client.LakehouseClient(spark)
        client.createCatalog(grpCat)
        client.createSchema(grpCat, "s")
        val loc = java.nio.file.Files.createTempDirectory("bench-grp").toString
        val li = graft.queries.Tables.lineitem(spark, sfDir)
          .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
        graft.tables.DeltaLogWriter.create(spark, s"$loc/t", li.repartition(8),
          partitionColumns = Seq("l_returnflag"))
        client.registerAsTable(grpCat, "s", "t",
          graft.catalog.FileType.DELTA, s"$loc/t")
        val a = timed {
          spark.sql(s"""SELECT l_returnflag, COUNT(*) AS n,
              MIN(l_orderkey) AS lo, MAX(l_orderkey) AS hi
            FROM $grpCat.s.t GROUP BY l_returnflag""").collect()
        }
        val b = timed {
          graft.tables.TxTable.forForeignDelta(spark, s"$loc/t").toDF
            .groupBy(col("l_returnflag"))
            .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
              org.apache.spark.sql.functions.min(col("l_orderkey")).as("lo"),
              org.apache.spark.sql.functions.max(col("l_orderkey")).as("hi"))
            .collect()
        }
        line("grouped_rollup_metadata", a); line("grouped_rollup_scan", b)
        (a, b)
      }
      // bloom file-skipping index: sidecar build cost, then the SAME
      // point lookup on an unclustered high-cardinality key with
      // stats-only pruning (min/max straddle every file -> reads all)
      // vs bloom pruning (reads the ~1 file that might hold the key) —
      // at 10^5 files the delta is the difference between a task storm
      // and a single-file read
      val (bloomBuild, bloomLookupStats, bloomLookupPruned) = {
        val loc = java.nio.file.Files.createTempDirectory("bench-bloom").toString + "/t"
        val li = graft.queries.Tables.lineitem(spark, sfDir)
          .select(col("l_orderkey"), col("l_partkey"), col("l_extendedprice"))
        val t = new graft.tables.TxTable(spark, loc)
        t.create(li.repartition(16))
        val key = li.select(col("l_partkey")).head().getLong(0)
        val a = timed {
          t.scan(s"l_partkey = $key").write.format("noop").mode("overwrite").save()
        }
        val b = timed(graft.tables.BloomIndex.enable(t, Seq("l_partkey")))
        val c = timed {
          t.scan(s"l_partkey = $key").write.format("noop").mode("overwrite").save()
        }
        line("bloom_index_build", b)
        line("bloom_lookup_stats_only", a); line("bloom_lookup_pruned", c)
        (b, a, c)
      }
      // round-11 sketch/URL/mix operators (same round-lag rule: BENCH
      // carries each round's additions so the NEXT round is comparable):
      // the one-pass grouped-KMV overlap matrix, SpaceSaving frequent
      // items, eTLD+1 domain filtering, the quality-bucketed
      // token-budget mix, and the sketch-state incremental MV refresh
      val kmvOverlap = timed {
        SparkEntry.queries("q158_source_overlap_matrix")(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      line("kmv_overlap_matrix", kmvOverlap)
      val freqItems = timed {
        SparkEntry.queries("q149_frequent_items_sketch")(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      line("frequent_items", freqItems)
      val urlDomain = timed {
        SparkEntry.queries("q148_url_domain_filter")(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      line("url_domain_filter", urlDomain)
      val qualityMix = timed {
        SparkEntry.queries("q157_quality_bucket_mix")(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      line("quality_bucket_mix", qualityMix)
      val mvApprox = {
        val loc = java.nio.file.Files.createTempDirectory("bench-mvkmv").toString
        val li = graft.queries.Tables.lineitem(spark, sfDir)
          .select(col("l_returnflag"), col("l_quantity").cast("double").as("l_quantity"),
            col("l_orderkey"))
        val src = new graft.tables.TxTable(spark, s"$loc/src")
        src.create(li)
        graft.tables.IncrementalView.refresh(src, s"$loc/mv",
          Seq("l_returnflag"), Seq("l_quantity"), uniqCols = Seq("l_orderkey"))
        src.append(li.limit(10000))
        val b = timed(graft.tables.IncrementalView.refresh(src, s"$loc/mv",
          Seq("l_returnflag"), Seq("l_quantity"), uniqCols = Seq("l_orderkey")))
        line("mv_approx_distinct_refresh", b)
        b
      }
      // round-12: COPY INTO — the initial drop-zone load (tracks new
      // bytes) and the re-run no-op (tracks ingest-log metadata only)
      val (copyInitial, copyNoop) = {
        val root = java.nio.file.Files.createTempDirectory("bench-cpin").toString
        val li = graft.queries.Tables.lineitem(spark, sfDir)
          .select(col("l_orderkey"), col("l_quantity"))
        li.repartition(8).write.mode("append").parquet(s"$root/drop")
        val t = new graft.tables.TxTable(spark, s"$root/t")
        t.create(li.limit(0))
        val a = timed(graft.tables.CopyInto.run(t, s"$root/drop"))
        val b = timed(graft.tables.CopyInto.run(t, s"$root/drop"))
        line("copy_into_initial", a); line("copy_into_noop", b)
        (a, b)
      }
      // round-12: the partition-only-WHERE metadata answer vs the same
      // filtered aggregate forced through a scan
      val (pfMeta, pfScan) = {
        val a = timed {
          spark.sql(s"""SELECT COUNT(*) AS n, MIN(l_orderkey) AS lo
            FROM $grpCat.s.t WHERE l_returnflag = 'A'""").collect()
        }
        val b = timed {
          graft.tables.TxTable.forForeignDelta(spark,
              spark.sql(s"DESCRIBE DETAIL $grpCat.s.t").select("location").head().getString(0))
            .toDF.filter(col("l_returnflag") === "A")
            .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
              org.apache.spark.sql.functions.min(col("l_orderkey")).as("lo"))
            .collect()
        }
        line("partition_filter_metadata", a); line("partition_filter_scan", b)
        (a, b)
      }
      // round-12 operator (round-lag rule): the C4-shaped canonical-URL
      // dedup pass — codegen'd normalize + one group-by shuffle
      val urlDedup = timed {
        SparkEntry.queries("q164_canonical_url_dedup")(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      line("canonical_url_dedup", urlDedup)
      // round-13: the metadata-stats family — null-count COUNT(col),
      // the one ANALYZE stamp scan, the stamped scan-free SUM/NDV
      // answer, the O(batch) append FOLD, and the post-fold answer
      // proving stats survived the append without a re-scan
      val (countCol, analyzeStampNoQs, analyzeStamp, sumNdvMeta, minMaxMeta,
          statsFoldAppend, sumPostFold) = {
        val a = timed {
          spark.sql(s"SELECT COUNT(l_orderkey) AS n FROM $grpCat.s.t").collect()
        }
        // the SKIP SKETCHES twin FIRST (the full stamp below restores
        // the digests the later percentile rows serve from): the delta
        // between the two is the GK quantile layer's share of the scan
        val b0 = timed {
          spark.sql(s"""ANALYZE TABLE $grpCat.s.t COMPUTE STATISTICS
              FOR COLUMNS l_orderkey, l_quantity SKIP SKETCHES""").collect()
        }
        val b = timed {
          spark.sql(s"""ANALYZE TABLE $grpCat.s.t COMPUTE STATISTICS
              FOR COLUMNS l_orderkey, l_quantity""").collect()
        }
        line("analyze_stamp_scan_noqs", b0)
        val c = timed {
          spark.sql(s"""SELECT SUM(l_orderkey) AS s,
              APPROX_COUNT_DISTINCT(l_orderkey) AS d FROM $grpCat.s.t""").collect()
        }
        // round-13: stamped exact extremes for a footer-refused type
        // (doubles) — scan-free while fresh
        val mm = timed {
          spark.sql(s"""SELECT MIN(l_quantity) AS mn, MAX(l_quantity) AS mx
              FROM $grpCat.s.t""").collect()
        }
        val loc = spark.sql(s"DESCRIBE DETAIL $grpCat.s.t")
          .select("location").head().getString(0)
        val t = graft.tables.TxTable.forForeignDelta(spark, loc)
        val batch = graft.queries.Tables.lineitem(spark, sfDir)
          .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
          .limit(10000)
        val d = timed(t.append(batch)) // includes the fold's batch aggregate
        val e = timed {
          spark.sql(s"""SELECT SUM(l_orderkey) AS s,
              APPROX_COUNT_DISTINCT(l_orderkey) AS d FROM $grpCat.s.t""").collect()
        }
        line("metadata_count_col", a); line("analyze_stamp_scan", b)
        line("metadata_sum_ndv", c); line("metadata_minmax_double", mm)
        line("stats_fold_append", d)
        line("metadata_sum_post_fold", e)
        (a, b0, b, c, mm, d, e)
      }
      // round-14 late rows: the full-aggregate-surface serves — AVG +
      // central moments from the stamped (n, Σx, Σx²) and
      // APPROX_PERCENTILE from the stamped quantile sketch, each
      // against the same answer forced through a scan. Measured AFTER
      // the append fold above, so they also prove the fold carried the
      // moment and quantile layers forward without a re-scan.
      val (avgVarMeta, avgVarScan, pctMeta, pctScan) = {
        val a = timed {
          spark.sql(s"""SELECT AVG(l_orderkey) AS a, STDDEV_POP(l_orderkey) AS s,
              VAR_SAMP(l_orderkey) AS v FROM $grpCat.s.t""").collect()
        }
        val loc = spark.sql(s"DESCRIBE DETAIL $grpCat.s.t")
          .select("location").head().getString(0)
        val t = graft.tables.TxTable.forForeignDelta(spark, loc)
        val b = timed {
          t.toDF.agg(
            org.apache.spark.sql.functions.avg(col("l_orderkey")).as("a"),
            org.apache.spark.sql.functions.stddev_pop(col("l_orderkey")).as("s"),
            org.apache.spark.sql.functions.var_samp(col("l_orderkey")).as("v"))
            .collect()
        }
        val c = timed {
          spark.sql(s"""SELECT APPROX_PERCENTILE(l_orderkey, array(0.5, 0.95, 0.99),
              100) AS p FROM $grpCat.s.t""").collect()
        }
        val d = timed {
          t.toDF.selectExpr(
            "approx_percentile(l_orderkey, array(0.5, 0.95, 0.99), 100) AS p")
            .collect()
        }
        line("metadata_avg_var", a); line("avg_var_scan", b)
        line("approx_percentile_metadata", c); line("approx_percentile_scan", d)
        (a, b, c, d)
      }
      // round-15: a partial ANALYZE of a NEW column over the FRESH
      // stamp — ONE column-pruned scan (vs analyze_stamp_scan's
      // two-column pass), with the other columns' keys and layer cells
      // MERGING through instead of clearing; the post-merge serve mixes
      // old- and new-column aggregates in one scan-free answer. The
      // add-a-column-to-a-dashboard shape no longer costs a full
      // re-ANALYZE of everything already stamped.
      val (partialAnalyzeMerge, postMergeServe) = {
        val a = timed {
          spark.sql(s"""ANALYZE TABLE $grpCat.s.t COMPUTE STATISTICS
              FOR COLUMNS l_returnflag""").collect()
        }
        val b = timed {
          spark.sql(s"""SELECT SUM(l_orderkey) AS s,
              APPROX_COUNT_DISTINCT(l_orderkey) AS d,
              APPROX_COUNT_DISTINCT(l_returnflag) AS dr
            FROM $grpCat.s.t""").collect()
        }
        line("analyze_partial_merge", a); line("metadata_serve_post_merge", b)
        (a, b)
      }
      // round-14 rows: the COPY INTO transform premium (same drop zone
      // as copy_into_initial but with a projection at load), the
      // delete FOLD (O(touched) maintenance instead of a dead stamp),
      // the post-delete scan-free SUM proving the fold paid off, and
      // the per-partition-sketch APPROX_COUNT_DISTINCT under a
      // partition WHERE vs the same answer forced through a scan
      val copyTransform = {
        val root = java.nio.file.Files.createTempDirectory("bench-cptr").toString
        val li = graft.queries.Tables.lineitem(spark, sfDir)
          .select(col("l_orderkey"), col("l_quantity"))
        li.repartition(8).write.mode("append").parquet(s"$root/drop")
        val t = new graft.tables.TxTable(spark, s"$root/t")
        import org.apache.spark.sql.types.LongType
        t.create(li.limit(0).withColumn("bucket", lit(0L).cast(LongType)))
        val v = timed(graft.tables.CopyInto.run(t, s"$root/drop",
          transform = Some("l_orderkey, l_quantity, l_orderkey % 7 as bucket")))
        line("copy_into_transform", v)
        v
      }
      val (statsFoldDelete, sumPostDelete, pndvMeta, pndvScan,
          ppctMeta, ppctScan, statsFoldUpdate, sumPostUpdate) = {
        val loc2 = spark.sql(s"DESCRIBE DETAIL $grpCat.s.t")
          .select("location").head().getString(0)
        val t = graft.tables.TxTable.forForeignDelta(spark, loc2)
        // per-partition APPROX under a partition WHERE: stamped sketch
        // merge (scan-free) vs the same estimate forced through a scan
        val pm = timed {
          spark.sql(s"""SELECT APPROX_COUNT_DISTINCT(l_orderkey) AS d
            FROM $grpCat.s.t WHERE l_returnflag = 'A'""").collect()
        }
        val ps = timed {
          t.toDF.filter(col("l_returnflag") === "A")
            .agg(org.apache.spark.sql.functions
              .approx_count_distinct(col("l_orderkey")).as("d")).collect()
        }
        // round-14 late: filtered APPROX_PERCENTILE from the
        // per-partition digests vs the same answer forced through a scan
        val qpm = timed {
          spark.sql(s"""SELECT APPROX_PERCENTILE(l_orderkey, 0.5, 50) AS p
            FROM $grpCat.s.t WHERE l_returnflag = 'A'""").collect()
        }
        val qps = timed {
          t.toDF.filter(col("l_returnflag") === "A")
            .selectExpr("approx_percentile(l_orderkey, 0.5, 50) AS p").collect()
        }
        line("partition_pct_metadata", qpm); line("partition_pct_scan", qps)
        // the delete FOLD rides the delete itself (O(touched rows)
        // aggregate over the removed files), then SUM answers scan-free
        val d = timed(t.delete("l_quantity = 17"))
        val e = timed {
          spark.sql(s"SELECT SUM(l_orderkey) AS s FROM $grpCat.s.t").collect()
        }
        line("partition_ndv_metadata", pm); line("partition_ndv_scan", ps)
        line("stats_fold_delete", d); line("metadata_sum_post_delete", e)
        // the UPDATE fold: assigning one column must cost O(touched
        // files rewrite) and leave every other column's stats serving
        val u = timed(t.update("l_quantity = 23",
          Map("l_quantity" -> "l_quantity + 0")))
        val e2 = timed {
          spark.sql(s"SELECT SUM(l_orderkey) AS s FROM $grpCat.s.t").collect()
        }
        line("stats_fold_update", u); line("metadata_sum_post_update", e2)
        (d, e, pm, ps, qpm, qps, u, e2)
      }
      // round-14 late rows: the grouped distinct-users rollup (sketch
      // layer vs scan), the retention partition-drop that now KEEPS the
      // layer (drop fold cost + the post-drop unfiltered APPROX served
      // from the surviving sketches), and the insert-only MERGE fold
      val (grpApproxMeta, grpApproxScan, retentionDrop, retApprox, mergeFold,
          icebergRetDrop) = {
        val cat = s"benchret$pass"
        val client = new graft.client.LakehouseClient(spark)
        client.createCatalog(cat); client.createSchema(cat, "s")
        val root = java.nio.file.Files.createTempDirectory("bench-ret").toString
        val li = graft.queries.Tables.lineitem(spark, sfDir).select(
          col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_quantity").cast("long").as("l_quantity"),
          col("l_returnflag"))
        client.createAsTable(li.repartition(8), cat, "s", "t",
          graft.catalog.FileType.DELTA, s"$root/t",
          partitionColumns = Seq("l_returnflag"))
        spark.sql(s"ANALYZE TABLE $cat.s.t COMPUTE STATISTICS FOR ALL COLUMNS")
        val t = client.getTxTable(cat, "s", "t")
        val gm = timed { spark.sql(s"""SELECT l_returnflag, COUNT(*) AS n,
            APPROX_COUNT_DISTINCT(l_orderkey) AS d FROM $cat.s.t
            GROUP BY l_returnflag""").collect() }
        val gs = timed { t.toDF.groupBy(col("l_returnflag"))
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
            org.apache.spark.sql.functions
              .approx_count_distinct(col("l_orderkey")).as("d")).collect() }
        val rd = timed(spark.sql(s"DELETE FROM $cat.s.t WHERE l_returnflag = 'A'"))
        val ra = timed { spark.sql(
          s"SELECT APPROX_COUNT_DISTINCT(l_orderkey) AS d FROM $cat.s.t").collect() }
        // disjoint keys: everything lands NOT MATCHED — the commit is an
        // append and the (surviving) stamp folds it in
        val src = li.filter(col("l_returnflag") =!= "A")
          .select((col("l_orderkey") + lit(100000000L)).as("l_orderkey"),
            col("l_quantity"), col("l_returnflag")).limit(10000)
        val mf = timed {
          t.merge(src, "s.l_orderkey = t.l_orderkey")
            .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
        }
        // the same retention drop on ICEBERG: a pinned metadata commit
        // removing the files, no position-delete write, stamp folds
        client.createAsTable(li.repartition(8), cat, "s", "ti",
          graft.catalog.FileType.ICEBERG, s"$root/ti",
          partitionColumns = Seq("l_returnflag"))
        spark.sql(s"ANALYZE TABLE $cat.s.ti COMPUTE STATISTICS FOR ALL COLUMNS")
        val rdi = timed(spark.sql(s"DELETE FROM $cat.s.ti WHERE l_returnflag = 'A'"))
        line("grouped_approx_metadata", gm); line("grouped_approx_scan", gs)
        line("retention_drop_fold", rd); line("retention_approx_post_drop", ra)
        line("insert_only_merge_fold", mf)
        line("iceberg_retention_drop", rdi)
        (gm, gs, rd, ra, mf, rdi)
      }
      // round-15: the SIDECAR per-partition layer (120 tuples — past
      // the 64-tuple inline cap): the stamp (incl. the sidecar write),
      // the filtered serve reading the sidecar once per pass, and the
      // 20-whole-partition retention drop rewriting it
      val (sideAnalyze, sideServe, sideDrop) = {
        val cat = s"benchside$pass"
        val client = new graft.client.LakehouseClient(spark)
        client.createCatalog(cat); client.createSchema(cat, "s")
        val root = java.nio.file.Files.createTempDirectory("bench-side").toString
        val li = graft.queries.Tables.lineitem(spark, sfDir).select(
          col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_quantity").cast("long").as("l_quantity"),
          (col("l_orderkey").cast("long") % lit(120L)).as("bucket"))
        client.createAsTable(li.repartition(2), cat, "s", "t",
          graft.catalog.FileType.DELTA, s"$root/t",
          partitionColumns = Seq("bucket"))
        val a = timed {
          spark.sql(s"""ANALYZE TABLE $cat.s.t COMPUTE STATISTICS
            FOR COLUMNS l_orderkey, l_quantity""").collect()
        }
        val sv = timed {
          spark.sql(s"""SELECT SUM(l_quantity) AS s,
              APPROX_COUNT_DISTINCT(l_orderkey) AS d
            FROM $cat.s.t WHERE bucket < 40""").collect()
        }
        val d = timed(spark.sql(s"DELETE FROM $cat.s.t WHERE bucket >= 100").collect())
        line("sidecar_analyze_stamp", a); line("sidecar_filtered_serve", sv)
        line("sidecar_retention_drop", d)
        (a, sv, d)
      }
      // round-15: the BINNED range join (q185's shape) vs the naive
      // range predicate, in BOTH regimes. With the user_id equi key
      // present, Spark already hash-joins and the residual filter is
      // cheap at this fixture's per-user density — the keyed pair
      // (binned vs naive) pins result-transparent overhead and linear
      // scaling, not a win. The win is the NO-equi-key regime: a pure
      // range predicate plans as a BroadcastNestedLoopJoin — every
      // (point, interval) pair evaluated — while binning makes it an
      // equi-join on the day-bin. That pair runs on a FIXED 30k×30k
      // slice (constant work at any SF: the nested loop is quadratic,
      // up to 900M evaluations, and would be unrunnable at ×10 — which is
      // the point).
      val (rjBinned, rjNaive, rjGlobBinned, rjGlobNested) = {
        import org.apache.spark.sql.functions.expr
        val e = graft.queries.Tables.events(spark, sfDir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("ts div 1000").as("ts_us"))
        val clicks = e.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
            col("ts_us").as("w_start"), (col("ts_us") + lit(86400000000L)).as("w_end"))
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id"), col("ts_us").as("p_ts"))
        val a = timed {
          graft.ext.RangeJoin.pointInInterval(purchases, clicks,
              pointCol = "p_ts", startCol = "w_start", endCol = "w_end",
              binWidth = 86400000000L, equiKeys = Seq(("user_id", "c_user")))
            .write.format("noop").mode("overwrite").save()
        }
        val b = timed {
          purchases.join(clicks, col("user_id") === col("c_user")
              && col("p_ts") >= col("w_start") && col("p_ts") < col("w_end"))
            .write.format("noop").mode("overwrite").save()
        }
        // deterministic slice: an unordered limit() picks whatever rows
        // arrive first (partition- and scheduling-dependent), so the two
        // arms could time DIFFERENT 30k-row sets between passes/scales;
        // ordering by id pins the exact same rows every run (the sort is
        // outside the timed region — materialized into the cache below)
        val gClicks = clicks.orderBy(col("click_id")).limit(30000).cache()
        val gPurch = purchases.orderBy(col("p_id")).limit(30000).cache()
        gClicks.count(); gPurch.count() // materialize outside the timings
        val g1 = timed {
          graft.ext.RangeJoin.pointInInterval(gPurch, gClicks,
              pointCol = "p_ts", startCol = "w_start", endCol = "w_end",
              binWidth = 86400000000L)
            .write.format("noop").mode("overwrite").save()
        }
        val g2 = timed {
          gPurch.join(gClicks,
              col("p_ts") >= col("w_start") && col("p_ts") < col("w_end"))
            .write.format("noop").mode("overwrite").save()
        }
        gClicks.unpersist(); gPurch.unpersist()
        line("range_join_binned", a); line("range_join_naive", b)
        line("range_join_global_binned", g1); line("range_join_global_nestedloop", g2)
        (a, b, g1, g2)
      }
      // round-17 operators (round-lag rule: BENCH carries each round's
      // changed operators so the NEXT round is comparable): the fused
      // native span-cut pass (q92's shape — spans + rebuild, was an
      // interpreted per-token HOF chain), and the EXACT prefix-filtered
      // Jaccard pair join (q99/q100's edge generation — the naive
      // all-pairs twin is deliberately NOT benched at sf0.1: it is
      // quadratic in documents, ~100× this row, which is the point)
      val spanRemoval = timed {
        SparkEntry.queries("q92_span_removal")(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      line("span_removal", spanRemoval)
      val prefixPairs = timed {
        graft.ext.NearDup.prefixFilteredJaccardPairs(
          graft.queries.Tables.documents(spark, sfDir), shingleK = 3, threshold = 0.4)
          .write.format("noop").mode("overwrite").save()
      }
      line("jaccard_pairs_prefix", prefixPairs)
      Seq("mv_initial_fold" -> mvInit, "mv_incremental_refresh" -> mvIncr,
        "span_removal" -> spanRemoval,
        "jaccard_pairs_prefix" -> prefixPairs,
        "dedup_index_refresh" -> idxRefresh, "dedup_index_filter_new" -> idxFilter,
        "corpus_shards" -> shards, "iceberg_changelog_delete" -> chlog,
        "classifier_trained" -> classifierTrained,
        "boilerplate_lines" -> boiler,
        "curation_pipeline" -> curation,
        "iceberg_changelog_overwrite" -> chlogOverwrite,
        "bigram_lm_score" -> lmScore,
        "doc_chunking" -> chunking,
        "grouped_rollup_metadata" -> grpMeta,
        "grouped_rollup_scan" -> grpScan,
        "bloom_index_build" -> bloomBuild,
        "bloom_lookup_stats_only" -> bloomLookupStats,
        "bloom_lookup_pruned" -> bloomLookupPruned,
        "kmv_overlap_matrix" -> kmvOverlap,
        "frequent_items" -> freqItems,
        "url_domain_filter" -> urlDomain,
        "quality_bucket_mix" -> qualityMix,
        "mv_approx_distinct_refresh" -> mvApprox,
        "partition_filter_metadata" -> pfMeta,
        "partition_filter_scan" -> pfScan,
        "copy_into_initial" -> copyInitial,
        "copy_into_noop" -> copyNoop,
        "canonical_url_dedup" -> urlDedup,
        "metadata_count_col" -> countCol,
        "analyze_stamp_scan_noqs" -> analyzeStampNoQs,
        "analyze_stamp_scan" -> analyzeStamp,
        "metadata_sum_ndv" -> sumNdvMeta,
        "metadata_minmax_double" -> minMaxMeta,
        "stats_fold_append" -> statsFoldAppend,
        "metadata_sum_post_fold" -> sumPostFold,
        "metadata_avg_var" -> avgVarMeta,
        "avg_var_scan" -> avgVarScan,
        "analyze_partial_merge" -> partialAnalyzeMerge,
        "metadata_serve_post_merge" -> postMergeServe,
        "approx_percentile_metadata" -> pctMeta,
        "approx_percentile_scan" -> pctScan,
        "copy_into_transform" -> copyTransform,
        "stats_fold_delete" -> statsFoldDelete,
        "metadata_sum_post_delete" -> sumPostDelete,
        "partition_ndv_metadata" -> pndvMeta,
        "partition_ndv_scan" -> pndvScan,
        "partition_pct_metadata" -> ppctMeta,
        "partition_pct_scan" -> ppctScan,
        "stats_fold_update" -> statsFoldUpdate,
        "metadata_sum_post_update" -> sumPostUpdate,
        "grouped_approx_metadata" -> grpApproxMeta,
        "grouped_approx_scan" -> grpApproxScan,
        "retention_drop_fold" -> retentionDrop,
        "retention_approx_post_drop" -> retApprox,
        "insert_only_merge_fold" -> mergeFold,
        "iceberg_retention_drop" -> icebergRetDrop,
        "sidecar_analyze_stamp" -> sideAnalyze,
        "sidecar_filtered_serve" -> sideServe,
        "sidecar_retention_drop" -> sideDrop,
        "range_join_binned" -> rjBinned,
        "range_join_naive" -> rjNaive,
        "range_join_global_binned" -> rjGlobBinned,
        "range_join_global_nestedloop" -> rjGlobNested)
    }

    // min-of-two FULL ops passes (the SCALE protocol at one scale):
    // per-label minimum, so a one-shot scheduler hiccup can no longer
    // masquerade as an operator regression in the round-over-round diff
    val opsDemo: Seq[(String, Double)] = {
      val p1 = opsDemoRun(1)
      val p2 = opsDemoRun(2).toMap
      p1.map { case (k, v) => k -> math.min(v, p2.getOrElse(k, v)) }
    }

    // 3-decimal floats keep the record line small: the r13/r14 artifacts
    // grew past the driver's tail-capture window on 17-digit doubles and
    // came back front-truncated (unparseable)
    def fmt(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def obj(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val qs = obj(results)
    val qsOn = obj(resultsCboOn)
    val ops = obj(opsDemo)
    def tot(rs: Seq[(String, Double)]): Double = rs.map(_._2).filter(_ >= 0).sum
    val total = tot(results)
    val totalOn = tot(resultsCboOn)
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,""" +
      s""""cbo_ab":{"off_total":${fmt(total)},"on_total":${fmt(totalOn)},"on_queries":$qsOn},""" +
      s""""skew_demo":{"naive_aqe_sec":${fmt(skewAqe)},"naive_noaqe_sec":${fmt(skewNoAqe)},"salted_sec":${fmt(skewSalted)}},""" +
      s""""dv_demo":{"cow_delete_sec":${fmt(cowSec)},"dv_delete_sec":${fmt(dvSec)}},""" +
      s""""iceberg_demo":{"write_sec":${fmt(iceWrite)},"full_scan_sec":${fmt(iceFull)},"pruned_scan_sec":${fmt(icePruned)}},""" +
      s""""ops_demo":$ops,""" +
      s""""sf":"$sfDir","total_sec":${fmt(total)}}""")
    // the compact headline line goes out LAST: the driver captures the
    // TAIL of stdout, so whatever is final must be the line that always
    // fits — r14/r15 printed it before the giant record line and the
    // tail window kept only the big line's unparseable suffix
    println(s"""{"metric":"headline","value":${fmt(total)},"unit":"sec","queries":$qs,""" +
      s""""cbo_on_total":${fmt(totalOn)},"sf":"$sfDir"}""")
    spark.stop()
  }
}
