package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Probes.noop
import graft.catalog.FileType
import graft.client.LakehouseClient
import graft.queries.Tables
import graft.tables.{ColumnStats, IcebergLog, TxTable}

/** Scale-posture probe beyond the driver's sf0.1: times the operators
  * whose cost model is most at risk of going superlinear — the
  * distributed prefix sum (q103), the one-gram-shuffle span dedup (q91),
  * the banded MinHash join (q47), and segment-level dedup over the
  * ScaleGen boilerplate fixture, where ONE segment has |documents|
  * copies and keep-first must collapse map-side (partial aggregation)
  * rather than buffer every copy in a single reducer.
  *
  *   runMain graft.ScaleCheck [sfDir]
  *
  * Prints one BENCH-style JSON line. Run it against /root/testdata/sf0.1
  * and a ScaleGen ×10 output; compare per-query ratios against the 10×
  * data growth (linear-at-fixed-parallelism = ~10× wall-clock ceiling;
  * see README "Scale posture"). Most probes are best-of-2; probes that
  * consume their fixture run once.
  *
  * The cycles below marked "shared" also run in Bench's ops block, at
  * Bench's own fixture sizes.
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft-sf1"))
    val spark = Probes.session(defaultCpus = 32)
    val r = new Probes("scalecheck")
    def best(label: String)(df: => DataFrame): Unit = r.time(label, passes = 2)(noop(df))
    def lineitem(cols: Column*): DataFrame = Tables.lineitem(spark, sfDir).select(cols: _*)
    def documents: DataFrame = Tables.documents(spark, sfDir)

    Seq(
      "q01_pricing_summary",   // scan + partial agg (the linear baseline)
      "q03_top_orders",        // shuffle join
      "q47_minhash_dup_pairs", // banded LSH equi-join
      "q91_duplicated_spans",  // one gram shuffle, O(tokens)
      "q103_token_budget_mix") // distributed prefix sum (O(#partitions) driver)
      .foreach(n => best(n)(SparkEntry.queries(n)(spark, sfDir)))

    // segment dedup on the skewed corpus (falls back to plain documents
    // when the fixture predates documents_boiler)
    best("segment_dedup_boiler") {
      val boilerPath = s"$sfDir/documents_boiler.parquet"
      graft.ext.NearDup.dedupSegments(
        if (new java.io.File(boilerPath).exists()) spark.read.parquet(boilerPath) else documents)
    }

    // at sf1 the 10k-row append is ~0.2% of the source: the gap between
    // the fold and the refresh IS the incremental-maintenance story
    mvCycle(r, spark, sfDir, "scalecheck")

    // the distributed-prefix-sum shard assignment (two shuffles regardless
    // of size), the map-only classifier pass (pure scan scaling), and the
    // fractional-epoch explode
    best("corpus_shards")(corpusShards(spark, sfDir))
    best("quality_classifier")(documents.select(col("doc_id"),
      graft.functions.TextNativeFunctions.classifierScore(col("text"))
        .as(Seq("n_tokens", "raw_score", "score", "keep"))))
    best("epoch_upsampling")(graft.ext.Sampling.epochRepeat(
      documents.select(col("doc_id"), col("source")),
      "source", "doc_id", Map("src1" -> 2.5, "src2" -> 0.25)))

    // REORG PURGE at scale: cost must track files-WITH-deletes, not the
    // table. Delete ~1% of rows MoR (bitmaps land on every file), then
    // purge — the interesting number vs sf0.1 is the rewrite time's
    // growth, which follows data volume (every file got a bitmap here,
    // the worst case; a selective delete would rewrite fewer files).
    r.group("reorg") {
      val loc = tmp("scalecheck-reorg")
      graft.tables.DeltaLogWriter.create(spark, loc,
        lineitem(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
        properties = Map("delta.enableDeletionVectors" -> "true"))
      val t = TxTable.forForeignDelta(spark, loc)
      r.time("reorg_mor_delete")(t.delete("l_orderkey % 97 = 0"))
      r.time("reorg_purge")(t.reorgPurge())
    }

    // REORG PURGE with FIXED touched bytes: the proportional probe above
    // rewrites every DV-carrying file by construction, so its ×10 ratio
    // tracks table size. This one pins the claimed cost model — linear
    // in TOUCHED bytes, not table size: the table is range-clustered
    // into ~200k-row files, the delete hits the same ABSOLUTE key range
    // at any sf (so the DV lands on a bounded file set of fixed bytes),
    // and the purge time must stay ≈flat from sf0.1 to sf1.
    r.group("reorg_fixed") {
      val loc = tmp("scalecheck-reorgfix")
      val li = lineitem(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      graft.tables.DeltaLogWriter.create(spark, loc,
        li.repartitionByRange(math.max(1, (li.count() / 200000L).toInt), col("l_orderkey")),
        properties = Map("delta.enableDeletionVectors" -> "true"))
      val t = TxTable.forForeignDelta(spark, loc)
      r.time("reorg_fixed_delete")(t.delete("l_orderkey <= 2000"))
      val touched = t.snapshot.files.count(_.deletionVector.exists(_.cardinality > 0))
      r.note(s"reorg_fixed files touched: $touched")
      r.time("reorg_purge_fixed")(t.reorgPurge())
    }

    // the changelog's cost must track the delete's footprint, not the table
    icebergChangelogDelete(r, spark, sfDir, "scalecheck")

    // the trained-weight classifier (broadcast gather must stay
    // scan-bound like the pseudo-model) and the cross-corpus
    // boilerplate-line removal (one line shuffle + a count-distinct
    // threshold + anti-join back: must track corpus line volume)
    best("quality_classifier_trained")(trainedClassifier(spark, sfDir))
    best("boilerplate_lines")(boilerplateLines(spark, sfDir))

    // the equality-delete pipeline — the changelog's dying-rows
    // derivation and the TxTable read that folds live equality deletes
    // into bitmaps. Both must track the OLD files in sequence scope plus
    // the delete keys, not blow up with table size.
    r.group("eq_delete") {
      val loc = tmp("scalecheck-eqdel") + "/t"
      val li = lineitem(col("l_orderkey"), col("l_quantity"))
      val t = TxTable.forIceberg(spark, loc)
      t.create(li)
      graft.tables.IcebergWriter.equalityDelete(spark, loc, Seq("l_orderkey"),
        li.filter(col("l_orderkey") % 97 === 0).select("l_orderkey").distinct())
      val v = t.history.last
      r.time("iceberg_eq_changelog")(noop(IcebergLog.tableChanges(spark, loc, v, Some(v))))
      r.time("eq_delete_fold_read")(noop(t.toDF))
    }

    // bigram-LM scoring (the transition explode and its two model
    // equi-joins; must track corpus tokens), sliding-window chunking
    // (map-only explode — pure scan scaling), and mojibake scoring
    // (single regex scan per row)
    best("bigram_lm_score")(graft.ext.TextOps.bigramLmScore(documents))
    best("doc_chunking")(docChunks(spark, sfDir))
    best("encoding_artifacts")(graft.ext.TextOps.encodingArtifacts(documents))

    // the bloom-pruned lookup must stay ≈FLAT from sf0.1 to sf1 (it reads
    // the ~1 file that might hold the key) while the stats-only lookup
    // tracks table size — that flat line is the operator's 100 TB story
    bloomCycle(r, spark, sfDir, "scalecheck",
      li => math.max(16, (li.count() / 200000L).toInt))

    // the one-pass grouped-KMV overlap matrix (k longs per corpus — must
    // track ONE scan, no distinct-key shuffle), then the
    // partition-grouped metadata rollup and the partition-only-WHERE
    // answer (both O(file list) driver folds — must stay ≈FLAT from
    // sf0.1 to sf1 even as the scan twin grows)
    best("kmv_overlap_matrix")(SparkEntry.queries("q158_source_overlap_matrix")(spark, sfDir))
    r.group("grouped_rollup") {
      val loc = tmp("scalecheck-grp") + "/t"
      returnflagTable(spark, sfDir, "scalegrp", loc, files = 32)
      groupedRollup(r, spark, "scalegrp", loc)
      partitionFilterServe(r, spark, "scalegrp")
    }

    // the direct Iceberg read under a DENSE mass position delete with the
    // inline threshold forced low: the snapshot fold spills its bitmaps to
    // executor-written DV sidecars and the read broadcasts only their
    // descriptors (the fold memo keys by the inline/spill choice, so the
    // DELETE's own inline fold never answers this read) — cost must track
    // data volume, residency must not track files × bitmap bytes anywhere
    r.group("massdel") {
      val loc = tmp("scalecheck-massdel") + "/t"
      val t = TxTable.forIceberg(spark, loc)
      t.create(lineitem(col("l_orderkey"), col("l_quantity")))
      t.delete("l_orderkey % 5 != 0") // dense: ~80% of every file
      spark.conf.set(graft.tables.IcebergCommitLog.InlineFoldMaxDeleteBytesConf, "1")
      try r.time("massdel_direct_read")(noop(IcebergLog.toDF(spark, loc)))
      finally spark.conf.unset(graft.tables.IcebergCommitLog.InlineFoldMaxDeleteBytesConf)
    }

    // COPY INTO: the initial load tracks new bytes, the re-run no-op must
    // track ingest-log metadata only (≈flat)
    copyIntoCycle(r, spark, sfDir, "scalecheck", files = 16)
    // canonical-URL dedup (map-only key derivation + one group-by
    // shuffle — must track url volume)
    best("canonical_url_dedup") {
      val urled = documents.select(col("doc_id"), col("source"))
        .withColumn("url", when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit("HTTPS://WWW."), upper(col("source")), lit(".COM:443/a/"),
              expr("doc_id div 3"), lit("/?utm_source=x&b=2&a=1#f")))
          .otherwise(concat(lit("https://"), col("source"), lit(".com/a/"),
            expr("doc_id div 3"), lit("?a=1&b=2"))))
      graft.ext.UrlOps.dedupByCanonicalUrl(urled, "url")
    }

    // incrementally-maintained ANALYZE stats — the stamp scan tracks the
    // table (linear), but the FOLD on a FIXED 10k-row append must track
    // the batch (≈flat across ×10 table growth), and the post-fold
    // metadata answers must stay flat: that flat-vs-linear gap is the
    // whole point of maintaining stats instead of re-scanning. The
    // moments and percentile serves merge the batch's sketch and moments
    // from property bytes: O(property bytes) driver work.
    r.group("stats") {
      val li = lineitem(col("l_orderkey"), col("l_suppkey"))
      val loc = tmp("scalecheck-stats")
      val t = new TxTable(spark, s"$loc/t")
      t.create(li)
      catalog(spark, "scalestats").registerAsTable("scalestats", "s", "t", FileType.DELTA, s"$loc/t")
      r.time("analyze_stamp_scan")(ColumnStats.analyze(t, Seq("l_orderkey", "l_suppkey")))
      // deliberate driver-side collect of a FIXED 10k-row probe batch
      // (fixture-sized, never data-scaled): materializing it first
      // isolates the timed append+fold from the batch's own read cost —
      // this is measurement plumbing, not an operator pattern
      val batch = li.limit(10000).collect()
      val batchDf = spark.createDataFrame(
        spark.sparkContext.parallelize(batch.toIndexedSeq, 4), li.schema)
      r.time("stats_fold_append_fixed")(t.append(batchDf))
      r.time("metadata_sum_post_fold")(require(spark.sql("""SELECT SUM(l_orderkey) AS s,
          APPROX_COUNT_DISTINCT(l_suppkey) AS d FROM scalestats.s.t""").collect().nonEmpty))
      r.time("metadata_minmax_post_fold",
          check = require(ColumnStats.currentSum(t.snapshot, "l_orderkey").isDefined,
            "fold must keep the stamp fresh after the append")) {
        spark.sql("SELECT MIN(l_orderkey) AS mn, MAX(l_suppkey) AS mx FROM scalestats.s.t")
          .collect()
      }
      r.time("metadata_moments_post_fold") {
        val got = spark.sql("""SELECT AVG(l_orderkey) AS a,
            STDDEV_POP(l_suppkey) AS s, VAR_SAMP(l_orderkey) AS v
          FROM scalestats.s.t""").collect()
        require(got.nonEmpty && !got(0).isNullAt(1))
      }
      r.time("approx_percentile_post_fold") {
        val got = spark.sql("""SELECT APPROX_PERCENTILE(l_orderkey,
            array(0.5, 0.99), 100) AS p FROM scalestats.s.t""").collect()
        require(got.nonEmpty && !got(0).isNullAt(0))
      }
    }

    // the DELETE and UPDATE folds — maintenance must track TOUCHED bytes,
    // not the table. Range-clustered ~200k-row files + an absolute-key
    // predicate = a bounded touched set at any sf, so the mutation
    // (rewrite + fold) and the scan-free SUM after it must both stay
    // ≈flat from sf0.1 to sf1, while a stamp-killing design would pay a
    // full re-ANALYZE scan (`analyze_stamp_scan` above) to get SUM back.
    // The update assigns one column; the SUM served after it is of the
    // other, unassigned column.
    r.group("delete_update_fold") {
      val li = lineitem(col("l_orderkey"), col("l_suppkey"))
      val loc = tmp("scalecheck-delfold")
      val t = new TxTable(spark, s"$loc/t")
      t.create(li.repartitionByRange(math.max(1, (li.count() / 200000L).toInt), col("l_orderkey")))
      ColumnStats.analyze(t, Seq("l_orderkey", "l_suppkey"))
      catalog(spark, "scaledf").registerAsTable("scaledf", "s", "t", FileType.DELTA, s"$loc/t")
      def servable(c: String): Unit = require(ColumnStats.currentSum(t.snapshot, c).isDefined,
        s"the fold must keep SUM($c) servable")
      r.time("stats_fold_delete_fixed")(t.delete("l_orderkey <= 2000"))
      r.time("metadata_sum_post_delete", check = servable("l_suppkey")) {
        require(spark.sql("SELECT SUM(l_suppkey) AS s FROM scaledf.s.t").collect().nonEmpty)
      }
      r.time("stats_fold_update_fixed")(
        t.update("l_orderkey <= 4000", Map("l_suppkey" -> "l_suppkey + 0")))
      r.time("metadata_sum_post_update", check = servable("l_orderkey")) {
        require(spark.sql("SELECT SUM(l_orderkey) AS s FROM scaledf.s.t").collect().nonEmpty)
      }
    }

    // per-partition KMV sketches and scalar layers — the filtered
    // APPROX_COUNT_DISTINCT and the grouped SUM are O(#partitions × k)
    // driver merges over property bytes, so they must stay ≈flat at ×10
    // data (3 partition values at every sf). The retention delete is the
    // whole-partition fast path (no read) + metadata-only stats
    // recombination, and everything keeps serving scan-free after it.
    // Self-contained catalog: client registration is last-wins per
    // session, so reusing an earlier block's catalog would resolve
    // against the wrong store.
    r.group("partition_ndv") {
      val loc = tmp("scalecheck-pndv")
      graft.tables.DeltaLogWriter.create(spark, s"$loc/t",
        lineitem(col("l_orderkey"), col("l_quantity").cast("long").as("l_quantity"),
          col("l_returnflag")).repartition(32),
        partitionColumns = Seq("l_returnflag"))
      catalog(spark, "scalendv").registerAsTable("scalendv", "s", "t", FileType.DELTA, s"$loc/t")
      spark.sql("""ANALYZE TABLE scalendv.s.t COMPUTE STATISTICS
          FOR COLUMNS l_orderkey, l_quantity""").collect()
      r.time("partition_ndv_metadata")(require(spark.sql("""SELECT
          APPROX_COUNT_DISTINCT(l_orderkey) AS d FROM scalendv.s.t
          WHERE l_returnflag = 'A'""").collect().nonEmpty))
      r.time("grouped_sum_metadata")(require(spark.sql("""SELECT l_returnflag,
          SUM(l_quantity) AS s FROM scalendv.s.t GROUP BY l_returnflag""").collect().length == 3))
      r.time("retention_drop_metadata")(
        spark.sql("DELETE FROM scalendv.s.t WHERE l_returnflag = 'A'").collect())
      r.time("retention_post_drop_serve",
          check = require(ColumnStats.currentSum(
            TxTable.forForeignDelta(spark, s"$loc/t").snapshot, "l_quantity").isDefined,
            "the retention drop must keep the stamp fresh via recombination")) {
        require(spark.sql("""SELECT APPROX_COUNT_DISTINCT(l_orderkey) AS d,
            SUM(l_quantity) AS s, MAX(l_quantity) AS mx FROM scalendv.s.t""").collect().nonEmpty)
      }
    }

    // the day-partitioned-year shape (365 tuples) the 64-tuple inline cap
    // used to lock out, on a real Delta log and on Iceberg
    sidecarCycle(r, spark, sfDir, "scaleside", TxTable.forForeignDelta, FileType.DELTA,
      tuples = 365, files = 8, serveBelow = 100, dropFrom = 300, twins = true)
    sidecarCycle(r, spark, sfDir, "scaleiceside", TxTable.forIceberg, FileType.ICEBERG,
      tuples = 365, files = 8, serveBelow = 100, dropFrom = 300, twins = false)

    // FIXED-dup-density MinHash twin: ScaleGen replicates document TEXT
    // verbatim under shifted ids, so every text becomes a 10-member
    // identical cluster and q47's banded candidate pairs grow
    // quadratically per cluster. This twin holds dup pairs CONSTANT
    // while the corpus grows: every token is salted with its doc_id
    // (distinct docs share zero shingles at any scale), then exactly the
    // docs with doc_id < 1000 (present at both scales — replica-0 ids)
    // are planted as exact copies. If the twin scales ≈linearly, q47's
    // ratio is the fixture's dup growth; if not, the operator owes a fix.
    best("minhash_fixed_dup_twin") {
      val salted = documents.select(col("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          t => concat(t, lit("_"), col("doc_id")))).as("text"))
      val planted = salted.filter(col("doc_id") < 1000L)
        .withColumn("doc_id", col("doc_id") + lit(10000000L))
      graft.ext.NearDup.minhashDupPairs(salted.unionAll(planted), threshold = 0.9)
    }

    // ScaleGen grows the USER population, so both range-join arms must
    // scale ≈linearly at ×10 — the binned arm's win is the smaller
    // candidate set per user (co-keyed on (user, day-bin)), which is also
    // what keeps it linear when per-user activity grows instead
    r.group("range_join") {
      val (clicks, purchases) = clicksAndPurchases(spark, sfDir)
      keyedRangeJoins(r, clicks, purchases)
    }

    // the fused native span-cut pass (one Generator pass plus
    // span-count-bounded arithmetic) and the EXACT prefix-filtered
    // Jaccard pair join (candidates track the true duplicate count, not
    // the corpus square): both must scale ≈linearly at ×10. The naive
    // all-pairs twin is absent — quadratic, unrunnable at sf1.
    best("span_removal")(SparkEntry.queries("q92_span_removal")(spark, sfDir))
    best("jaccard_pairs_prefix")(prefixJaccardPairs(spark, sfDir))

    println(Probes.json("metric" -> "scalecheck", "unit" -> "sec", "queries" -> r,
      "sf" -> sfDir, "errors" -> r.errors))
    spark.stop()
  }

  private[graft] def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A client with catalog `name` and its schema `s`. */
  private[graft] def catalog(spark: SparkSession, name: String): LakehouseClient = {
    val client = new LakehouseClient(spark)
    client.createCatalog(name); client.createSchema(name, "s")
    client
  }

  // ---- probes Bench's ops block runs too (shared) ----

  private[graft] def corpusShards(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.Sampling.shuffleShards(Tables.documents(spark, sfDir).select(col("doc_id")),
      "doc_id", docsPerShard = 4096L)

  /** The classifier with deterministic pseudo-trained weights. */
  private[graft] def trainedClassifier(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Array.tabulate(graft.functions.ClassifierScoreGen.NumBuckets)(b =>
      (((b.toLong * 1664525L + 1013904223L) % 4096L) - 2048L).toFloat / 1024.0f)
    Tables.documents(spark, sfDir).select(col("doc_id"),
      graft.functions.TextNativeFunctions.classifierScore(col("text"), w)
        .as(Seq("n_tokens", "raw_score", "score", "keep")))
  }

  /** Boilerplate-line removal over documents with one line planted in a third of them. */
  private[graft] def boilerplateLines(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    graft.ext.TextOps.removeBoilerplateLines(d.withColumn("text", concat(col("text"),
      when(col("doc_id") % 3 === 0, lit("\nSubscribe to our newsletter")).otherwise(lit("")))),
      minDocs = 3L)
  }

  private[graft] def docChunks(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.TextOps.chunkDocuments(Tables.documents(spark, sfDir),
      chunkTokens = 64, overlapTokens = 16)

  private[graft] def prefixJaccardPairs(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.NearDup.prefixFilteredJaccardPairs(Tables.documents(spark, sfDir),
      shingleK = 3, threshold = 0.4)

  /** Materialized-view maintenance: the initial fold pays one full
    * aggregate; the refresh after a 10k-row append must cost O(changed rows).
    */
  private[graft] def mvCycle(r: Probes, spark: SparkSession, sfDir: String, dir: String): Unit =
    r.group("mv") {
      val loc = tmp(s"$dir-mv")
      val li = Tables.lineitem(spark, sfDir)
        .select(col("l_returnflag"), col("l_quantity").cast("double").as("l_quantity"))
      val src = new TxTable(spark, s"$loc/src")
      src.create(li)
      def refresh(): Unit = graft.tables.IncrementalView.refresh(
        src, s"$loc/mv", Seq("l_returnflag"), Seq("l_quantity"))
      r.time("mv_initial_fold")(refresh())
      src.append(li.limit(10000))
      r.time("mv_incremental_refresh")(refresh())
    }

  /** The Iceberg snapshot-diff changelog after a ~1% MoR delete: its
    * cost must track (new files + dying rows' files), not table size.
    */
  private[graft] def icebergChangelogDelete(r: Probes, spark: SparkSession, sfDir: String,
      dir: String): Unit = r.group("iceberg_changelog_delete") {
    val loc = tmp(s"$dir-chlog") + "/t"
    val t = TxTable.forIceberg(spark, loc)
    t.create(Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_quantity")))
    t.delete("l_orderkey % 97 = 0")
    r.time("iceberg_changelog_delete")(
      noop(IcebergLog.tableChanges(spark, loc, t.version, Some(t.version))))
  }

  /** Bloom file-skipping index on an unclustered high-cardinality key:
    * the SAME point lookup with stats-only pruning (min/max straddle
    * every file, so it reads all), the sidecar build (one column-pruned
    * scan + hash agg), then the lookup with bloom pruning (reads the one
    * file that holds the key).
    */
  private[graft] def bloomCycle(r: Probes, spark: SparkSession, sfDir: String, dir: String,
      files: DataFrame => Int): Unit = r.group("bloom") {
    val loc = tmp(s"$dir-bloom") + "/t"
    // every stored key is even except one planted odd key: inside every
    // file's min/max range, so only the Bloom index can prune, and held
    // by exactly one row, so a pruned lookup reads 1 file of n
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), (col("l_partkey") * 2).as("l_partkey"), col("l_extendedprice"))
    val n = files(li)
    val key = li.select(col("l_partkey")).head().getLong(0) + 1
    val t = new TxTable(spark, loc)
    t.create(li.union(li.limit(1).withColumn("l_partkey", lit(key))).repartition(n))
    r.time("bloom_lookup_stats_only")(noop(t.scan(s"l_partkey = $key")))
    r.time("bloom_index_build")(graft.tables.BloomIndex.enable(t, Seq("l_partkey")))
    r.time("bloom_lookup_pruned")(noop(t.scan(s"l_partkey = $key")))
    r.note(s"bloom files after pruning: ${t.filesAfterPruning(s"l_partkey = $key")}/$n")
  }

  /** COPY INTO from a `files`-file drop zone: the initial load (tracks
    * new bytes) and the re-run no-op (tracks ingest-log metadata only).
    */
  private[graft] def copyIntoCycle(r: Probes, spark: SparkSession, sfDir: String, dir: String,
      files: Int): Unit = r.group("copy_into") {
    val root = tmp(s"$dir-cpin")
    val li = Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_quantity"))
    li.repartition(files).write.mode("append").parquet(s"$root/drop")
    val t = new TxTable(spark, s"$root/t")
    t.create(li.limit(0))
    r.time("copy_into_initial")(graft.tables.CopyInto.run(t, s"$root/drop"))
    r.time("copy_into_noop")(graft.tables.CopyInto.run(t, s"$root/drop"))
  }

  /** lineitem as a real Delta table at `loc` partitioned by
    * l_returnflag, in `files` files, registered as `<cat>.s.t`.
    */
  private[graft] def returnflagTable(spark: SparkSession, sfDir: String, cat: String,
      loc: String, files: Int): Unit = {
    graft.tables.DeltaLogWriter.create(spark, loc,
      Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_quantity"),
        col("l_returnflag")).repartition(files),
      partitionColumns = Seq("l_returnflag"))
    catalog(spark, cat).registerAsTable(cat, "s", "t", FileType.DELTA, loc)
  }

  /** The partition-grouped metadata-only rollup vs the same rollup
    * forced through a scan.
    */
  private[graft] def groupedRollup(r: Probes, spark: SparkSession, cat: String,
      loc: String): Unit = {
    r.time("grouped_rollup_metadata")(spark.sql(s"""SELECT l_returnflag, COUNT(*) AS n,
        MIN(l_orderkey) AS lo, MAX(l_orderkey) AS hi
      FROM $cat.s.t GROUP BY l_returnflag""").collect())
    r.time("grouped_rollup_scan") {
      TxTable.forForeignDelta(spark, loc).toDF.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), min(col("l_orderkey")).as("lo"),
          max(col("l_orderkey")).as("hi"))
        .collect()
    }
  }

  /** The partition-only-WHERE aggregate answered from metadata. */
  private[graft] def partitionFilterServe(r: Probes, spark: SparkSession, cat: String): Unit =
    r.time("partition_filter_metadata")(spark.sql(s"""SELECT COUNT(*) AS n,
        MIN(l_orderkey) AS lo FROM $cat.s.t WHERE l_returnflag = 'A'""").collect())

  /** The sidecar per-partition stats layer on `tuples` partitions of
    * lineitem (past the 64-tuple inline cap), in a table of `files` files
    * opened by `open` and registered as `<cat>.s.t`: the ANALYZE stamp
    * (incl. the sidecar write); the serve filtered to the partitions
    * below `serveBelow`, one sidecar read + an O(surviving tuples × k)
    * driver merge that must stay ≈flat at ×10 data; and the retention
    * drop of every partition from `dropFrom` on, which must be
    * metadata-only (whole files dropped, no deletion vectors written)
    * with the stamp folding across it. `twins` adds the filtered answer
    * forced through a scan and a serve after the drop. Probes on Iceberg
    * are labelled `iceberg_sidecar_*`, others `sidecar_*`.
    */
  private[graft] def sidecarCycle(r: Probes, spark: SparkSession, sfDir: String, cat: String,
      open: (SparkSession, String) => TxTable, fileType: FileType, tuples: Int, files: Int,
      serveBelow: Int, dropFrom: Int, twins: Boolean): Unit = r.group(cat) {
    val p = if (fileType == FileType.ICEBERG) "iceberg_sidecar" else "sidecar"
    val loc = tmp(s"$cat-side") + "/t"
    val t = open(spark, loc)
    t.create(Tables.lineitem(spark, sfDir).select(
      col("l_orderkey").cast("long").as("l_orderkey"),
      col("l_quantity").cast("long").as("l_quantity"),
      (col("l_orderkey").cast("long") % lit(tuples.toLong)).as("day")).repartition(files),
      partitionColumns = Seq("day"))
    catalog(spark, cat).registerAsTable(cat, "s", "t", fileType, loc)
    // the probes pin "one sidecar read + driver merge, no data read":
    // assert the PLAN, not just freshness — a silent regression to
    // scanning would otherwise time the scan twin and still look
    // plausibly flat at ×10
    def scanFree(sql: String): Unit = {
      val plan = spark.sql(sql).queryExecution.executedPlan.toString
      require(plan.contains("LocalTableScan") && !plan.contains("FileScan"),
        s"the sidecar serve must be scan-free, got plan:\n$plan")
    }
    r.time(s"${p}_analyze_stamp")(spark.sql(s"""ANALYZE TABLE $cat.s.t COMPUTE STATISTICS
        FOR COLUMNS l_orderkey, l_quantity""").collect())
    val filtered = s"""SELECT SUM(l_quantity) AS s, APPROX_COUNT_DISTINCT(l_orderkey) AS d
        FROM $cat.s.t WHERE day < $serveBelow"""
    // the plan checks run AFTER the timed pass: building the same SQL's
    // plan first would warm the session's plan memo, and the probe would
    // time a re-serve instead of the first serve a user pays
    r.time(s"${p}_filtered_serve", check =
      require(t.snapshot.properties.contains(ColumnStats.PsidecarProp),
        s"$tuples tuples must stamp the sidecar layer"))(
      require(spark.sql(filtered).collect().nonEmpty))
    r.group(s"${p}_filtered_serve")(scanFree(filtered))
    if (twins) {
      // a genuine DATA READ with resolution amortized: snapshot from the
      // cache, but a FRESH untagged plan built outside the timed region —
      // the memoized SQL-path DataFrame carries rewrite tags that make the
      // "scan" serve metadata-only, and timing the plan build would
      // measure construction, not scanning
      val (scanT, scanSnap) = graft.tables.SnapshotCache.latest(spark,
        graft.io.TableIO.normalize(loc))
      val scan = scanT.toDF(scanSnap.version).filter(col("day") < serveBelow)
        .agg(sum(col("l_quantity")).as("s"), approx_count_distinct(col("l_orderkey")).as("d"))
      r.time(s"${p}_filtered_scan", check = require(
          scan.queryExecution.executedPlan.toString.contains("FileScan"),
          "the scan twin must actually scan"))(require(scan.collect().nonEmpty))
    }
    val filesBefore = t.snapshot.files.size
    r.time(s"${p}_retention_drop")(
      spark.sql(s"DELETE FROM $cat.s.t WHERE day >= $dropFrom").collect())
    val after = t.snapshot
    require(after.files.size < filesBefore &&
        !after.files.exists(_.deletionVector.exists(_.cardinality > 0)),
      s"the $p retention drop must be metadata-only")
    require(ColumnStats.isFresh(after), s"the $p retention drop must keep the stamp fresh")
    if (twins) {
      // the last `serveBelow` partitions the drop left
      val postDrop =
        s"SELECT SUM(l_quantity) AS s FROM $cat.s.t WHERE day >= ${dropFrom - serveBelow}"
      r.time(s"${p}_post_drop_serve")(require(spark.sql(postDrop).collect().nonEmpty))
      r.group(s"${p}_post_drop_serve")(scanFree(postDrop))
    }
  }

  /** Purchases and the click windows ([ts, ts + 1 day)) they may fall in. */
  private[graft] def clicksAndPurchases(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) = {
    val e = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), expr("ts div 1000").as("ts_us"))
    (e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts_us").as("w_start"), (col("ts_us") + lit(86400000000L)).as("w_end")),
     e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts_us").as("p_ts")))
  }

  /** The BINNED point-in-interval join (q185's attribution-window shape)
    * vs the naive range predicate, both keyed on the user.
    */
  private[graft] def keyedRangeJoins(r: Probes, clicks: DataFrame, purchases: DataFrame): Unit = {
    r.time("range_join_binned")(noop(graft.ext.RangeJoin.pointInInterval(purchases, clicks,
      pointCol = "p_ts", startCol = "w_start", endCol = "w_end",
      binWidth = 86400000000L, equiKeys = Seq(("user_id", "c_user")))))
    r.time("range_join_naive")(noop(purchases.join(clicks, col("user_id") === col("c_user")
      && col("p_ts") >= col("w_start") && col("p_ts") < col("w_end"))))
  }
}
