package graft

import org.apache.spark.sql.SparkSession

import graft.Timing.timed

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
  * see README "Scale posture").
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft-sf1"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // cost-based optimizer ON: the stamped column statistics the
      // engine attaches (GraftPlannerStats) feed filter selectivity and
      // join-reorder costing; relations without stats fall back to
      // size-only estimation exactly as before
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.sql.GraftSparkSessionExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def best(label: String)(mk: => org.apache.spark.sql.DataFrame): Double =
      (1 to 2).map { i =>
        val t0 = System.nanoTime()
        mk.write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[scalecheck] ${label}_pass$i $t%.2fs")
        t
      }.min

    val names = Seq(
      "q01_pricing_summary",   // scan + partial agg (the linear baseline)
      "q03_top_orders",        // shuffle join
      "q47_minhash_dup_pairs", // banded LSH equi-join
      "q91_duplicated_spans",  // one gram shuffle, O(tokens)
      "q103_token_budget_mix") // distributed prefix sum (O(#partitions) driver)
    val timings = names.map(n => n -> best(n)(SparkEntry.queries(n)(spark, sfDir)))

    // segment dedup on the skewed corpus (falls back to plain documents
    // when the fixture predates documents_boiler)
    val boilerPath = s"$sfDir/documents_boiler.parquet"
    val docs =
      if (new java.io.File(boilerPath).exists()) spark.read.parquet(boilerPath)
      else graft.queries.Tables.documents(spark, sfDir)
    val segDedup = best("segment_dedup_boiler")(
      graft.ext.NearDup.dedupSegments(docs))

    // materialized-view maintenance: the initial fold pays one full
    // aggregate; the refresh after a 10k-row append must cost O(changed
    // rows) — at sf1 that is ~0.2% of the source, and the gap between
    // the two numbers IS the incremental-maintenance story at 100 TB
    val (mvInitial, mvIncr) = {
      import org.apache.spark.sql.functions.col
      val loc = java.nio.file.Files.createTempDirectory("scalecheck-mv").toString
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_returnflag"), col("l_quantity").cast("double").as("l_quantity"))
      val src = new graft.tables.TxTable(spark, s"$loc/src")
      src.create(li)
      val a = timed(graft.tables.IncrementalView.refresh(
        src, s"$loc/mv", Seq("l_returnflag"), Seq("l_quantity")))
      src.append(li.limit(10000))
      val b = timed(graft.tables.IncrementalView.refresh(
        src, s"$loc/mv", Seq("l_returnflag"), Seq("l_quantity")))
      System.err.println(f"[scalecheck] mv_initial_fold $a%.2fs mv_incremental_refresh $b%.2fs")
      (a, b)
    }

    // round-9 operators: the distributed-prefix-sum shard assignment
    // (two shuffles regardless of size), the map-only classifier pass
    // (pure scan scaling), and the fractional-epoch explode
    val shards = best("corpus_shards")(
      graft.ext.Sampling.shuffleShards(
        graft.queries.Tables.documents(spark, sfDir)
          .select(org.apache.spark.sql.functions.col("doc_id")),
        "doc_id", docsPerShard = 4096L))
    val classifier = best("quality_classifier")(
      graft.queries.Tables.documents(spark, sfDir).select(
        org.apache.spark.sql.functions.col("doc_id"),
        graft.functions.TextNativeFunctions.classifierScore(
          org.apache.spark.sql.functions.col("text"))
          .as(Seq("n_tokens", "raw_score", "score", "keep"))))
    val epochs = best("epoch_upsampling")(
      graft.ext.Sampling.epochRepeat(
        graft.queries.Tables.documents(spark, sfDir)
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("source")),
        "source", "doc_id", Map("src1" -> 2.5, "src2" -> 0.25)))

    // REORG PURGE at scale: cost must track files-WITH-deletes, not the
    // table. Delete ~1% of rows MoR (bitmaps land on every file), then
    // purge — the interesting number vs sf0.1 is the rewrite time's
    // growth, which follows data volume (every file got a bitmap here,
    // the worst case; a selective delete would rewrite fewer files).
    val reorg = {
      import org.apache.spark.sql.functions.col
      val loc = java.nio.file.Files.createTempDirectory("scalecheck-reorg").toString
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      graft.tables.DeltaLogWriter.create(spark, loc, li,
        properties = Map("delta.enableDeletionVectors" -> "true"))
      val t = graft.tables.TxTable.forForeignDelta(spark, loc)
      val d = timed(t.delete("l_orderkey % 97 = 0"))
      val p = timed(t.reorgPurge())
      System.err.println(f"[scalecheck] reorg_mor_delete $d%.2fs reorg_purge $p%.2fs")
      (d, p)
    }

    // REORG PURGE with FIXED touched bytes: the proportional probe above
    // rewrites every DV-carrying file by construction, so its ×10 ratio
    // tracks table size. This one pins the claimed cost model — linear
    // in TOUCHED bytes, not table size: the table is range-clustered
    // into ~200k-row files, the delete hits the same ABSOLUTE key range
    // at any sf (so the DV lands on a bounded file set of fixed bytes),
    // and the purge time must stay ≈flat from sf0.1 to sf1.
    val reorgFixed = {
      import org.apache.spark.sql.functions.col
      val loc = java.nio.file.Files.createTempDirectory("scalecheck-reorgfix").toString
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val nFiles = math.max(1, (li.count() / 200000L).toInt)
      graft.tables.DeltaLogWriter.create(spark, loc,
        li.repartitionByRange(nFiles, col("l_orderkey")),
        properties = Map("delta.enableDeletionVectors" -> "true"))
      val t = graft.tables.TxTable.forForeignDelta(spark, loc)
      val d = timed(t.delete("l_orderkey <= 2000"))
      val touched = t.snapshot.files.count(_.deletionVector.exists(_.cardinality > 0))
      val p = timed(t.reorgPurge())
      System.err.println(
        f"[scalecheck] reorg_fixed_delete $d%.2fs reorg_purge_fixed $p%.2fs (files touched: $touched)")
      (d, p)
    }

    // Iceberg changelog: consuming the derived row feed after a ~1% MoR
    // delete — cost must track (new files + dying rows' files), i.e.
    // the delete's footprint, not table size
    val changelog = {
      import org.apache.spark.sql.functions.col
      val loc = java.nio.file.Files.createTempDirectory("scalecheck-chlog").toString + "/t"
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity"))
      val t = graft.tables.TxTable.forIceberg(spark, loc)
      t.create(li)
      t.delete("l_orderkey % 97 = 0")
      val c = timed(graft.tables.IcebergLog.tableChanges(spark, loc, t.version, Some(t.version))
        .write.format("noop").mode("overwrite").save())
      System.err.println(f"[scalecheck] iceberg_changelog_delete $c%.2fs")
      c
    }

    // round-10 operators: the trained-weight classifier (broadcast
    // gather must stay scan-bound like the pseudo-model), and the
    // equality-delete pipeline — the changelog's dying-rows derivation
    // and the TxTable read that folds live equality deletes into
    // bitmaps. Both must track the OLD files in sequence scope plus the
    // delete keys, not blow up with table size.
    val classifierTrained = best("quality_classifier_trained") {
      val w = Array.tabulate(graft.functions.ClassifierScoreGen.NumBuckets)(b =>
        (((b.toLong * 1664525L + 1013904223L) % 4096L) - 2048L).toFloat / 1024.0f)
      graft.queries.Tables.documents(spark, sfDir).select(
        org.apache.spark.sql.functions.col("doc_id"),
        graft.functions.TextNativeFunctions.classifierScore(
          org.apache.spark.sql.functions.col("text"), w)
          .as(Seq("n_tokens", "raw_score", "score", "keep")))
    }
    // cross-corpus boilerplate-line removal: one line shuffle + a
    // count-distinct threshold + anti-join back — must track corpus
    // line volume, like the other one-shuffle text ops
    val boiler = best("boilerplate_lines") {
      import org.apache.spark.sql.functions.{col, concat, lit, when}
      val d = graft.queries.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
      val planted = d.withColumn("text", concat(col("text"),
        when(col("doc_id") % 3 === 0, lit("\nSubscribe to our newsletter"))
          .otherwise(lit(""))))
      graft.ext.TextOps.removeBoilerplateLines(planted, minDocs = 3L)
    }

    val (eqChangelog, eqFoldRead) = {
      import org.apache.spark.sql.functions.col
      val loc = java.nio.file.Files.createTempDirectory("scalecheck-eqdel").toString + "/t"
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity"))
      val t = graft.tables.TxTable.forIceberg(spark, loc)
      t.create(li)
      graft.tables.IcebergWriter.equalityDelete(spark, loc, Seq("l_orderkey"),
        li.filter(col("l_orderkey") % 97 === 0).select("l_orderkey").distinct())
      val v = t.history.last
      val a = timed(graft.tables.IcebergLog.tableChanges(spark, loc, v, Some(v))
        .write.format("noop").mode("overwrite").save())
      val b = timed(t.toDF.write.format("noop").mode("overwrite").save())
      System.err.println(
        f"[scalecheck] iceberg_eq_changelog $a%.2fs eq_delete_fold_read $b%.2fs")
      (a, b)
    }

    // round-11 operators: bigram-LM scoring (the transition explode and
    // its two model equi-joins are the cost; must track corpus tokens),
    // sliding-window chunking (map-only explode — pure scan scaling),
    // and mojibake scoring (single regex scan per row)
    val lmScore = best("bigram_lm_score")(
      graft.ext.TextOps.bigramLmScore(
        graft.queries.Tables.documents(spark, sfDir)))
    val chunking = best("doc_chunking")(
      graft.ext.TextOps.chunkDocuments(
        graft.queries.Tables.documents(spark, sfDir),
        chunkTokens = 64, overlapTokens = 16))
    val mojibake = best("encoding_artifacts")(
      graft.ext.TextOps.encodingArtifacts(
        graft.queries.Tables.documents(spark, sfDir)))

    // bloom file-skipping index: the build is one column-pruned scan +
    // hash agg (tracks data volume); the point lookup splits — stats-only
    // reads every file (tracks table size), bloom-pruned reads the ~1
    // file that might hold the key, so it must stay ≈FLAT from sf0.1 to
    // sf1 — that flat line is the operator's 100 TB story
    val (bloomBuild, bloomStats, bloomPruned) = {
      import org.apache.spark.sql.functions.col
      val loc = java.nio.file.Files.createTempDirectory("scalecheck-bloom").toString + "/t"
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey"), col("l_extendedprice"))
      val nFiles = math.max(16, (li.count() / 200000L).toInt)
      val t = new graft.tables.TxTable(spark, loc)
      t.create(li.repartition(nFiles))
      val key = li.select(col("l_partkey")).head().getLong(0)
      val a = timed(t.scan(s"l_partkey = $key")
        .write.format("noop").mode("overwrite").save())
      val b = timed(graft.tables.BloomIndex.enable(t, Seq("l_partkey")))
      val c = timed(t.scan(s"l_partkey = $key")
        .write.format("noop").mode("overwrite").save())
      System.err.println(
        f"[scalecheck] bloom_index_build $b%.2fs bloom_lookup_stats_only $a%.2fs " +
          f"bloom_lookup_pruned $c%.2fs (files: ${t.filesAfterPruning(s"l_partkey = $key")}/$nFiles)")
      (b, a, c)
    }

    // round-11/12 additions: the one-pass grouped-KMV overlap matrix
    // (k longs per corpus — must track ONE scan, no distinct-key
    // shuffle), the partition-grouped metadata rollup and the
    // partition-only-WHERE answer (both O(file list) driver folds —
    // must stay ≈FLAT from sf0.1 to sf1 even as the scan twin grows),
    // and the direct Iceberg read under a DENSE mass position delete
    // with the inline threshold forced low (the anti-join path — cost
    // must track data volume, residency must not track files × bitmap
    // bytes anywhere)
    val kmvOverlap = best("kmv_overlap_matrix")(
      SparkEntry.queries("q158_source_overlap_matrix")(spark, sfDir))
    val (grpMeta, grpScan, pfMeta) = {
      import org.apache.spark.sql.functions.{col, count, lit, max, min}
      val client = new graft.client.LakehouseClient(spark)
      client.createCatalog("scalegrp")
      client.createSchema("scalegrp", "s")
      val loc = java.nio.file.Files.createTempDirectory("scalecheck-grp").toString
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      graft.tables.DeltaLogWriter.create(spark, s"$loc/t", li.repartition(32),
        partitionColumns = Seq("l_returnflag"))
      client.registerAsTable("scalegrp", "s", "t",
        graft.catalog.FileType.DELTA, s"$loc/t")
      val a = timed(spark.sql("""SELECT l_returnflag, COUNT(*) AS n,
          MIN(l_orderkey) AS lo, MAX(l_orderkey) AS hi
        FROM scalegrp.s.t GROUP BY l_returnflag""").collect())
      val b = timed {
        graft.tables.TxTable.forForeignDelta(spark, s"$loc/t").toDF
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), min(col("l_orderkey")).as("lo"),
            max(col("l_orderkey")).as("hi"))
          .collect()
      }
      val c = timed(spark.sql("""SELECT COUNT(*) AS n, MIN(l_orderkey) AS lo
        FROM scalegrp.s.t WHERE l_returnflag = 'A'""").collect())
      System.err.println(f"[scalecheck] grouped_rollup_metadata $a%.2fs " +
        f"grouped_rollup_scan $b%.2fs partition_filter_metadata $c%.2fs")
      (a, b, c)
    }
    val massDelRead = {
      import org.apache.spark.sql.functions.col
      val loc = java.nio.file.Files.createTempDirectory("scalecheck-massdel").toString + "/t"
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity"))
      val t = graft.tables.TxTable.forIceberg(spark, loc)
      t.create(li)
      t.delete("l_orderkey % 5 != 0") // dense: ~80% of every file
      spark.conf.set(graft.tables.IcebergCommitLog.InlineFoldMaxDeleteBytesConf, "1")
      val d = try timed(graft.tables.IcebergLog.toDF(spark, loc)
          .write.format("noop").mode("overwrite").save())
        finally spark.conf.unset(graft.tables.IcebergCommitLog.InlineFoldMaxDeleteBytesConf)
      System.err.println(f"[scalecheck] massdel_direct_read $d%.2fs")
      d
    }

    // round-12 operators: COPY INTO (initial load tracks new bytes, the
    // re-run no-op must track ingest-log metadata only — ≈flat) and the
    // canonical-URL dedup (map-only key derivation + one group-by
    // shuffle — must track url volume)
    val (copyInitial, copyNoop) = {
      import org.apache.spark.sql.functions.col
      val root = java.nio.file.Files.createTempDirectory("scalecheck-cpin").toString
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity"))
      li.repartition(16).write.mode("append").parquet(s"$root/drop")
      val t = new graft.tables.TxTable(spark, s"$root/t")
      t.create(li.limit(0))
      val a = timed(graft.tables.CopyInto.run(t, s"$root/drop"))
      val b = timed(graft.tables.CopyInto.run(t, s"$root/drop"))
      System.err.println(f"[scalecheck] copy_into_initial $a%.2fs copy_into_noop $b%.2fs")
      (a, b)
    }
    val urlDedup = best("canonical_url_dedup") {
      import org.apache.spark.sql.functions.{col, concat, lit, pmod, expr, when, upper}
      val urled = graft.queries.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"))
        .withColumn("url", when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit("HTTPS://WWW."), upper(col("source")), lit(".COM:443/a/"),
              expr("doc_id div 3"), lit("/?utm_source=x&b=2&a=1#f")))
          .otherwise(concat(lit("https://"), col("source"), lit(".com/a/"),
            expr("doc_id div 3"), lit("?a=1&b=2"))))
      graft.ext.UrlOps.dedupByCanonicalUrl(urled, "url")
    }

    // round-13: incrementally-maintained ANALYZE stats — the stamp scan
    // tracks the table (linear), but the FOLD on a FIXED 10k-row append
    // must track the batch (≈flat across ×10 table growth), and the
    // post-fold metadata answer must stay flat: that flat-vs-linear gap
    // is the whole point of maintaining stats instead of re-scanning
    val (analyzeStamp, statsFoldFixed, sumPostFold, minMaxPostFold,
        momentsPostFold, pctPostFold) = {
      import org.apache.spark.sql.functions.col
      val loc = java.nio.file.Files.createTempDirectory("scalecheck-stats").toString
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_suppkey"))
      val t = new graft.tables.TxTable(spark, s"$loc/t")
      t.create(li)
      val client = new graft.client.LakehouseClient(spark)
      client.createCatalog("scalestats")
      client.createSchema("scalestats", "s")
      client.registerAsTable("scalestats", "s", "t",
        graft.catalog.FileType.DELTA, s"$loc/t")
      val a = timed(graft.tables.ColumnStats.analyze(t, Seq("l_orderkey", "l_suppkey")))
      // deliberate driver-side collect of a FIXED 10k-row probe batch
      // (fixture-sized, never data-scaled): materializing it first
      // isolates the timed append+fold from the batch's own read cost —
      // this is measurement plumbing, not an operator pattern
      val batch = li.limit(10000).collect()
      val batchDf = spark.createDataFrame(
        spark.sparkContext.parallelize(batch.toIndexedSeq, 4), li.schema)
      val b = timed(t.append(batchDf))
      val c = timed {
        val got = spark.sql("""SELECT SUM(l_orderkey) AS s,
            APPROX_COUNT_DISTINCT(l_suppkey) AS d FROM scalestats.s.t""").collect()
        require(got.nonEmpty)
      }
      require(graft.tables.ColumnStats.currentSum(t.snapshot, "l_orderkey").isDefined,
        "fold must keep the stamp fresh after the append")
      // round-13 tail (round-lag rule): the stamped-extremes read —
      // long columns here, but the stamp path is the same one strings/
      // floats take; must stay ~flat at x10 data
      val mm = timed {
        spark.sql("""SELECT MIN(l_orderkey) AS mn, MAX(l_suppkey) AS mx
            FROM scalestats.s.t""").collect()
      }
      // round-14 tail: the full-aggregate-surface serves — AVG/central
      // moments from (n, Σx, Σx²) and APPROX_PERCENTILE from the
      // stamped quantile sketch, both POST-FOLD (the append above
      // merged the batch's sketch and added its moments). O(property
      // bytes) driver work — must stay flat at ×10 data
      val mo = timed {
        val got = spark.sql("""SELECT AVG(l_orderkey) AS a,
            STDDEV_POP(l_suppkey) AS s, VAR_SAMP(l_orderkey) AS v
          FROM scalestats.s.t""").collect()
        require(got.nonEmpty && !got(0).isNullAt(1))
      }
      val pc = timed {
        val got = spark.sql("""SELECT APPROX_PERCENTILE(l_orderkey,
            array(0.5, 0.99), 100) AS p FROM scalestats.s.t""").collect()
        require(got.nonEmpty && !got(0).isNullAt(0))
      }
      System.err.println(f"[scalecheck] metadata_minmax_post_fold $mm%.2fs " +
        f"metadata_moments_post_fold $mo%.2fs approx_percentile_post_fold $pc%.2fs")
      System.err.println(f"[scalecheck] analyze_stamp_scan $a%.2fs " +
        f"stats_fold_append_fixed $b%.2fs metadata_sum_post_fold $c%.2fs")
      (a, b, c, mm, mo, pc)
    }

    // round-14: the DELETE fold — maintenance must track the delete's
    // TOUCHED bytes, not the table. Range-clustered ~200k-row files +
    // an absolute-key retention delete = a bounded touched set at any
    // sf, so the delete (rewrite + fold's removed-rows aggregate) and
    // the post-delete scan-free SUM must both stay ≈flat from sf0.1 to
    // sf1, while a stamp-killing design would pay a full re-ANALYZE
    // scan (the `analyze_stamp_scan` line above) to get SUM back.
    val (deleteFoldFixed, sumPostDelete, updateFoldFixed, sumPostUpdate) = {
      import org.apache.spark.sql.functions.col
      val loc = java.nio.file.Files.createTempDirectory("scalecheck-delfold").toString
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_suppkey"))
      val nFiles = math.max(1, (li.count() / 200000L).toInt)
      val t = new graft.tables.TxTable(spark, s"$loc/t")
      t.create(li.repartitionByRange(nFiles, col("l_orderkey")))
      graft.tables.ColumnStats.analyze(t, Seq("l_orderkey", "l_suppkey"))
      val client2 = new graft.client.LakehouseClient(spark)
      client2.createCatalog("scaledf")
      client2.createSchema("scaledf", "s")
      client2.registerAsTable("scaledf", "s", "t",
        graft.catalog.FileType.DELTA, s"$loc/t")
      val d = timed(t.delete("l_orderkey <= 2000"))
      require(graft.tables.ColumnStats.currentSum(t.snapshot, "l_suppkey").isDefined,
        "the delete fold must keep SUM servable")
      val e = timed {
        val got = spark.sql("SELECT SUM(l_suppkey) AS s FROM scaledf.s.t").collect()
        require(got.nonEmpty)
      }
      System.err.println(
        f"[scalecheck] stats_fold_delete_fixed $d%.2fs metadata_sum_post_delete $e%.2fs")
      // round-14 late: the UPDATE fold at a FIXED absolute key range —
      // range-clustered files bound the rewrite's touched bytes at any
      // sf, so the update (rewrite + property restamp) and the
      // post-update scan-free SUM of the UNASSIGNED column must both
      // stay ≈flat from sf0.1 to sf1
      val u = timed(t.update("l_orderkey <= 4000",
        Map("l_suppkey" -> "l_suppkey + 0")))
      require(graft.tables.ColumnStats.currentSum(t.snapshot, "l_orderkey").isDefined,
        "the update fold must keep the unassigned column's SUM servable")
      val e2 = timed {
        val got = spark.sql("SELECT SUM(l_orderkey) AS s FROM scaledf.s.t").collect()
        require(got.nonEmpty)
      }
      System.err.println(
        f"[scalecheck] stats_fold_update_fixed $u%.2fs metadata_sum_post_update $e2%.2fs")
      (d, e, u, e2)
    }
    // round-14: per-partition KMV sketches — the filtered
    // APPROX_COUNT_DISTINCT answer is an O(#partitions × k) driver
    // merge over property bytes, so it must stay ≈flat at ×10 data
    // (3 partition values at every sf). Self-contained catalog: client
    // registration is last-wins per session, so reusing an earlier
    // block's catalog would resolve against the wrong store.
    val (pndvMeta, grpSumMeta, retDrop, retServe) = {
      import org.apache.spark.sql.functions.col
      val client3 = new graft.client.LakehouseClient(spark)
      client3.createCatalog("scalendv")
      client3.createSchema("scalendv", "s")
      val loc = java.nio.file.Files.createTempDirectory("scalecheck-pndv").toString
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity").cast("long").as("l_quantity"),
          col("l_returnflag"))
      graft.tables.DeltaLogWriter.create(spark, s"$loc/t", li.repartition(32),
        partitionColumns = Seq("l_returnflag"))
      client3.registerAsTable("scalendv", "s", "t",
        graft.catalog.FileType.DELTA, s"$loc/t")
      spark.sql("""ANALYZE TABLE scalendv.s.t COMPUTE STATISTICS
          FOR COLUMNS l_orderkey, l_quantity""").collect()
      val v = timed {
        val got = spark.sql("""SELECT APPROX_COUNT_DISTINCT(l_orderkey) AS d
          FROM scalendv.s.t WHERE l_returnflag = 'A'""").collect()
        require(got.nonEmpty)
      }
      // round-14 late: the per-day SUM rollup from the scalar layer
      // (O(#partitions) property merge — must stay flat at x10 data)
      val g = timed {
        val got = spark.sql("""SELECT l_returnflag, SUM(l_quantity) AS s
          FROM scalendv.s.t GROUP BY l_returnflag""").collect()
        require(got.length == 3)
      }
      // the retention delete: whole-partition fast path (no read) +
      // metadata-only stats recombination — the WHOLE drop must stay
      // ~flat at x10 data, where the pre-round-14 shape paid a full
      // read-and-rewrite of the dropped partition
      val d = timed(spark.sql("DELETE FROM scalendv.s.t WHERE l_returnflag = 'A'")
        .collect())
      // and everything keeps serving scan-free AFTER the drop
      val r = timed {
        val got = spark.sql("""SELECT APPROX_COUNT_DISTINCT(l_orderkey) AS d,
            SUM(l_quantity) AS s, MAX(l_quantity) AS mx
          FROM scalendv.s.t""").collect()
        require(got.nonEmpty)
      }
      require(graft.tables.ColumnStats.currentSum(
          graft.tables.TxTable.forForeignDelta(spark, s"$loc/t").snapshot,
          "l_quantity").isDefined,
        "the retention drop must keep the stamp fresh via recombination")
      System.err.println(f"[scalecheck] partition_ndv_metadata $v%.2fs " +
        f"grouped_sum_metadata $g%.2fs retention_drop_metadata $d%.2fs " +
        f"retention_post_drop_serve $r%.2fs")
      (v, g, d, r)
    }

    // round-15: the SIDECAR per-partition layer at 365 tuples — the
    // day-partitioned-year shape the 64-tuple inline cap used to lock
    // out entirely. The filtered serve is one sidecar read + an
    // O(surviving tuples × k) driver merge, so it must stay ≈flat at
    // ×10 data while its scan twin grows with the table; the retention
    // drop (65 whole partitions) is the whole-file fast path + one
    // sidecar rewrite — metadata-only at any scale.
    val (sideAnalyze, sideServe, sideScan, sideDrop, sidePostServe) = {
      import org.apache.spark.sql.functions.col
      val client4 = new graft.client.LakehouseClient(spark)
      client4.createCatalog("scaleside")
      client4.createSchema("scaleside", "s")
      val loc = java.nio.file.Files.createTempDirectory("scalecheck-side").toString
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_quantity").cast("long").as("l_quantity"),
          (col("l_orderkey").cast("long") % 365L).as("day"))
      graft.tables.DeltaLogWriter.create(spark, s"$loc/t", li.repartition(8),
        partitionColumns = Seq("day"))
      client4.registerAsTable("scaleside", "s", "t",
        graft.catalog.FileType.DELTA, s"$loc/t")
      val a = timed {
        spark.sql("""ANALYZE TABLE scaleside.s.t COMPUTE STATISTICS
          FOR COLUMNS l_orderkey, l_quantity""").collect()
      }
      require(graft.tables.TxTable.forForeignDelta(spark, s"$loc/t")
          .snapshot.properties.contains(graft.tables.ColumnStats.PsidecarProp),
        "365 tuples must stamp the sidecar layer")
      // the probe exists to pin "one sidecar read + driver merge, no
      // data read": assert the PLAN, not just freshness — a silent
      // regression to scanning would otherwise time the scan twin and
      // still look plausibly flat at ×10
      def requireScanFree(sql: String): Unit = {
        val p = spark.sql(sql).queryExecution.executedPlan.toString
        require(p.contains("LocalTableScan") && !p.contains("FileScan"),
          s"sidecar serve must be scan-free, got plan:\n$p")
      }
      val filteredSql = """SELECT SUM(l_quantity) AS s,
            APPROX_COUNT_DISTINCT(l_orderkey) AS d
          FROM scaleside.s.t WHERE day < 100"""
      requireScanFree(filteredSql)
      val sv = timed {
        val got = spark.sql(filteredSql).collect()
        require(got.nonEmpty)
      }
      // the scan twin must measure a genuine DATA READ with resolution
      // amortized: snapshot from the cache, but a FRESH untagged plan
      // built OUTSIDE the timed region — reusing the memoized DataFrame
      // would reuse the SQL-path plan instance whose rewrite tags make
      // the "scan" serve metadata-only (r16 passes 1-2 measured exactly
      // that: a 0.02s "scan" at both scales), and timing the plan build
      // would measure construction, not scanning
      val (scanT, scanSnap) = graft.tables.SnapshotCache.latest(spark,
        graft.io.TableIO.normalize(s"$loc/t"))
      val scanDf = scanT.toDF(scanSnap.version)
        .filter(col("day") < 100)
        .agg(org.apache.spark.sql.functions.sum(col("l_quantity")).as("s"),
          org.apache.spark.sql.functions
            .approx_count_distinct(col("l_orderkey")).as("d"))
      require(scanDf.queryExecution.executedPlan.toString.contains("FileScan"),
        "the scan twin must actually scan")
      val sc = timed {
        require(scanDf.collect().nonEmpty)
      }
      val d = timed(
        spark.sql("DELETE FROM scaleside.s.t WHERE day >= 300").collect())
      val postDropSql = """SELECT SUM(l_quantity) AS s
          FROM scaleside.s.t WHERE day >= 200"""
      requireScanFree(postDropSql)
      val r = timed {
        val got = spark.sql(postDropSql).collect()
        require(got.nonEmpty)
      }
      require(graft.tables.ColumnStats.isFresh(
          graft.tables.TxTable.forForeignDelta(spark, s"$loc/t").snapshot),
        "the 65-partition retention drop must keep the sidecar stamp fresh")
      System.err.println(f"[scalecheck] sidecar_analyze_stamp $a%.2fs " +
        f"sidecar_filtered_serve $sv%.2fs sidecar_filtered_scan $sc%.2fs " +
        f"sidecar_retention_drop $d%.2fs sidecar_post_drop_serve $r%.2fs")
      (a, sv, sc, d, r)
    }

    // round-16: the SAME 365-tuple sidecar cycle on an ICEBERG table —
    // the sidecar write/sweep path past the 64-tuple inline cap was
    // Delta-only evidence before (q190 pins Iceberg at 3 tuples, inline
    // regime). ANALYZE must stamp the sidecar pointer, the filtered
    // serve must stay scan-free, and the 65-partition retention drop
    // must be METADATA-ONLY (whole identity-partition files dropped, no
    // delete files written) with the stamp folding across it.
    val (iceSideAnalyze, iceSideServe, iceSideDrop) = {
      import org.apache.spark.sql.functions.col
      val client5 = new graft.client.LakehouseClient(spark)
      client5.createCatalog("scaleiceside")
      client5.createSchema("scaleiceside", "s")
      val loc = java.nio.file.Files.createTempDirectory("scalecheck-iceside").toString
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_quantity").cast("long").as("l_quantity"),
          (col("l_orderkey").cast("long") % 365L).as("day"))
      graft.tables.TxTable.forIceberg(spark, s"$loc/t")
        .create(li.repartition(8), partitionColumns = Seq("day"))
      client5.registerAsTable("scaleiceside", "s", "t",
        graft.catalog.FileType.ICEBERG, s"$loc/t")
      val a = timed {
        spark.sql("""ANALYZE TABLE scaleiceside.s.t COMPUTE STATISTICS
          FOR COLUMNS l_orderkey, l_quantity""").collect()
      }
      require(graft.tables.TxTable.forIceberg(spark, s"$loc/t")
          .snapshot.properties.contains(graft.tables.ColumnStats.PsidecarProp),
        "365 Iceberg tuples must stamp the sidecar layer")
      val servedSql = """SELECT SUM(l_quantity) AS s
          FROM scaleiceside.s.t WHERE day < 100"""
      val p = spark.sql(servedSql).queryExecution.executedPlan.toString
      require(p.contains("LocalTableScan") && !p.contains("FileScan"),
        s"iceberg sidecar serve must be scan-free, got plan:\n$p")
      val sv = timed {
        require(spark.sql(servedSql).collect().nonEmpty)
      }
      val filesBefore = graft.tables.TxTable.forIceberg(spark, s"$loc/t")
        .snapshot.files.size
      val d = timed(
        spark.sql("DELETE FROM scaleiceside.s.t WHERE day >= 300").collect())
      val postSnap = graft.tables.TxTable.forIceberg(spark, s"$loc/t").snapshot
      require(postSnap.files.size < filesBefore &&
          !postSnap.files.exists(_.deletionVector.exists(_.cardinality > 0)),
        "the Iceberg 65-partition retention drop must be metadata-only")
      require(graft.tables.ColumnStats.isFresh(postSnap),
        "the Iceberg retention drop must keep the sidecar stamp fresh")
      System.err.println(f"[scalecheck] iceberg_sidecar_analyze_stamp $a%.2fs " +
        f"iceberg_sidecar_filtered_serve $sv%.2fs " +
        f"iceberg_sidecar_retention_drop $d%.2fs")
      (a, sv, d)
    }

    // round-16: FIXED-dup-density MinHash twin — q47's ×10 wallclock
    // ratio (7.3× in SCALE_r15) is suspected to be the FIXTURE, not the
    // operator: ScaleGen replicates document TEXT verbatim under shifted
    // ids, so every text becomes a 10-member identical cluster and
    // banded candidate pairs grow quadratically per cluster. This twin
    // holds dup pairs CONSTANT while the corpus grows: every token is
    // salted with its doc_id (distinct docs share zero shingles at any
    // scale), then exactly the docs with doc_id < 1000 (present at both
    // scales — replica-0 ids) are planted as exact copies. If the twin
    // scales ≈linearly, the q47 ratio is attributed to fixture dup
    // growth; if not, the operator owes a fix.
    val minhashFixedTwin = {
      import org.apache.spark.sql.functions._
      val docs = graft.queries.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
      val salted = docs.select(col("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          t => concat(t, lit("_"), col("doc_id")))).as("text"))
      val planted = salted.filter(col("doc_id") < 1000L)
        .withColumn("doc_id", col("doc_id") + lit(10000000L))
      best("minhash_fixed_dup_twin")(
        graft.ext.NearDup.minhashDupPairs(salted.unionAll(planted),
          threshold = 0.9))
    }

    // round-15: the BINNED range join (q185's attribution-window shape)
    // vs the naive range predicate. This fixture grows the USER
    // population (ScaleGen shifts user ids per replica), so both arms
    // must scale ≈linearly at ×10 — the binned arm's win is the smaller
    // candidate set per user (co-keyed on (user, day-bin), only
    // same-window pairs ever materialize), which is also what keeps it
    // linear when per-user activity grows instead.
    val (rjBinned, rjNaive) = {
      import org.apache.spark.sql.functions.{col, expr, lit}
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
      System.err.println(f"[scalecheck] range_join_binned $a%.2fs range_join_naive $b%.2fs")
      (a, b)
    }

    // round-17: the fused native span-cut pass (q92's shape) and the
    // EXACT prefix-filtered Jaccard pair join (q99/q100's edge
    // generation). Both must scale ≈linearly at ×10-data: the cut is one
    // Generator pass over the corpus plus span-count-bounded arithmetic;
    // the prefix join's candidate count tracks the true duplicate count
    // (rarest-shingle prefixes), not the corpus square. The naive
    // all-pairs twin is deliberately absent — it is quadratic in
    // documents and already unrunnable at sf1, which is the point.
    val spanRemoval = best("span_removal")(
      SparkEntry.queries("q92_span_removal")(spark, sfDir))
    val prefixPairs = best("jaccard_pairs_prefix")(
      graft.ext.NearDup.prefixFilteredJaccardPairs(
        graft.queries.Tables.documents(spark, sfDir),
        shingleK = 3, threshold = 0.4))

    val qs = (timings ++ Seq("segment_dedup_boiler" -> segDedup,
      "span_removal" -> spanRemoval,
      "jaccard_pairs_prefix" -> prefixPairs,
      "mv_initial_fold" -> mvInitial, "mv_incremental_refresh" -> mvIncr,
      "corpus_shards" -> shards, "quality_classifier" -> classifier,
      "quality_classifier_trained" -> classifierTrained,
      "epoch_upsampling" -> epochs,
      "reorg_mor_delete" -> reorg._1, "reorg_purge" -> reorg._2,
      "reorg_fixed_delete" -> reorgFixed._1, "reorg_purge_fixed" -> reorgFixed._2,
      "iceberg_changelog_delete" -> changelog,
      "iceberg_eq_changelog" -> eqChangelog,
      "eq_delete_fold_read" -> eqFoldRead,
      "boilerplate_lines" -> boiler,
      "bigram_lm_score" -> lmScore,
      "doc_chunking" -> chunking,
      "encoding_artifacts" -> mojibake,
      "bloom_index_build" -> bloomBuild,
      "bloom_lookup_stats_only" -> bloomStats,
      "bloom_lookup_pruned" -> bloomPruned,
      "kmv_overlap_matrix" -> kmvOverlap,
      "grouped_rollup_metadata" -> grpMeta,
      "grouped_rollup_scan" -> grpScan,
      "partition_filter_metadata" -> pfMeta,
      "massdel_direct_read" -> massDelRead,
      "copy_into_initial" -> copyInitial,
      "copy_into_noop" -> copyNoop,
      "canonical_url_dedup" -> urlDedup,
      "analyze_stamp_scan" -> analyzeStamp,
      "stats_fold_append_fixed" -> statsFoldFixed,
      "metadata_sum_post_fold" -> sumPostFold,
      "metadata_minmax_post_fold" -> minMaxPostFold,
      "metadata_moments_post_fold" -> momentsPostFold,
      "approx_percentile_post_fold" -> pctPostFold,
      "stats_fold_delete_fixed" -> deleteFoldFixed,
      "metadata_sum_post_delete" -> sumPostDelete,
      "stats_fold_update_fixed" -> updateFoldFixed,
      "metadata_sum_post_update" -> sumPostUpdate,
      "partition_ndv_metadata" -> pndvMeta,
      "grouped_sum_metadata" -> grpSumMeta,
      "retention_drop_metadata" -> retDrop,
      "retention_post_drop_serve" -> retServe,
      "sidecar_analyze_stamp" -> sideAnalyze,
      "sidecar_filtered_serve" -> sideServe,
      "sidecar_filtered_scan" -> sideScan,
      "sidecar_retention_drop" -> sideDrop,
      "sidecar_post_drop_serve" -> sidePostServe,
      "iceberg_sidecar_analyze_stamp" -> iceSideAnalyze,
      "iceberg_sidecar_filtered_serve" -> iceSideServe,
      "iceberg_sidecar_retention_drop" -> iceSideDrop,
      "minhash_fixed_dup_twin" -> minhashFixedTwin,
      "range_join_binned" -> rjBinned,
      "range_join_naive" -> rjNaive))
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"scalecheck","unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
