package graft

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.types.{SchemaEquality, UcType}

/** Plan-quality assertions (is Catalyst producing the plan we want?) and
  * property-style tests over the pure type/schema logic (plain scalacheck
  * generators sampled in a loop — the scalatest bridge isn't in the
  * offline cache).
  */
class PlanQualitySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val q = graft.SparkEntry.allDefs.find(_.name == name).get
    q.fn(spark, sf).queryExecution.executedPlan.toString
  }

  test("filters are pushed into the parquet scan (q02, q06)") {
    Seq("q02_filter_project", "q06_revenue_forecast").foreach { name =>
      val plan = planOf(name)
      assert(plan.contains("PushedFilters: ["), s"$name: no pushed filters\n$plan")
      assert(!plan.contains("PushedFilters: []"), s"$name: pushed filter list empty\n$plan")
    }
  }

  test("foreign Delta reads push filters and prune columns like native parquet scans") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val loc = TestSpark.tmpDir("plan-delta")
    graft.tables.DeltaLogWriter.create(spark, loc,
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "s", "v"))
    val df = graft.tables.DeltaLog.toDF(spark, loc).filter(col("id") > 1L).select("id", "s")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"),
      s"foreign Delta scan should push filters:\n$plan")
    assert(plan.contains("ReadSchema") && !plan.contains("v:double"),
      s"unused column v should be pruned from the read schema:\n$plan")
  }

  test("DV-filtered Delta scans keep pushdown and whole-stage codegen") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val loc = TestSpark.tmpDir("plan-dv")
    graft.tables.DeltaLogWriter.create(spark, loc,
      (1L to 100L).map(i => (i, s"s$i", i * 1.5)).toDF("id", "s", "v"),
      properties = Map("delta.enableDeletionVectors" -> "true"))
    val t = graft.tables.TxTable.forForeignDelta(spark, loc)
    t.delete("id <= 5")
    assert(t.snapshot.files.exists(_.deletionVector.isDefined))
    val df = graft.tables.DeltaLog.toDF(spark, loc).filter(col("id") > 50L).select("id", "s")
    assert(df.count() === 50L)
    val plan = df.queryExecution.executedPlan.toString
    // the user predicate still reaches the parquet reader under the DV filter
    assert(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"),
      s"DV scan lost filter pushdown\n$plan")
    // the DV row filter is codegen'd, not an interpreted barrier: the
    // Filter carrying dvisrowlive must sit inside a `*(n)` codegen stage
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.toLowerCase.contains("dvisrowlive")),
      s"DV filter fell out of codegen\n$plan")
    assert(plan.toLowerCase.contains("dvisrowlive"),
      s"expected the DV filter in the plan\n$plan")
  }

  test("column pruning reaches the scan: q02 reads only needed columns") {
    val plan = planOf("q02_filter_project")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_tax"), s"unexpected column read: $readSchema")
    assert(!readSchema.contains("l_suppkey"), s"unexpected column read: $readSchema")
  }

  test("dimension joins are broadcast, not shuffled (q03, q05)") {
    Seq("q03_top_orders", "q05_local_supplier_volume").foreach { name =>
      val plan = planOf(name)
      assert(plan.contains("BroadcastHashJoin"), s"$name: expected broadcast join\n$plan")
    }
  }

  test("bloom decontamination probes map-side: no shuffle below the prefilter (q86)") {
    val q = graft.SparkEntry.allDefs.find(_.name == "q86_bloom_decontaminate").get
    val exec = q.fn(spark, sf).queryExecution.executedPlan match {
      // AQE's wrapper exposes no children; assert on the inner plan
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // the might_contain filter must sit directly over the file scan — a
    // shuffle between them would mean the corpus moved before pruning
    val filters = exec.collect {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.toString.contains("might_contain") => f
    }
    assert(filters.nonEmpty, s"no might_contain filter in plan\n$exec")
    filters.foreach { f =>
      val shufflesBelow = f.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shufflesBelow.isEmpty,
        s"bloom prefilter has ${shufflesBelow.size} shuffle(s) below it\n$f")
    }
  }

  test("segment dedup keep-first is a partial-aggregating groupBy, not a window (q117)") {
    val q = graft.SparkEntry.allDefs.find(_.name == "q117_segment_dedup").get
    val exec = q.fn(spark, sf).queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // WindowExec has NO partial aggregation: every copy of a hot segment
    // would land in one task. The groupBy form must show a map-side
    // partial min over the segment key instead.
    val windows = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"q117 keep-first regressed to a window\n$exec")
    assert(exec.toString.contains("partial_min"),
      s"q117 keep-first lost map-side partial aggregation\n$exec")
  }

  test("corpus sharding has no global sort and no one-task window (q129)") {
    val q = graft.SparkEntry.allDefs.find(_.name == "q129_corpus_shards").get
    val exec = q.fn(spark, sf).queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // the global rank must come from the two-phase prefix sum: windows
    // may only be partitioned by the bucket id (parallel), never
    // unpartitioned (single-task funnel), and no global SortExec may
    // order the whole corpus
    val windows = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"q129 rank regressed to an unpartitioned window (one-task funnel)\n$exec")
    }
    // global sorts are only allowed over AGGREGATED output (the tiny
    // per-shard summary), never the raw corpus: every global SortExec
    // must have an aggregate somewhere beneath it
    val globalSorts = exec.collect {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }
    globalSorts.foreach { s =>
      val aggsBelow = s.collect {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      }
      assert(aggsBelow.nonEmpty, s"q129 globally sorts unaggregated corpus rows\n$exec")
    }
  }

  test("classifier scoring is one generate pass: no shuffle below the aggregation (q132)") {
    import org.apache.spark.sql.functions.col
    val d = graft.queries.Tables.documents(spark, sf)
    val scored = d.select(col("doc_id"),
      graft.functions.TextNativeFunctions.classifierScore(col("text"))
        .as(Seq("n_tokens", "raw_score", "score", "keep")))
    val exec = scored.queryExecution.executedPlan
    val exchanges = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty,
      s"classifier scoring must be map-only (no shuffle)\n$exec")
    val generates = exec.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(generates.size == 1,
      s"expected exactly one fused generate pass, got ${generates.size}\n$exec")
  }

  test("equality-delete paths are hash-joins: no cartesian, no nested loop") {
    import spark.implicits._
    val loc = graft.TestSpark.tmpDir("pq-eqdel") + "/t"
    val t = graft.tables.TxTable.forIceberg(spark, loc)
    t.create((1L to 100L).map(i => (i, s"s$i")).toDF("id", "s"))
    graft.tables.IcebergWriter.equalityDelete(spark, loc, Seq("id"),
      Seq(3L, 5L).toDF("id"))
    // the folded TxTable read (victim scan inside attachDeletes ran on
    // snapshot) and the direct merge-on-read path
    val readPlan = t.toDF.queryExecution.executedPlan.toString
    assert(!readPlan.contains("CartesianProduct"), readPlan)
    val direct = graft.tables.IcebergLog.toDF(spark, loc)
      .queryExecution.executedPlan.toString
    assert(!direct.contains("CartesianProduct"), direct)
    assert(!direct.contains("BroadcastNestedLoopJoin"),
      s"equality-delete anti-join must extract hash keys\n$direct")
    // the changelog's dying-rows semi-join
    val v = t.history.last
    val ch = graft.tables.IcebergLog.tableChanges(spark, loc, v, Some(v))
      .queryExecution.executedPlan.toString
    assert(!ch.contains("CartesianProduct"), ch)
    assert(!ch.contains("BroadcastNestedLoopJoin"),
      s"dying-rows semi-join must extract hash keys\n$ch")
  }

  test("log-backed reads prune files for toDF, SQL and scan on all three logs") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.functions.col
    object Plans extends AdaptiveSparkPlanHelper
    val client = new graft.client.LakehouseClient(spark)
    client.createCatalog("pqprune")
    client.createSchema("pqprune", "s")
    // 10 files with disjoint id ranges: file i holds ids [100i, 100i + 99]
    val data = spark.range(0L, 1000L, 1L, 10).toDF("id")
      .withColumn("v", col("id") * 2)
    /** Files the executed scans read, from their numFiles metrics. */
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      assert(df.collect().map(_.getLong(0)).toSeq == Seq(150L))
      val plan = df.queryExecution.executedPlan
      assert(!plan.toString.contains("InMemoryFileIndex"), s"log read listed files\n$plan")
      val scans = Plans.collect(plan) { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty, s"no file scan\n$plan")
      scans.map(_.metrics("numFiles").value).sum
    }
    Seq(
      ("native", graft.catalog.FileType.DELTA,
        (loc: String) => graft.tables.TxTable.forLocation(spark, loc)),
      ("delta", graft.catalog.FileType.DELTA,
        (loc: String) => graft.tables.TxTable.forForeignDelta(spark, loc)),
      ("iceberg", graft.catalog.FileType.ICEBERG,
        (loc: String) => graft.tables.TxTable.forIceberg(spark, loc))
    ).foreach { case (name, fileType, open) =>
      val loc = graft.TestSpark.tmpDir(s"pq-prune-$name") + "/t"
      val t = open(loc)
      t.create(data)
      assert(t.snapshot.files.size == 10, name)
      client.registerAsTable("pqprune", "s", name, fileType, loc)
      val reads = Seq(
        "toDF" -> t.toDF.filter("id = 150").select("id"),
        "SQL" -> spark.sql(s"SELECT id FROM pqprune.s.$name WHERE id = 150"),
        "scan" -> t.scan("id = 150").select("id"))
      reads.foreach { case (how, df) =>
        assert(filesRead(df) == 1L, s"$name $how read more than the one matching file")
      }
      assert(t.filesAfterPruning("id = 150") == 1, name)
    }
  }

  test("dedup-index batch filtering is equi-join only: no cartesian, no nested loop") {
    import spark.implicits._
    val loc = graft.TestSpark.tmpDir("pq-dedupidx")
    def doc(seed: String) = (1 to 30).map(i => s"$seed t$i w${i % 7}").mkString(" ")
    val corpus = new graft.tables.TxTable(spark, s"$loc/c")
    corpus.create(Seq((1L, doc("alpha")), (2L, doc("beta"))).toDF("doc_id", "text"))
    graft.ext.DedupIndex.refresh(corpus, s"$loc/i")
    val out = graft.ext.DedupIndex.filterNew(corpus, s"$loc/i",
      Seq((10L, doc("alpha")), (11L, doc("zeta"))).toDF("doc_id", "text"))
    val plan = out.queryExecution.executedPlan.toString
    // candidate generation MUST be the (band, bucket) equi-join — a
    // cartesian/nested-loop anywhere means O(batch x corpus) at scale
    assert(!plan.contains("CartesianProduct"), s"cartesian in filterNew\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in filterNew\n$plan")
  }

  test("incremental MV refresh folds only the appended files, not the source") {
    import spark.implicits._
    val loc = graft.TestSpark.tmpDir("pq-mv")
    val src = new graft.tables.TxTable(spark, s"$loc/src")
    src.create(Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v"))
    graft.tables.IncrementalView.refresh(src, s"$loc/mv", Seq("k"), Seq("v"))
    val before = src.snapshot.files.map(_.path).toSet
    src.append(Seq(("c", 3.0)).toDF("k", "v"))
    val newFiles = src.snapshot.files.map(_.path).filterNot(before.contains)
    // the delta the refresh aggregates is exactly the appended files —
    // the O(changed-rows) claim, pinned at the scan level
    val view = graft.tables.TxTable.forLocation(spark, s"$loc/mv")
    val appId = "graft-mv-" + java.util.UUID.nameUUIDFromBytes(
      src.location.getBytes("UTF-8")).toString
    val from = view.latestTxnVersion(appId).get
    val delta = src.changesSince(from, Some(src.version))
    val scanned = delta.inputFiles.map(p => new java.net.URI(p).getPath).toSet
    assert(scanned.map(p => p.substring(p.lastIndexOf('/') + 1)) ==
      newFiles.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet,
      s"refresh delta scans ${scanned.size} file(s), appended ${newFiles.size}")
  }

  test("aggregations use partial (map-side) aggregation (q01)") {
    val plan = planOf("q01_pricing_summary")
    // two HashAggregate levels around the exchange = partial + final
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
  }

  test("whole-stage codegen covers the scan pipeline (q02)") {
    // q02 has no AQE re-plan (scan+filter+project), so codegen spans are
    // visible pre-execution; q01's pre-execution plan hides them behind
    // AdaptiveSparkPlan isFinalPlan=false
    val plan = planOf("q02_filter_project")
    // the simple plan string marks codegen stages with "*(n)"
    assert(plan.contains("*(1)"), plan)
  }

  // ---- property-style tests over the pure logic ----

  private val primitiveGen: Gen[UcType] = Gen.oneOf(
    UcType.BooleanT, UcType.ByteT, UcType.ShortT, UcType.IntT, UcType.LongT,
    UcType.FloatT, UcType.DoubleT, UcType.DateT, UcType.TimestampT,
    UcType.TimestampNtzT, UcType.StringT, UcType.BinaryT)

  private val ucTypeGen: Gen[UcType] = Gen.frequency(
    8 -> primitiveGen,
    2 -> (for { p <- Gen.choose(1, 38); s <- Gen.choose(0, 10).map(math.min(_, p)) } yield UcType.DecimalT(p, s)),
    1 -> primitiveGen.map(UcType.ArrayT(_)),
    1 -> Gen.zip(primitiveGen, primitiveGen).map { case (k, v) => UcType.MapT(k, v) })

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(i.toLong)))

  test("property: UC->Spark->UC type round-trip is the identity (200 samples)") {
    samples(ucTypeGen, 200).foreach { t =>
      assert(UcType.fromSpark(UcType.toSpark(t)) == t, s"round-trip of $t")
    }
  }

  test("property: schema equality is reflexive, nullability-insensitive, order-sensitive") {
    import org.apache.spark.sql.types._
    val fieldGen = for {
      n <- Gen.identifier.map(_.take(8))
      t <- primitiveGen
      nullable <- Gen.oneOf(true, false)
    } yield StructField(n, UcType.toSpark(t), nullable)
    val schemaGen = Gen.listOfN(4, fieldGen).map(fs => StructType(fs.distinctBy(_.name)))
    samples(schemaGen, 100).foreach { s =>
      assert(SchemaEquality.equal(s, s))
      val flipped = StructType(s.fields.map(f => f.copy(nullable = !f.nullable)))
      assert(SchemaEquality.equal(s, flipped))
      val renamed = StructType(s.fields.zipWithIndex.map { case (f, i) => f.copy(name = f.name + s"_x$i") })
      if (s.fields.nonEmpty) assert(!SchemaEquality.equal(s, renamed))
    }
  }
}
