package graft.tables

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.GraftColumnBridge.{toCol, toExpr}

import graft.catalog.UnsupportedOperationError
import graft.functions.{BloomFunctions, BloomHash}

/** Per-file Bloom-filter file-skipping index — point-lookup pruning on
  * NON-partition columns (Delta's "bloom filter index" feature shape;
  * the reference's Delta tables inherit the idea from the protocol's
  * per-file stats story, uchelper/dataframe.py scan paths).
  *
  * Why this exists at 100 TB: min/max stats prune range predicates but
  * are useless for point lookups on high-cardinality unclustered
  * columns (a GDPR id probe, a dedup-key check, a "which shard holds
  * doc X" query) — every file's [min,max] straddles every key. A
  * per-file Bloom filter answers "provably not in this file" for
  * equality/IN predicates, so the scan reads the handful of files that
  * MIGHT hold the key instead of all of them.
  *
  * Relation to the parquet-footer blooms (`graft.bloomFilter.columns`,
  * TxLog.writerOptions): those are split-block filters INSIDE each
  * file, consulted per row group after the reader has already opened
  * the file — a task per file, a footer fetch per file. This index
  * prunes at MANIFEST level: with 10^5 files, a point lookup launches
  * tasks for the few possible files instead of 10^5 file opens. The
  * two compose — the sidecar picks the files, the footer blooms skip
  * row groups inside them.
  *
  * Design:
  *  - The index is a parquet SIDECAR dataset under
  *    `<table>/_graft_index/bloom/` with one row per (data file,
  *    indexed column): `file` (the log's AddFile.path), `col` (LOGICAL
  *    name), `k` (hash count), `bits` (the filter, little-endian).
  *    It is NOT transactional with the table and never needs to be:
  *    Bloom filters have false positives only, so a missing/stale row
  *    merely skips pruning for that file, never wrong results. That
  *    one-sidedness is what makes lazy (nightly / per-ingest-batch)
  *    maintenance sound.
  *  - `refresh` is incremental: it builds filters ONLY for live
  *    (file, column) pairs the sidecar lacks — O(new files) per run,
  *    one distributed scan reading just the indexed columns
  *    (column-pruned), one hash aggregate keyed by file, filters
  *    written straight from executors (never collected to the driver).
  *  - Probing is a distributed job over the sidecar: rows whose filter
  *    PROVES absence surface just their file names to the driver —
  *    driver residency is O(pruned file names), the same order as the
  *    snapshot manifest it already holds, never O(index bytes).
  *  - Stale rows (rewritten/vacuumed files) are ignored by
  *    construction: pruning subtracts proven-absent files from the
  *    snapshot's live list, so rows for dead files never match, and a
  *    path is never reused by any of the log formats.
  *
  * Backends: all three logs. Foreign Delta resolves column-mapped
  * physical names at build time; Iceberg and native read by plain
  * name, which is SOUND because indexed-column names are pinned for
  * the table's life: `enable` refuses an Iceberg table whose schema
  * history already contains a rename (an old file could bind the
  * indexed name to a different field id), and
  * `TxTable.checkNotReferenced` refuses renaming/dropping an indexed
  * column afterwards — so the (file, logical name) sidecar key can
  * never silently re-bind to different data. `disable` lifts the pin
  * and removes the sidecar.
  *
  * Indexable types: integral + string (the equality-lookup types).
  * Values are hashed by their Spark `CAST(col AS STRING)` rendering,
  * which for these types is engine-portable and trivially matched on
  * the probe side from the predicate's literals.
  */
object BloomIndex {
  val ColumnsProp = "graft.bloomIndex.columns"
  val FppProp = "graft.bloomIndex.fpp"
  val MaxBitsProp = "graft.bloomIndex.maxBits"

  /** Reserved sidecar root (vacuum must never touch it). */
  val IndexRoot = "_graft_index"
  private val Dir = s"$IndexRoot/bloom"

  private val DefaultFpp = 0.01
  private val DefaultMaxBits = 1 << 23 // 1 MiB per (file, column)
  /** Only compact leftovers OLDER than this are swept — a younger
    * .compact-/.old- dir may be a concurrent compact's live state.
    * Overridable for tests (sweeping is time-based by design). */
  private[tables] var SweepAgeMs: Long = 60L * 60L * 1000L
  private val DefaultRowsPerFile = 1L << 20 // sizing fallback for stat-less files

  /** Above this many live (file, column) pairs, `refresh` probes the
    * sidecar with an executor-side anti-join instead of collecting the
    * existing key set to the driver. */
  val CollectThresholdConf = "spark.graft.bloomIndex.collectThreshold"
  private val DefaultCollectThreshold = 1L << 16

  private val sidecarSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("col", StringType, nullable = false),
    StructField("k", IntegerType, nullable = false),
    StructField("bits", BinaryType, nullable = false)))

  private def indexDir(location: String) = s"$location/$Dir"

  private def indexedColumns(props: Map[String, String]): Seq[String] =
    props.get(ColumnsProp).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)

  private def supportedType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  /** Declare the index (table properties) and build it for the current
    * snapshot. Fails fast on partition columns (already pruned via
    * partition values), unsupported types, and Iceberg tables.
    */
  def enable(table: TxTable, columns: Seq[String], fpp: Double = DefaultFpp,
      maxBits: Int = DefaultMaxBits): Unit = {
    require(columns.nonEmpty, "bloom index: at least one column required")
    require(fpp > 0 && fpp < 1, s"bloom index: fpp must be in (0,1), got $fpp")
    if (table.log == IcebergCommitLog && IcebergLog.hasRenamedHistory(table.spark, table.location))
      throw UnsupportedOperationError(
        "bloom index: this Iceberg table's schema history contains a column rename, " +
          "so a historical file may bind an indexed name to different data; " +
          "rewrite (CoW compact) the table first")
    val snap = table.snapshot
    val fields = snap.schema.fields.map(f => f.name -> f).toMap
    columns.foreach { c =>
      val f = fields.getOrElse(c, throw UnsupportedOperationError(
        s"bloom index: column $c not found in ${snap.schema.fieldNames.mkString(", ")}"))
      if (snap.partitionColumns.contains(c))
        throw UnsupportedOperationError(
          s"bloom index: $c is a partition column (already pruned via partition values)")
      if (!supportedType(f.dataType))
        throw UnsupportedOperationError(
          s"bloom index: $c has type ${f.dataType.simpleString}; " +
            "only integral and string columns are indexable")
    }
    table.setProperties(Map(
      ColumnsProp -> columns.mkString(","),
      FppProp -> fpp.toString,
      MaxBitsProp -> maxBits.toString))
    refresh(table)
  }

  /** Drop the index: clears the declaring properties (one metadata
    * commit — lookups stop consulting the sidecar immediately) and
    * deletes the sidecar dataset. Lifts the rename/drop pin on the
    * previously indexed columns.
    */
  def disable(table: TxTable): Unit = {
    table.setProperties(Map(
      ColumnsProp -> null, FppProp -> null, MaxBitsProp -> null))
    val dir = new org.apache.hadoop.fs.Path(indexDir(table.location))
    val fs = TxLog.fs(table.spark, table.location)
    if (fs.exists(dir)) { fs.delete(dir, true); () }
  }

  /** Rewrite the sidecar keeping only rows for LIVE data files; returns
    * rows dropped. Dead rows (files retired by OPTIMIZE / overwrite /
    * vacuum) never affect correctness — pruning subtracts from the live
    * list — but they grow the sidecar and the probe scan without bound
    * on a long-lived compacted table. The rewrite is executor-side (a
    * semi-join against the metadata-sized live path list) and, like the
    * sidecar itself, non-transactional: a probe racing the swap sees a
    * missing/partial sidecar and simply skips pruning — never wrong
    * results. `refresh` calls this automatically once dead rows exceed
    * live ones, so periodic REFRESH keeps the index both complete and
    * bounded.
    */
  def compact(table: TxTable): Long = {
    val spark = table.spark
    val dirStr = indexDir(table.location)
    val dir = new org.apache.hadoop.fs.Path(dirStr)
    val fs = TxLog.fs(spark, table.location)
    // sweep temp/aside dirs leaked by a CRASHED previous compact —
    // nothing else ever reads them, so this is the one cleanup point.
    // Age-gated on the CREATION stamp embedded in the dir NAME: a dir
    // younger than the window may belong to a compact still RUNNING
    // concurrently (deleting its live tmp, or its aside mid-swap,
    // could leave no sidecar at all — a silent full-index rebuild).
    // The mtime alone cannot gate the aside: rename PRESERVES the
    // source dir's (old) mtime, so a just-created aside would look
    // hours old the instant it appears. Legacy stamps without a
    // millis prefix fall back to mtime.
    val parent = dir.getParent
    if (parent != null && fs.exists(parent)) {
      val cutoff = System.currentTimeMillis() - SweepAgeMs
      fs.listStatus(parent).foreach { st =>
        val n = st.getPath.getName
        val prefixes = Seq(dir.getName + ".compact-", dir.getName + ".old-")
        prefixes.find(n.startsWith).foreach { pre =>
          val born = n.stripPrefix(pre).takeWhile(_.isDigit) match {
            case ds if ds.length >= 12 => ds.toLongOption
            case _ => None
          }
          // .old- asides trust the NAME stamp alone (rename preserves
          // the source's ancient mtime — the original bug). A .compact-
          // tmp being actively WRITTEN by a slow concurrent compact has
          // an old name stamp but a fresh mtime: gate it on
          // max(stamp, mtime) so in-progress work isn't reaped
          val age =
            if (n.startsWith(dir.getName + ".compact-"))
              math.max(born.getOrElse(Long.MinValue), st.getModificationTime)
            else born.getOrElse(st.getModificationTime)
          if (age < cutoff) {
            fs.delete(st.getPath, true); ()
          }
        }
      }
    }
    if (!fs.exists(dir)) return 0L
    val side = spark.read.schema(sidecarSchema).parquet(dirStr)
    val live = spark.createDataFrame(
      spark.sparkContext.parallelize(table.snapshot.files.map(f => Row(f.path)), 32),
      StructType(Seq(StructField("file", StringType, nullable = false))))
    val total = side.count()
    // millis-prefixed stamp: the sweep's age gate reads creation time
    // from the NAME (rename preserves mtime, so mtime can't be trusted)
    val stamp = System.currentTimeMillis().toString + "-" +
      java.util.UUID.randomUUID().toString.take(8)
    val tmp = new org.apache.hadoop.fs.Path(dirStr + ".compact-" + stamp)
    side.join(broadcast(live), Seq("file"), "left_semi")
      .write.parquet(tmp.toString)
    val kept = spark.read.parquet(tmp.toString).count()
    if (kept == total) { fs.delete(tmp, true); return 0L }
    // swap via rename-ASIDE (each rename is atomic, so the no-sidecar
    // window is narrowed to the instant BETWEEN the two renames — a
    // crash exactly there leaves no sidecar and the next refresh pays a
    // full rebuild: a perf loss, never a correctness one); the aside
    // dir is garbage the next age-gated sweep reclaims
    val aside = new org.apache.hadoop.fs.Path(dirStr + ".old-" + stamp)
    if (!fs.rename(dir, aside)) { fs.delete(tmp, true); return 0L }
    if (!fs.rename(tmp, dir)) {
      // restore the original rather than leave no sidecar at all
      fs.rename(aside, dir); fs.delete(tmp, true); return 0L
    }
    fs.delete(aside, true)
    total - kept
  }

  /** Build filters for live (file, column) pairs missing from the
    * sidecar. Returns the number of pairs built (0 = index current).
    * Also compacts away dead-file rows once they outnumber live ones
    * (see [[compact]]), so refresh is the ONE maintenance entry point.
    */
  def refresh(table: TxTable): Int = {
    val spark = table.spark
    val snap = table.snapshot
    val cols = indexedColumns(snap.properties)
    if (cols.isEmpty) return 0
    val fpp = snap.properties.get(FppProp).map(_.toDouble).getOrElse(DefaultFpp)
    val maxBits = snap.properties.get(MaxBitsProp).map(_.toInt).getOrElse(DefaultMaxBits)

    val dir = indexDir(table.location)
    val fs = TxLog.fs(spark, table.location)
    // Which live (file, column) pairs does the sidecar lack? Small
    // indexes answer with a driver-side key-set collect; past
    // `collectThreshold` pairs the probe flips to an executor-side
    // anti-join — the driver ships the O(files) path list it ALREADY
    // holds (the snapshot) and only the MISSING pairs come back, so
    // driver residency stays O(new files) even at 10^6 files × many
    // indexed columns.
    val threshold = spark.conf.getOption(CollectThresholdConf)
      .map(_.toLong).getOrElse(DefaultCollectThreshold)
    // a provably EMPTY file (rows == 0) needs no sidecar row: the scan
    // of it yields no groups, so a "missing" pair could never be built
    // and refresh would re-attempt it forever; unknown row counts
    // (rows < 0, stat-less foreign files) still index
    val indexable = snap.files.filter(_.rows != 0L)
    val livePaths = snap.files.map(_.path).toSet
    // deadPairs rides along for the lazy-compaction decision below
    val (missingFor, deadPairs): (Map[String, Set[String]], Long) =
      if (!fs.exists(new org.apache.hadoop.fs.Path(dir)))
        (indexable.map(f => f.path -> cols.toSet).toMap, 0L)
      else if (indexable.size.toLong * cols.size <= threshold) {
        val existing = spark.read.schema(sidecarSchema).parquet(dir)
          .select("file", "col").distinct().collect()
          .map(r => (r.getString(0), r.getString(1))).toSet
        (indexable.iterator
          .map(f => f.path -> cols.filterNot(c => existing((f.path, c))).toSet)
          .filter(_._2.nonEmpty).toMap,
          existing.iterator.count { case (f, _) => !livePaths(f) }.toLong)
      } else {
        val side = spark.read.schema(sidecarSchema).parquet(dir)
          .select("file", "col")
        val cand = spark.createDataFrame(
          spark.sparkContext.parallelize(indexable.map(f => Row(f.path)), 32),
          StructType(Seq(StructField("file", StringType, nullable = false))))
        val missing = cand.withColumn("col", explode(typedLit(cols)))
          .join(side, Seq("file", "col"), "left_anti")
          .collect().groupBy(_.getString(0))
          .map { case (p, rows) => p -> rows.map(_.getString(1)).toSet }
        val dead = side.join(broadcast(cand), Seq("file"), "left_anti").count()
        (missing, dead)
      }

    // group files by the column subset they still need — normally ONE
    // group (new files missing every indexed column); a second appears
    // transiently after a column is added to the index
    val missingByFile: Seq[(TxLog.AddFile, Seq[String])] = indexable
      .flatMap { f =>
        val m = missingFor.getOrElse(f.path, Set.empty)
        if (m.isEmpty) None else Some(f -> cols.filter(m.contains))
      }
    // lazy hygiene: once dead-file rows outnumber the live pair count,
    // rewrite the sidecar live-only (correctness is unaffected either
    // way — this bounds sidecar size and probe cost)
    def maybeCompact(): Unit =
      if (deadPairs > indexable.size.toLong * cols.size) { compact(table); () }
    if (missingByFile.isEmpty) { maybeCompact(); return 0 }
    val mapping = DeltaLog.columnMappingOf(snap.schema) // logical -> physical (empty = identity)
    val typeOf = snap.schema.fields.map(f => f.name -> f.dataType).toMap

    missingByFile.groupBy(_._2).foreach { case (groupCols, entries) =>
      val files = entries.map(_._1)
      val (numBits, k) = BloomHash.sizing(
        files.map(f => if (f.rows >= 0) f.rows else DefaultRowsPerFile).max, fpp, maxBits)
      val phys = groupCols.map(c => c -> mapping.getOrElse(c, c))
      // physical read schema, metadata stripped so resolution is purely
      // by name (these are data columns; partition columns are refused
      // at enable, so no basePath discovery is needed)
      val readSchema = StructType(phys.map { case (c, p) => StructField(p, typeOf(c)) })
      val paths = files.map(f => TxLog.resolve(table.location, f.path))
      val norm = toCol(NormalizedPath(toExpr(col("_metadata.file_path"))))
      val agg = spark.read.schema(readSchema).parquet(paths: _*)
        .select(norm.as("__file") +:
          phys.map { case (c, p) => col(s"`$p`").cast(StringType).as(c) }: _*)
        .groupBy(col("__file"))
        .agg(BloomFunctions.bloomAgg(col(s"`${groupCols.head}`"), numBits, k)
            .as(groupCols.head),
          groupCols.tail.map(c =>
            BloomFunctions.bloomAgg(col(s"`$c`"), numBits, k).as(c)): _*)
      // map the scan's URI form back to the log's AddFile.path (the
      // sidecar key) via a broadcast lookup — same URI-normalization
      // contract as TxMerge
      val lookupRows = files.map { f =>
        val encoded = new org.apache.hadoop.fs.Path(
          TxLog.resolve(table.location, f.path)).toUri.toString
        Row(DeletionVectors.normalizedUri(encoded), f.path)
      }
      val lookup = spark.createDataFrame(
        spark.sparkContext.parallelize(lookupRows, 1),
        StructType(Seq(StructField("__file", StringType), StructField("file", StringType))))
      agg.join(broadcast(lookup), Seq("__file"), "inner")
        .select(col("file"),
          explode(array(groupCols.map(c =>
            struct(lit(c).as("col"), col(s"`$c`").as("bits"))): _*)).as("e"))
        .select(col("file"), col("e.col").as("col"), lit(k).as("k"), col("e.bits").as("bits"))
        .write.mode("append").parquet(dir)
    }
    maybeCompact()
    missingByFile.map(_._2.size).sum
  }

  /** Files of `candidates` NOT provably absent for the filters'
    * top-level equality/IN conjuncts on indexed columns. Purely
    * subtractive on top of stats pruning; no index / no usable conjunct
    * → `candidates` unchanged.
    */
  def prune(spark: SparkSession, location: String, snap: TxLog.Snapshot,
      candidates: Seq[TxLog.AddFile],
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Seq[TxLog.AddFile] = {
    val cols = indexedColumns(snap.properties)
    if (cols.isEmpty || candidates.isEmpty) return candidates
    val lookups = equalityLookups(filters, cols)
    if (lookups.isEmpty) return candidates
    val dir = indexDir(location)
    if (!TxLog.fs(spark, location).exists(new org.apache.hadoop.fs.Path(dir)))
      return candidates

    val sidecar = spark.read.schema(sidecarSchema).parquet(dir)
    val absent: Set[String] = lookups.flatMap { case (colName, keys) =>
      val hashes = array(keys.map { s =>
        val (h1, h2) = BloomHash.hashPair(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        struct(lit(h1).as("h1"), lit(h2).as("h2"))
      }: _*)
      sidecar.filter(col("col") === lit(colName))
        .filter(!BloomFunctions.bloomMightContain(col("bits"), col("k"), hashes))
        .select("file").distinct().collect().map(_.getString(0))
    }.toSet
    if (absent.isEmpty) candidates else candidates.filterNot(f => absent.contains(f.path))
  }

  /** Top-level AND conjuncts of shape `col = lit` / `lit = col` /
    * `col IN (lits)` on an indexed column, parsed or resolved, as
    * (indexed column name, probe key renderings). Keys render exactly
    * as the build side's `CAST(col AS STRING)` for the indexable types;
    * anything else is skipped (no pruning, never wrong pruning).
    */
  private def equalityLookups(filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      indexed: Seq[String]): Seq[(String, Seq[String])] = {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualNullSafe,
      EqualTo, Expression, In, InSet, Literal}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    def attrName(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute if a.nameParts.length == 1 =>
        indexed.find(_.equalsIgnoreCase(a.nameParts.head))
      case a: AttributeReference => indexed.find(_.equalsIgnoreCase(a.name))
      case _ => None
    }
    def render(v: Any, dt: DataType): Option[String] = (v, dt) match {
      case (null, _) => None
      case (v, ByteType | ShortType | IntegerType | LongType | StringType) => Some(v.toString)
      case _ => None
    }
    // every IN key must render, else the conjunct can't prune (a
    // non-renderable key might be the one a file holds)
    def all(n: String, keys: Seq[Option[String]]) =
      if (keys.nonEmpty && keys.forall(_.isDefined)) Some(n -> keys.map(_.get)) else None
    filters.flatMap(split).flatMap {
      case EqualTo(a, l: Literal) =>
        for (n <- attrName(a); s <- render(l.value, l.dataType)) yield n -> Seq(s)
      case EqualTo(l: Literal, a) =>
        for (n <- attrName(a); s <- render(l.value, l.dataType)) yield n -> Seq(s)
      case EqualNullSafe(a, l: Literal) =>
        for (n <- attrName(a); s <- render(l.value, l.dataType)) yield n -> Seq(s)
      case In(a, list) if list.forall(_.isInstanceOf[Literal]) =>
        attrName(a).flatMap(n => all(n, list.map { case l: Literal => render(l.value, l.dataType) }))
      case InSet(a, set) =>
        attrName(a).flatMap(n => all(n, set.toSeq.map(render(_, a.dataType))))
      case _ => None
    }
  }
}
