package graft.tables

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.catalog.UnsupportedOperationError

/** ANALYZE TABLE — persisted, incrementally-maintained per-column
  * statistics.
  *
  * One scan computes a KMV distinct-count sketch per requested column
  * (all columns in the same pass — column-pruned, map-side combined,
  * k longs per partial) plus exact integral sums, and stamps them into
  * table properties:
  *
  *   graft.stats.ndv.<col>   = the NDV estimate (long; EXACT when the
  *                             column's distinct count is below k)
  *   graft.stats.kmv.<col>   = the SKETCH itself (base64 of the sorted
  *                             shifted hashes, ~8 bytes/entry) — what
  *                             makes the stat MAINTAINABLE: sketches
  *                             merge exactly, scalars don't
  *   graft.stats.sum.<col>   = exact SUM as a decimal string
  *   graft.stats.fingerprint = a hash of the analyzed snapshot's
  *                             (path, dvCardinality) set + schema shape
  *
  * The fingerprint is what makes CONSUMING the stats sound: a reader
  * (the `APPROX_COUNT_DISTINCT`/`SUM` metadata-only rewrites, the
  * planner-statistics surface, a dashboard) recomputes the fingerprint
  * from the CURRENT snapshot — O(metadata) — and uses the stats only on
  * exact match. Any commit that changes visible rows or the schema
  * shape silently invalidates; property-only commits (including the
  * stamping commit itself) don't touch it. Stale stats are never
  * silently served. The schema shape rides in the fingerprint because
  * metadata-only column DDL (DROP COLUMN c; ADD COLUMN c) can reuse a
  * name WITHOUT changing the file set — a file-only fingerprint would
  * re-validate the old column's stats for the new one.
  *
  * INCREMENTAL MAINTENANCE (the 100 TB production path): a COPY
  * INTO-fed table appends nightly, and a point-in-time stamp would die
  * on the first drop, forcing a full re-scan ANALYZE each morning.
  * Instead, every APPEND to a freshly-stamped table FOLDS the batch in
  * ([[foldAppend]], hooked from TxTable's append paths): one
  * column-pruned aggregate over JUST the appended files (data the
  * writer has hot anyway) merges the batch's sketch into the stamped
  * sketch — exact for KMV: the k smallest hashes of a union are the
  * k smallest of the parts' k-smallest — and adds the batch's sum, then
  * restamps under the post-commit fingerprint. Since round 14 a
  * provable DELETE folds too ([[foldDelete]]: SUM subtracts, extremes
  * survive unless a removed row ties them, sketches honestly unset),
  * so stats stay scan-free across the whole append-mostly +
  * retention-delete lifecycle at O(batch)/O(touched) maintenance cost,
  * while updates/overwrites (value deltas are never derivable) and
  * compaction-free rewrites still invalidate. A fold that fails or
  * loses a race degrades to a stale stamp — never a wrong answer.
  *
  * Why NDV at 100 TB: distinct counts drive join-strategy and
  * aggregation-sizing decisions, and "how many distinct users/URLs does
  * this table hold" is a permanent dashboard fixture — one ANALYZE scan
  * amortizes over every later metadata-only answer.
  */
object ColumnStats {
  val NdvPropPrefix = "graft.stats.ndv."
  /** The persisted KMV sketch per analyzed column (base64 longs). */
  val KmvPropPrefix = "graft.stats.kmv."
  /** Exact column SUM (integral columns only), stamped by the same
    * ANALYZE scan as a decimal string ("null" for an empty or all-null
    * column, where SQL SUM answers NULL). Same fingerprint freshness
    * rule as NDV: any non-append data commit silently invalidates. */
  val SumPropPrefix = "graft.stats.sum."
  /** EXACT column extremes from the same one ANALYZE scan, for every
    * orderable type — including the ones per-file footer stats can
    * NEVER soundly serve (strings truncate, floats have NaN/-0.0
    * hazards): the scan computes the true MIN/MAX with Spark's own
    * ordering, so there is nothing to distrust. Encoded "n" for SQL
    * NULL (empty/all-null) else "v" + a type-faithful rendering;
    * appends fold (min/max merge exactly); a delete keeps the pair
    * only when PROVABLY untouched (no removed row ties an extreme). */
  val MinPropPrefix = "graft.stats.min."
  val MaxPropPrefix = "graft.stats.max."
  /** Exact NON-NULL count per analyzed column (decimal string). Folds
    * both ways (appends add, provable deletes subtract) and is what
    * makes two things decidable from the stamp alone: SUM's SQL
    * NULL-vs-0 boundary after a delete (zero non-null values remaining
    * → NULL), and the planner's CatalogColumnStat.nullCount
    * (rowCount − cnt). Absent on pre-r14 stamps — every consumer
    * treats absence as "unknown", never as zero. */
  val CntPropPrefix = "graft.stats.cnt."
  /** Exact Σx² per integral column (decimal string), the second moment
    * that closes the stats family over AVG and VAR/STDDEV: with cnt and
    * sum it derives `VAR_POP/VAR_SAMP/STDDEV_*` EXACTLY ((n·Σx² − Σx²ᵉ)
    * over the exact integers, rounded once at the end — at least as
    * accurate as any scan's streaming accumulation). Folds both ways
    * like SUM (appends add, provable deletes subtract). "null" = no
    * non-null value; "of" = the scan's decimal(38,0) accumulation
    * overflowed — kept (not dropped) so the stamp's shape survives, but
    * never servable. Absent on older stamps — consumers treat absence
    * as "unknown". */
  val SqPropPrefix = "graft.stats.sq."
  /** Serialized quantile sketch per NUMERIC column (base64 of Spark's
    * own Greenwald-Khanna `QuantileSummaries`, rank error
    * [[QuantileEps]]) — `APPROX_PERCENTILE(col, p, accuracy)` serves
    * scan-free while fresh whenever the CALL's tolerance is no tighter
    * than the stamp's (1/accuracy ≥ ε, i.e. accuracy ≤ 1/ε). Appends
    * FOLD by sketch merge (the same compress+merge step Spark's own
    * partial-aggregate tree runs); deletes honestly unset (a quantile
    * summary cannot un-see values). Space is O((1/ε)·log(εn));
    * [[QsByteCap]] unsets a column's sketch rather than let a table
    * property balloon — self-limiting, stale-never-wrong. */
  val QsPropPrefix = "graft.stats.qs."
  /** Stamped rank error: 1% — `accuracy ≤ 100` calls serve. ~40 KB per
    * column at 10¹² rows (log growth), the KMV sketch's neighborhood. */
  val QuantileEps = 0.01
  /** Raw serialized-size cap per column sketch (base64 adds 4/3). */
  val QsByteCap = 131072
  /** Per-PARTITION KMV sketches (partitioned tables only, bounded by
    * [[MaxStampedPartitions]]): pvals holds the ordered JSON list of
    * stamped partition tuples, pkmv.<col>.<i> the sketch of column
    * <col> restricted to tuple i. What makes APPROX_COUNT_DISTINCT
    * absorbable under a partition-only WHERE: KMV sketches merge
    * exactly, so the surviving partitions' sketches recombine into the
    * filtered answer at O(#partitions × k) driver cost. */
  /** Every per-COLUMN table-wide key family (the per-tuple layer's
    * families live in [[PerTuplePrefixes]]) — the set a partial
    * re-ANALYZE sweeps: restamped columns replaced wholesale, other
    * columns kept iff the existing stamp is fresh at this snapshot. */
  private val TableWidePrefixes = Seq(NdvPropPrefix, KmvPropPrefix,
    SumPropPrefix, MinPropPrefix, MaxPropPrefix, CntPropPrefix,
    SqPropPrefix, QsPropPrefix)

  val PkmvPropPrefix = "graft.stats.pkmv."
  /** Per-partition SCALARS, same pvals index space as the sketches but
    * bytes-tiny (a decimal string / an encoded extreme per cell vs the
    * sketch's ~22 KB): exact SUM (integral columns, [[PsumPropPrefix]]),
    * exact non-null COUNT ([[PcntPropPrefix]]), exact MIN/MAX
    * ([[PminPropPrefix]]/[[PmaxPropPrefix]], "n"/"v" encoding). What
    * they buy at 100 TB: grouped/filtered SUM and footer-refused
    * MIN/MAX (strings, floats) answer per partition scan-free, and a
    * pure partition-drop DELETE re-derives the TABLE-WIDE stats by
    * recombining the survivors — the retention delete becomes fully
    * metadata-only (zero data read). */
  val PsumPropPrefix = "graft.stats.psum."
  val PcntPropPrefix = "graft.stats.pcnt."
  val PminPropPrefix = "graft.stats.pmin."
  val PmaxPropPrefix = "graft.stats.pmax."
  /** Per-tuple Σx² ([[SqPropPrefix]] semantics per partition cell) —
    * grouped/filtered AVG and VAR/STDDEV under the absorbed predicate
    * family, and the drop-delete recombination of the table-wide sq. */
  val PsqPropPrefix = "graft.stats.psq."
  /** Per-tuple quantile digest ([[QsPropPrefix]] semantics per
    * partition cell, but at the coarser [[PartitionQuantileEps]] so
    * #tuples × #columns cells stay affordable): filtered and grouped
    * `APPROX_PERCENTILE ... WHERE day >= d` serve by merging the
    * surviving tuples' digests — quantile summaries of DISJOINT row
    * sets merge exactly like the append fold — and a pure partition
    * DROP re-derives the TABLE-WIDE digest from the survivors (served
    * under the digest's own recorded ε, so the coarser rebuild can
    * never over-promise). Stamped only within [[MaxPartitionQsCells]];
    * past the budget the sub-layer is simply absent (scan). */
  val PqsPropPrefix = "graft.stats.pqs."
  val PartitionQuantileEps = 0.02
  val MaxPartitionQsCells = 48
  val PvalsProp = "graft.stats.pvals"
  /** SIDECAR pointer: past the inline property caps the whole per-tuple
    * layer (pvals + pk + every cell) moves to ONE JSON file under
    * `<table>/_graft_stats/`, and properties keep only this relative
    * file name. The stamp's fingerprint binds the pointer exactly like
    * inline cells (pointer and fingerprint commit atomically), so
    * freshness semantics are unchanged; an unreadable/swept sidecar
    * degrades to "layer absent" — scan, never wrong. This is what lets
    * a day-partitioned table with 365+ partitions keep the filtered
    * serves and the metadata-only retention drop: table properties ride
    * every commit and must stay small, a sidecar file doesn't. */
  val PsidecarProp = "graft.stats.psidecar"
  /** Sidecar budgets: tuples beyond [[MaxStampedPartitions]] up to this
    * cap, with the KMV cells' RAW bytes held under
    * [[SidecarKmvBytes]] by shrinking the layer's sketch k (adaptive,
    * recorded in [[PkProp]]; k=512 at 365 tuples × 4 columns — ~4.4%
    * NDV error, inside Spark's own 5% approx default) and the quantile
    * cells under [[SidecarQsBytes]] (past it just the qs sub-layer
    * drops). The whole file stays ≤ ~20 MB so one plan-time read —
    * memoized per rewrite pass — stays sub-second. */
  val MaxSidecarPartitions = 4096
  val SidecarKmvBytes: Long = 8L << 20
  val SidecarQsBytes: Long = 8L << 20
  /** Which layer families the LAST storeLayer dropped for budget
    * ("qs" today; "layer" when the whole per-tuple layer outgrew every
    * budget) — pure inspection surface for SHOW STATISTICS, so a user
    * can see WHY a partition-filtered percentile scans while everything
    * else serves. Unset when nothing was dropped. */
  val LayerDroppedProp = "graft.stats.layer.dropped"
  /** Candidate sketch sizes for the sidecar layer, largest preferred;
    * below 256 the NDV error (~6%) stops being worth the bytes. */
  val SidecarKs = Seq(2048, 1024, 512, 256)
  /** Age (name-embedded creation millis) past which a NON-pointed
    * sidecar file is swept by the next sidecar write. */
  val SidecarSweepAgeMs: Long = 60L * 60 * 1000

  /** Every per-tuple prefix of the partition layer (key shape
    * `<prefix><col>.<tupleIndex>`). */
  private val PerTuplePrefixes =
    Seq(PkmvPropPrefix, PsumPropPrefix, PcntPropPrefix, PminPropPrefix,
      PmaxPropPrefix, PsqPropPrefix, PqsPropPrefix)

  /** Whether `k` belongs to the per-partition layer (unset wholesale
    * whenever the layer can't be maintained). */
  private def isPartitionLayerKey(k: String): Boolean =
    PerTuplePrefixes.exists(k.startsWith) || k == PvalsProp || k == PkProp ||
      k == PsidecarProp || k == LayerDroppedProp

  /** `<prefix><col>.<idx>` -> (prefix, col, idx). */
  private def splitLayerKey(k: String): Option[(String, String, Int)] =
    PerTuplePrefixes.find(k.startsWith).flatMap { p =>
      val rest = k.stripPrefix(p)
      val dot = rest.lastIndexOf('.')
      if (dot <= 0) None
      else rest.substring(dot + 1).toIntOption.map(i => (p, rest.substring(0, dot), i))
    }
  /** The per-partition sketches' OWN k (graft.stats.pk): table
    * properties ride every native-log commit, so this layer gets a
    * smaller sketch (22 KB/cell at 2048 vs 44 KB at 4096) and a hard
    * cell budget below. Exact below 2048 distinct per partition,
    * ~2.2% relative error above. */
  val PkProp = "graft.stats.pk"
  val PartitionK = 2048
  /** The snapshot version the stamp currently BINDS to (analyze scan /
    * latest fold / restamp target) — SHOW STATISTICS surfaces it so an
    * operator can judge the stamp's age at a glance. */
  val VersionProp = "graft.stats.version"
  val FingerprintProp = "graft.stats.fingerprint"
  val KProp = "graft.stats.k"

  /** Per-partition sketches are stamped only up to this many partition
    * tuples, AND only while tuples × sketched-columns stays within
    * [[MaxPartitionSketchCells]] (~2 MB of property text worst-case —
    * properties ride every commit, so the layer self-limits). Beyond
    * either cap only the table-wide sketch is stamped (filtered APPROX
    * falls back to the scan). */
  val MaxStampedPartitions = 64
  val MaxPartitionSketchCells = 96

  /** Sketch size: exact below 4096 distinct, ~1.6% relative error above. */
  val K = 4096

  /** Order-insensitive fingerprint of a snapshot's live-data identity:
    * the sorted (path, DV cardinality) pairs plus the schema SHAPE
    * (name:type:nullable per field — not metadata, so identity-column
    * watermark bumps riding an append don't spuriously invalidate
    * between fold and read). DV cardinality rides along because a
    * merge-on-read delete changes visible rows WITHOUT changing the
    * file list; the schema rides along because column DDL can reuse a
    * name without changing it (see class doc).
    */
  def fingerprint(snap: TxLog.Snapshot): Long = snap.statsFingerprint

  private[tables] def computeFingerprint(snap: TxLog.Snapshot): Long = {
    val entries = snap.files
      .map(f => s"${f.path}#${f.deletionVector.map(_.cardinality).getOrElse(0L)}")
      .sorted :+
      snap.schema.fields
        .map(f => s"${f.name}:${f.dataType.catalogString}:${f.nullable}")
        .mkString("schema|", "|", "")
    // Two independently-seeded 32-bit Murmur hashes packed into 64 bits:
    // file-count-only collisions (two equal-size file sets) would pass a
    // 32-bit check with ~2^-32 probability; 64 bits makes a silent stale
    // serve astronomically unlikely.
    val lo = scala.util.hashing.MurmurHash3.orderedHash(entries).toLong & 0xffffffffL
    val hi = scala.util.hashing.MurmurHash3.orderedHash(entries, 0x9747b28c).toLong & 0xffffffffL
    (hi << 32) | lo
  }

  /** Whether a fresh stamp exists for this snapshot (cheap pre-check:
    * no fingerprint property → no hashing at all). */
  def isFresh(snap: TxLog.Snapshot): Boolean =
    snap.properties.get(FingerprintProp).exists(_ == fingerprint(snap).toString)

  // ---- sketch property codec: sorted shifted hashes <-> base64 ----

  // leading "b" so the EMPTY sketch (an all-null column saw zero
  // distinct values) still encodes non-empty — setProperties treats an
  // empty value as an UNSET, which would silently drop the key and
  // disable the fold for that column
  private[tables] def encodeSketch(hashes: Array[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(hashes.length * 8)
    hashes.foreach(bb.putLong)
    "b" + java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  private[tables] def decodeSketch(s: String): Array[Long] = {
    val bytes = java.util.Base64.getDecoder.decode(s.stripPrefix("b"))
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong(); i += 1 }
    out
  }

  /** Exact KMV merge of two sorted sketch arrays: k smallest DISTINCT
    * shifted hashes of the union (same math as the KmvMerge expression,
    * driver-side over metadata-sized arrays). */
  private[tables] def mergeSketches(a: Array[Long], b: Array[Long], k: Int): Array[Long] = {
    val out = new Array[Long](math.min(k, a.length + b.length))
    var i = 0; var j = 0; var n = 0
    while (n < k && (i < a.length || j < b.length)) {
      val v =
        if (j >= b.length || (i < a.length && a(i) <= b(j))) { val x = a(i); i += 1; x }
        else { val x = b(j); j += 1; x }
      if (n == 0 || out(n - 1) != v) { out(n) = v; n += 1 }
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  /** Fold-addition over the sq encoding: "null" = no non-null value
    * (identity), "of" = overflowed/unserveable (sticky absorbing
    * element), else exact BigInt digits. */
  private def addMoment(a: String, b: String): String =
    if (a == "of" || b == "of") "of"
    else if (a == "null" && b == "null") "null"
    else if (a == "null") b
    else if (b == "null") a
    else (BigInt(a) + BigInt(b)).toString

  private def integralColumns(snap: TxLog.Snapshot, columns: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    columns.filter(c =>
      snap.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })
  }

  /** Columns the quantile sketch covers: the numeric family whose
    * double conversion matches ApproximatePercentile's own internal
    * buffering (it too holds doubles for these types). */
  private def numericColumns(snap: TxLog.Snapshot, columns: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.types.{ByteType, DoubleType, FloatType,
      IntegerType, LongType, ShortType}
    columns.filter(c =>
      snap.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType => true
        case _ => false
      })
  }

  // ---- typed codec for stamped extremes (INTERNAL Catalyst values) ----

  import org.apache.spark.sql.types._

  /** Types whose exact extremes are stamp-able: a total SQL ordering
    * plus a round-trippable string rendering. */
  private[tables] def orderable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         BooleanType | StringType | DateType | TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Internal value -> round-trippable string. Float/Double toString
    * round-trips exactly (Java guarantee); decimals via plain string. */
  private[tables] def renderValue(dt: DataType, v: Any): String = dt match {
    case StringType => v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    case _: DecimalType => v.asInstanceOf[Decimal].toJavaBigDecimal.toPlainString
    case _ => v.toString
  }

  /** String -> internal Catalyst value of `dt`. */
  private[tables] def parseValue(dt: DataType, s: String): Any = dt match {
    case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(s)
    case ByteType => s.toByte
    case ShortType => s.toShort
    case IntegerType | DateType => s.toInt
    case LongType | TimestampType | TimestampNTZType => s.toLong
    case FloatType => s.toFloat
    case DoubleType => s.toDouble
    case BooleanType => s.toBoolean
    case d: DecimalType => Decimal(new java.math.BigDecimal(s), d.precision, d.scale)
    case other => throw new IllegalStateException(s"unstampable extreme type $other")
  }

  /** SQL ordering over internal values — strings binary (UTF8String,
    * Spark's default collation), floats with NaN greatest and
    * -0.0 == 0.0 (SQLOrderingUtil semantics), decimals numeric. */
  private def compareValues(dt: DataType, a: Any, b: Any): Int = dt match {
    case StringType =>
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
        .compareTo(b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    case FloatType =>
      val (x, y) = (a.asInstanceOf[Float], b.asInstanceOf[Float])
      if (x == y) 0 else java.lang.Float.compare(x, y)
    case DoubleType =>
      val (x, y) = (a.asInstanceOf[Double], b.asInstanceOf[Double])
      if (x == y) 0 else java.lang.Double.compare(x, y)
    case _: DecimalType => a.asInstanceOf[Decimal].compare(b.asInstanceOf[Decimal])
    case BooleanType =>
      java.lang.Boolean.compare(a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
    case _ =>
      java.lang.Long.compare(a.asInstanceOf[Number].longValue(),
        b.asInstanceOf[Number].longValue())
  }

  /** Merge two encoded extremes ("n" | "v"+rendered) under `dt`'s
    * ordering; the OLD value wins ties (either is SQL-correct). */
  private def foldExtreme(dt: DataType, oldEnc: String, batchEnc: String,
      isMin: Boolean): String = {
    if (oldEnc == "n") return batchEnc
    if (batchEnc == "n") return oldEnc
    val o = parseValue(dt, oldEnc.drop(1))
    val b = parseValue(dt, batchEnc.drop(1))
    val c = compareValues(dt, b, o)
    val batchWins = if (isMin) c < 0 else c > 0
    if (batchWins) batchEnc else oldEnc
  }

  /** One column-pruned aggregate pass over `df`: KMV sketch per column,
    * decimal(38,0) sums for the integral subset, exact MIN/MAX for the
    * orderable subset, exact non-null COUNT for `countCols` — collected
    * as INTERNAL rows so extremes keep their Catalyst representations
    * (UTF8String, days-int, micros-long, Decimal). Returns (sketches
    * aligned to `columns`, sums aligned to `integral` as decimal
    * strings with "null" for SQL NULL, encoded (min, max) pairs aligned
    * to `extremes`, counts aligned to `countCols`). */
  private def scanStats(df: org.apache.spark.sql.DataFrame, columns: Seq[String],
      integral: Seq[String], extremes: Seq[(String, DataType)], k: Int,
      countCols: Seq[String] = Seq.empty, sqCols: Seq[String] = Seq.empty,
      qsCols: Seq[String] = Seq.empty)
      : (Seq[Array[Long]], Seq[String], Seq[(String, String)], Seq[Long],
        Seq[String], Seq[Array[Byte]]) = {
    val aggs = columns.map(c => graft.functions.KmvFunctions
      .kmvSketch(col(s"`$c`").cast(StringType), k).as(s"__kmv_$c")) ++
      // exact sums ride the SAME scan: decimal(38,0) accumulation so a
      // 100 TB-scale sum cannot silently wrap
      integral.map(c => sum(col(s"`$c`").cast("decimal(38,0)")).as(s"__sum_$c")) ++
      extremes.flatMap { case (c, _) =>
        Seq(min(col(s"`$c`")).as(s"__min_$c"), max(col(s"`$c`")).as(s"__max_$c")) } ++
      countCols.map(c => count(col(s"`$c`")).as(s"__cnt_$c")) ++
      // Σx² for the second-moment stamp: each SQUARE fits decimal(38,0)
      // exactly (max-long² ≈ 8.5e37 < 1e38), only the SUM can overflow —
      // try_sum answers null there in BOTH ANSI modes (plain sum throws
      // under ANSI), and the paired count turns that null into the
      // honest "of" marker instead of a silent all-null conflation
      sqCols.flatMap(c => Seq(
        expr(s"try_sum(cast(`$c` as decimal(38,0)) * cast(`$c` as decimal(38,0)))")
          .as(s"__sq_$c"),
        count(col(s"`$c`")).as(s"__sqcnt_$c"))) ++
      // quantile sketch per numeric column — Spark's own GK summary,
      // buffered as doubles exactly like approx_percentile itself
      qsCols.map(c => graft.functions.QuantileDigest
        .sketch(col(s"`$c`").cast("double"), QuantileEps).as(s"__qs_$c"))
    val plan = df.agg(aggs.head, aggs.tail: _*)
    val row = plan.queryExecution.executedPlan.executeCollect()(0)
    val sketches = columns.indices.map(i =>
      row.getArray(i).toLongArray())
    val sums = integral.indices.map { i =>
      val idx = columns.size + i
      if (row.isNullAt(idx)) "null"
      else row.getDecimal(idx, 38, 0).toJavaBigDecimal.toBigInteger.toString
    }
    val base = columns.size + integral.size
    val mms = extremes.zipWithIndex.map { case ((_, dt), i) =>
      def enc(idx: Int): String =
        if (row.isNullAt(idx)) "n" else "v" + renderValue(dt, row.get(idx, dt))
      (enc(base + 2 * i), enc(base + 2 * i + 1))
    }
    val cbase = base + 2 * extremes.size
    val cnts = countCols.indices.map(i => row.getLong(cbase + i))
    val sqbase = cbase + countCols.size
    val sqs = sqCols.indices.map { i =>
      val vIdx = sqbase + 2 * i
      if (!row.isNullAt(vIdx)) {
        // decimal multiply inherits the operands' scale metadata; read
        // at the PLAN's precision/scale, normalized to an integer string
        val dt = plan.schema(vIdx).dataType.asInstanceOf[DecimalType]
        row.getDecimal(vIdx, dt.precision, dt.scale)
          .toJavaBigDecimal.stripTrailingZeros.toBigIntegerExact.toString
      }
      else if (row.getLong(vIdx + 1) == 0L) "null" // zero non-null values
      else "of" // the decimal(38,0) accumulation overflowed: unserveable
    }
    val qsbase = sqbase + 2 * sqCols.size
    val qss = qsCols.indices.map(i => row.getBinary(qsbase + i))
    (sketches, sums, mms, cnts, sqs, qss)
  }

  /** Compute NDV for `columns` in ONE scan and stamp the stats. Returns
    * (column, ndv) in the requested order.
    */
  def analyze(table: TxTable, columns: Seq[String],
      skipQuantile: Boolean = false): Seq[(String, Long)] = {
    require(columns.nonEmpty, "ANALYZE: at least one column required")
    val snap = table.snapshot
    val known = snap.schema.fieldNames.toSet
    columns.foreach(c => if (!known.contains(c))
      throw UnsupportedOperationError(
        s"ANALYZE: column $c not found in ${snap.schema.fieldNames.mkString(", ")}"))
    val integral = integralColumns(snap, columns)
    val extremes = columns.filter(c => orderable(snap.schema(c).dataType))
      .map(c => c -> snap.schema(c).dataType)
    // scan pinned at the fingerprinted version: a concurrent commit
    // between scan and stamp then simply invalidates (fingerprint
    // mismatch) instead of mislabeling the new state
    // SKIP SKETCHES: the GK quantile layer dominates the stamp scan's
    // state (table-wide ε=1% + per-tuple ε=2% digests) — skipping it
    // keeps the scan to KMV + scalars for operators that never serve
    // APPROX_PERCENTILE; existing qs keys unset honestly (the `stale`
    // filter below sees them outside the restamped set)
    val numeric = if (skipQuantile) Seq.empty else numericColumns(snap, columns)
    val (sketches, sums, mms, cnts, sqs, qss) =
      scanStats(table.toDF(snap.version), columns, integral, extremes, K,
        countCols = columns, sqCols = integral, qsCols = numeric)
    val ndvs = columns.zip(sketches).map { case (c, sk) =>
      c -> math.round(graft.functions.KmvEstimate.cardinality(sk, K))
    }
    // A partial re-ANALYZE refreshes the ONE table-level fingerprint —
    // what happens to the OTHER columns' keys depends on whether the
    // existing stamp still describes THIS snapshot:
    //  - fresh (fingerprint match): their keys are provably current, so
    //    they MERGE through ("ANALYZE the new column" must not destroy
    //    yesterday's still-valid stats — the add-a-column-to-a-dashboard
    //    shape). The layer merges tuple-matched in partitionSketchProps.
    //  - stale: every key not restamped is unset in the SAME commit
    //    (setProperties treats null as delete) — old keys must never be
    //    re-validated against the new fingerprint and served stale.
    // Keys of the RESTAMPED columns are always replaced wholesale; a
    // family this run does NOT write for an analyzed column (sum of a
    // non-integral, qs under SKIP SKETCHES, over-cap digests) is unset
    // so the new stamp fully defines that column either way.
    val fp = fingerprint(snap).toString
    // merge also requires the old stamp's sketch width to BE this
    // build's K: the kept kmv keys are re-served under the rewritten
    // KProp, so a width change (never at runtime, possible across
    // builds) must clear instead of decoding old sketches at the wrong k
    val freshAtSnap = snap.properties.get(FingerprintProp).contains(fp) &&
      snap.properties.get(KProp).contains(K.toString)
    val layerProps = partitionSketchProps(table, snap, columns, skipQuantile)
    // a computed layer update (incl. an over-budget "dies" map) replaces
    // every existing layer key; no update + fresh keeps the old layer,
    // which describes this same snapshot (restamped columns contribute
    // no cells only when they are partition columns, which never had
    // cells to begin with)
    val dropOldLayer = !freshAtSnap || layerProps.nonEmpty
    val analyzed = columns.toSet
    val stale = table.snapshot.properties.keys
      .filter { k =>
        val owner: Option[String] = TableWidePrefixes.find(k.startsWith)
          .map(p => k.stripPrefix(p))
        owner match {
          case Some(c) => analyzed.contains(c) || !freshAtSnap
          case None => isPartitionLayerKey(k) && dropOldLayer
        }
      }
      .map(_ -> (null: String)).toMap
    table.setProperties(
      stale ++
        ndvs.map { case (c, n) => s"$NdvPropPrefix$c" -> n.toString }.toMap ++
        columns.zip(sketches).map { case (c, sk) =>
          s"$KmvPropPrefix$c" -> encodeSketch(sk) }.toMap ++
        integral.zip(sums).map { case (c, v) => s"$SumPropPrefix$c" -> v }.toMap ++
        extremes.zip(mms).flatMap { case ((c, _), (mn, mx)) =>
          Seq(s"$MinPropPrefix$c" -> mn, s"$MaxPropPrefix$c" -> mx) }.toMap ++
        columns.zip(cnts).map { case (c, n) => s"$CntPropPrefix$c" -> n.toString }.toMap ++
        integral.zip(sqs).map { case (c, v) => s"$SqPropPrefix$c" -> v }.toMap ++
        // quantile sketches: stamped only while under the size cap. An
        // over-cap column must stamp an explicit UNSET (null) — merely
        // skipping it would leave a PREVIOUS analyze's digest to be
        // re-validated by the new fingerprint and served stale
        numeric.zip(qss).map { case (c, bytes) =>
          s"$QsPropPrefix$c" ->
            (if (bytes.length <= QsByteCap)
              graft.functions.QuantileDigest.encode(bytes)
            else null)
        }.toMap ++
        layerProps ++
        Map(FingerprintProp -> fp, KProp -> K.toString,
          VersionProp -> snap.version.toString))
    ndvs
  }

  /** One grouped aggregate keyed by the partition columns — the
    * partition layer's stamp/fold workhorse: per live tuple, a KMV
    * sketch + exact non-null count per `sketchCols`, exact decimal sums
    * for the `integral` subset, exact encoded extremes for the
    * orderable `extremes` subset. Same measure layout as [[scanStats]],
    * collected as INTERNAL rows.
    */
  private def scanPartitionLayer(df: org.apache.spark.sql.DataFrame,
      pcols: Seq[String], ptypes: Seq[DataType], sketchCols: Seq[String],
      integral: Seq[String], extremes: Seq[(String, DataType)], pk: Int,
      qsCols: Seq[String] = Seq.empty)
      : Seq[(Seq[String], Seq[Array[Long]], Seq[String], Seq[(String, String)],
        Seq[Long], Seq[String], Seq[Array[Byte]])] = {
    val aggs = sketchCols.map(c => graft.functions.KmvFunctions
        .kmvSketch(col(s"`$c`").cast(StringType), pk).as(s"__pkmv_$c")) ++
      integral.map(c => sum(col(s"`$c`").cast("decimal(38,0)")).as(s"__psum_$c")) ++
      extremes.flatMap { case (c, _) =>
        Seq(min(col(s"`$c`")).as(s"__pmin_$c"), max(col(s"`$c`")).as(s"__pmax_$c")) } ++
      sketchCols.map(c => count(col(s"`$c`")).as(s"__pcnt_$c")) ++
      // per-tuple Σx² (same "of"-on-overflow posture as scanStats; the
      // paired non-null count to decide it rides above when the column
      // is also a sketch column — integral ⊆ sketchCols here)
      integral.map(c =>
        expr(s"try_sum(cast(`$c` as decimal(38,0)) * cast(`$c` as decimal(38,0)))")
          .as(s"__psq_$c")) ++
      // per-tuple quantile digest at the layer's coarser eps
      qsCols.map(c => graft.functions.QuantileDigest
        .sketch(col(s"`$c`").cast("double"), PartitionQuantileEps).as(s"__pqs_$c"))
    val agged = df.groupBy(pcols.map(c => col(s"`$c`")): _*)
      .agg(aggs.head, aggs.tail: _*)
    val rows = agged.queryExecution.executedPlan.executeCollect()
    val sqTypes = integral.indices.map(i =>
      agged.schema(agged.schema.length - qsCols.size - integral.size + i)
        .dataType.asInstanceOf[DecimalType])
    rows.toSeq.map { r =>
      val tuple = pcols.indices.map(i =>
        if (r.isNullAt(i)) null else renderValue(ptypes(i), r.get(i, ptypes(i))))
      val base0 = pcols.size
      val sketches = sketchCols.indices.map(i => r.getArray(base0 + i).toLongArray())
      val base1 = base0 + sketchCols.size
      val sums = integral.indices.map { i =>
        if (r.isNullAt(base1 + i)) "null"
        else r.getDecimal(base1 + i, 38, 0).toJavaBigDecimal.toBigInteger.toString
      }
      val base2 = base1 + integral.size
      val mms = extremes.zipWithIndex.map { case ((_, dt), i) =>
        def enc(idx: Int): String =
          if (r.isNullAt(idx)) "n" else "v" + renderValue(dt, r.get(idx, dt))
        (enc(base2 + 2 * i), enc(base2 + 2 * i + 1))
      }
      val base3 = base2 + 2 * extremes.size
      val cnts = sketchCols.indices.map(i => r.getLong(base3 + i))
      val base4 = base3 + sketchCols.size
      val sqs = integral.zipWithIndex.map { case (c, i) =>
        if (!r.isNullAt(base4 + i))
          r.getDecimal(base4 + i, sqTypes(i).precision, sqTypes(i).scale)
            .toJavaBigDecimal.stripTrailingZeros.toBigIntegerExact.toString
        else if (cnts(sketchCols.indexOf(c)) == 0L) "null"
        else "of"
      }
      val base5 = base4 + integral.size
      val qss = qsCols.indices.map(i => r.getBinary(base5 + i))
      (tuple, sketches, sums, mms, cnts, sqs, qss)
    }
  }

  /** The per-column measure sets of the partition layer for `sketchCols`
    * under `snap`'s schema: (integral subset, orderable (col, type)
    * pairs). */
  private def layerMeasures(snap: TxLog.Snapshot, sketchCols: Seq[String])
      : (Seq[String], Seq[(String, DataType)]) =
    (integralColumns(snap, sketchCols),
      sketchCols.filter(c => orderable(snap.schema(c).dataType))
        .map(c => c -> snap.schema(c).dataType))

  /** Per-tuple property map for one layer row. `withSq` = stamp the
    * second-moment cells too (a fold into a legacy stamp without psq
    * keys must not start a PARTIAL psq shape). */
  private def layerCellProps(ti: Int, sketchCols: Seq[String],
      integral: Seq[String], extremes: Seq[(String, DataType)],
      sketches: Seq[Array[Long]], sums: Seq[String],
      mms: Seq[(String, String)], cnts: Seq[Long],
      sqs: Seq[String], withSq: Boolean,
      qsCols: Seq[String] = Seq.empty,
      qss: Seq[Array[Byte]] = Seq.empty): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    sketchCols.zipWithIndex.foreach { case (c, ci) =>
      out += s"$PkmvPropPrefix$c.$ti" -> encodeSketch(sketches(ci))
      out += s"$PcntPropPrefix$c.$ti" -> cnts(ci).toString
    }
    integral.zipWithIndex.foreach { case (c, ci) =>
      out += s"$PsumPropPrefix$c.$ti" -> sums(ci)
      if (withSq) out += s"$PsqPropPrefix$c.$ti" -> sqs(ci)
    }
    qsCols.zipWithIndex.foreach { case (c, ci) =>
      out += s"$PqsPropPrefix$c.$ti" -> graft.functions.QuantileDigest.encode(qss(ci))
    }
    extremes.zipWithIndex.foreach { case ((c, _), ci) =>
      out += s"$PminPropPrefix$c.$ti" -> mms(ci)._1
      out += s"$PmaxPropPrefix$c.$ti" -> mms(ci)._2
    }
    out.result()
  }

  /** The per-partition layer for `columns` at `snap` — sketches AND
    * scalars (sum/cnt/min/max) per tuple from ONE grouped aggregate,
    * stamped as an ordered JSON list of partition tuples plus one
    * property per (measure, column, tuple index). Empty (no
    * per-partition stamping) when the table is unpartitioned or holds
    * more than [[MaxStampedPartitions]] distinct tuples (the cap check
    * is O(metadata): file partition values).
    */
  private def partitionSketchProps(table: TxTable, snap: TxLog.Snapshot,
      columns: Seq[String], skipQuantile: Boolean = false): Map[String, String] = {
    val pcols = snap.partitionColumns
    if (pcols.isEmpty) return Map.empty
    // exact tuple-count estimate from file metadata, O(metadata)
    val estTuples = snap.files.map(_.partitionValues).distinct.size
    if (estTuples > MaxSidecarPartitions) return Map.empty
    // a partition column's own distinct set IS the partition list —
    // nothing a per-partition sketch adds for it (and its per-tuple
    // scalars are derivable from the tuple value + file row counts)
    val sketchCols = columns.filterNot(pcols.contains)
    if (sketchCols.isEmpty) return Map.empty
    lazy val fresh = isFresh(snap)
    lazy val oldLayer = withLayer(table.spark, table.location, snap).properties
    // within the inline caps the sketch k is fixed; past them pick the
    // largest k whose total raw sketch bytes fit the SIDECAR budget
    // (the error trade is honest: the stamp records its own pk, and
    // the NDV serve's exactness/error gates read that truth). A partial
    // re-ANALYZE of FEWER columns would fit a LARGER k — but merging a
    // fresh old layer requires equal sketch widths, so prefer the old
    // layer's own pk whenever it still fits this run's columns (the
    // merged total is arbitrated by storeLayer's budget either way).
    val pk =
      if (estTuples <= MaxStampedPartitions) {
        // a fold-shrunk sidecar layer can land back under the inline
        // cap still carrying its own (smaller) pk — prefer it when
        // fresh, or the pk-equality guard below would bail the merge
        // and destroy the non-restamped columns' cells
        if (fresh) oldLayer.get(PkProp).flatMap(_.toIntOption)
          .getOrElse(PartitionK)
        else PartitionK
      } else {
        def fits(k: Int) =
          estTuples.toLong * sketchCols.size * k * 8 <= SidecarKmvBytes
        val compat =
          if (fresh) oldLayer.get(PkProp).flatMap(_.toIntOption).filter(fits)
          else None
        compat.orElse(SidecarKs.find(fits)).getOrElse(return Map.empty)
      }
    val ptypes = pcols.map(c => snap.schema(c).dataType)
    val (integral, extremes) = layerMeasures(snap, sketchCols)
    // quantile cells always scan with the layer; the per-shape qs
    // budget (cell count inline, bytes in the sidecar) is applied by
    // storeLayer, which drops just the qs cells past it
    val qsCols = if (skipQuantile) Seq.empty else numericColumns(snap, sketchCols)
    val groups = scanPartitionLayer(table.toDF(snap.version), pcols, ptypes,
      sketchCols, integral, extremes, pk, qsCols = qsCols)
    if (groups.length > MaxSidecarPartitions) return Map.empty
    val out = Map.newBuilder[String, String]
    groups.zipWithIndex.foreach { case ((_, sketches, sums, mms, cnts, sqs, qss), ti) =>
      out ++= layerCellProps(ti, sketchCols, integral, extremes,
        sketches, sums, mms, cnts, sqs, withSq = true,
        qsCols = qsCols, qss = qss)
    }
    val newLayer = out.result() + (PvalsProp -> encodeTuples(groups.map(_._1))) +
      (PkProp -> pk.toString)
    // merge-if-fresh: a fresh existing layer describes this SAME
    // snapshot, so the cells of columns NOT restamped here carry over
    // tuple-matched (old and new pvals list the same live tuples, in
    // whatever order each grouped aggregate returned them). Bails to
    // new-only on any mismatch: different pk (sketch widths must stay
    // the layer-wide truth PkProp records), missing/odd old pvals, a
    // tuple-set difference (impossible at one snapshot, but never
    // assume). If the MERGED layer outgrows the storage budget, fall
    // back to the new-only layer rather than losing everything.
    val merged: Map[String, String] = {
      if (!fresh) newLayer
      else {
        val old = oldLayer
        val oldTuples = old.get(PvalsProp).map(decodeTuples)
        val newTuples = groups.map(_._1)
        if (!old.get(PkProp).contains(pk.toString) || oldTuples.isEmpty ||
            oldTuples.get.toSet != newTuples.toSet ||
            oldTuples.get.size != newTuples.size) newLayer
        else {
          val newPos = newTuples.zipWithIndex.toMap
          val oldToNew = oldTuples.get.zipWithIndex
            .map { case (t, oi) => oi -> newPos(t) }.toMap
          val restamped = sketchCols.toSet
          val carry = Map.newBuilder[String, String]
          old.foreach { case (k, v) =>
            splitLayerKey(k).foreach { case (p, c, oi) =>
              if (!restamped.contains(c))
                oldToNew.get(oi).foreach(ni => carry += s"$p$c.$ni" -> v)
            }
          }
          carry.result() ++ newLayer
        }
      }
    }
    def died(m: Map[String, String]): Boolean =
      m.get(PsidecarProp).forall(_ == null) && m.get(PvalsProp).forall(_ == null)
    val stored = storeLayer(table, merged, snap.properties.get(PsidecarProp))
    if ((merged ne newLayer) && died(stored))
      storeLayer(table, newLayer, snap.properties.get(PsidecarProp))
    else stored
  }

  /** Partition tuples <-> one JSON property value (json4s, the engine's
    * JSON codec). Tuple order IS the pkmv index space. */
  private[tables] def encodeTuples(tuples: Seq[Seq[String]]): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    // explicit JNull (the DSL's Option route renders None as JNothing,
    // which silently DROPS the slot from the array — a null partition
    // value must keep its position)
    JsonMethods.compact(JsonMethods.render(JArray(
      tuples.map(t => JArray(t.map(v =>
        if (v == null) JNull else JString(v): JValue).toList)).toList)))
  }

  private[tables] def decodeTuples(s: String): Seq[Seq[String]] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.parse(s) match {
      case JArray(ts) => ts.map {
        case JArray(vs) => vs.map {
          case JString(v) => v
          case JNull => null
          case other => throw new IllegalStateException(s"bad pval $other")
        }: Seq[String]
        case other => throw new IllegalStateException(s"bad pval tuple $other")
      }
      case other => throw new IllegalStateException(s"bad pvals $other")
    }
  }

  // ---- sidecar storage for the per-partition layer ----

  private def statsDir(location: String) =
    new org.apache.hadoop.fs.Path(location, "_graft_stats")

  /** Write a complete layer map as ONE JSON sidecar file; returns the
    * relative file name. Uniquely named (creation millis + uuid) so
    * concurrent stampers never collide — a failed property commit just
    * orphans the file for the next write's sweep. The sweep keeps the
    * new file, the currently-pointed file (its stamp is being replaced,
    * but the replacing commit may still fail), and anything younger
    * than [[SidecarSweepAgeMs]]; a reader racing a sweep of an old
    * pointer merely loses the layer for that historical version — scan,
    * never wrong. */
  private def writeSidecar(table: TxTable, layer: Map[String, String],
      currentPointer: Option[String]): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val fs = TxLog.fs(table.spark, table.location)
    val dir = statsDir(table.location)
    if (!fs.exists(dir)) { fs.mkdirs(dir); () }
    val name = s"player-${System.currentTimeMillis()}-" +
      java.util.UUID.randomUUID().toString.take(8) + ".json"
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, name), false)
    try out.write(JsonMethods.compact(JsonMethods.render(
      JObject(layer.toList.map { case (k, v) => k -> (JString(v): JValue) })))
      .getBytes("UTF-8"))
    finally out.close()
    try {
      val cutoff = System.currentTimeMillis() - SidecarSweepAgeMs
      // the caller's pointer can be STALE (a slow ANALYZE holds its
      // pre-scan snapshot while concurrent folds re-point): re-read the
      // pointer the table's LATEST properties name, and protect both —
      // sweeping the live file would silently drop the whole layer
      val livePointer =
        try TxTable.forAnyLocation(table.spark, table.location)
          .snapshot.properties.get(PsidecarProp)
        catch { case scala.util.control.NonFatal(_) => return name } // can't prove: skip sweep
      fs.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        val born = n.stripPrefix("player-").takeWhile(_.isDigit).toLongOption
        if (n != name && !currentPointer.contains(n) && !livePointer.contains(n) &&
            n.startsWith("player-") &&
            born.getOrElse(st.getModificationTime) < cutoff) {
          fs.delete(st.getPath, false); ()
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () } // sweep is best-effort
    name
  }

  /** Parsed-sidecar cache: sidecar files are write-once under unique
    * names (creation millis + uuid) and never mutated — re-pointing
    * writes a NEW file — so content keyed by (location, name) can never
    * go stale. Bounded LRU so a long session over many tables doesn't
    * hold every historical layer's map on the driver. */
  private val sidecarCache =
    new java.util.LinkedHashMap[(String, String), Map[String, String]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), Map[String, String]]): Boolean =
        size() > 8
    }

  /** Sidecar touches (cached or not) — test-visible so a spec can pin
    * "a table-wide serve never reads the per-tuple layer". */
  private[graft] val sidecarReadCount = new java.util.concurrent.atomic.AtomicLong

  private[tables] def readSidecar(spark: org.apache.spark.sql.SparkSession,
      location: String, rel: String): Map[String, String] = {
    sidecarReadCount.incrementAndGet()
    val key = (location, rel)
    sidecarCache.synchronized(Option(sidecarCache.get(key))) match {
      case Some(cached) => cached
      case None =>
        val parsed = readSidecarUncached(spark, location, rel)
        sidecarCache.synchronized { sidecarCache.put(key, parsed); () }
        parsed
    }
  }

  private def readSidecarUncached(spark: org.apache.spark.sql.SparkSession,
      location: String, rel: String): Map[String, String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val fs = TxLog.fs(spark, location)
    val in = fs.open(new org.apache.hadoop.fs.Path(statsDir(location), rel))
    val bytes = try in.readAllBytes() finally in.close()
    JsonMethods.parse(new String(bytes, "UTF-8")) match {
      case JObject(fields) => fields.map {
        case (k, JString(v)) => k -> v
        case (k, other) => throw new IllegalStateException(s"bad sidecar cell $k=$other")
      }.toMap
      case other => throw new IllegalStateException(s"bad sidecar $other")
    }
  }

  /** `snap` with its sidecar-stored partition layer (if any) inlined
    * into properties — the ONE point where layer storage becomes
    * transparent: every consumer (the merged* serves, the folds, the
    * drop-keep derivations, SHOW STATISTICS) reads per-tuple keys off
    * the returned snapshot exactly as if they were inline properties.
    * An unreadable sidecar leaves the snapshot as-is (pointer present,
    * cells absent): serves find no pvals and fall to the scan, and the
    * folds unset the dangling pointer rather than re-freshen it. */
  def withLayer(spark: org.apache.spark.sql.SparkSession, location: String,
      snap: TxLog.Snapshot): TxLog.Snapshot =
    snap.properties.get(PsidecarProp) match {
      case None => snap
      case Some(rel) =>
        try snap.copy(properties = snap.properties ++ readSidecar(spark, location, rel))
        catch { case scala.util.control.NonFatal(_) => snap }
    }

  /** Route a COMPLETE per-tuple layer (every cell + pvals + pk — the
    * caller merges unchanged cells back in before calling) to its
    * storage, returning the property update implementing it:
    *   - within the inline caps: the cells as properties, pointer unset
    *     (a layer that SHRANK back under the caps migrates home);
    *   - within the sidecar budgets: one sidecar file write, pointer
    *     set, every inline cell key unset;
    *   - past both: everything unset — the layer honestly dies.
    * The quantile sub-layer has its own budget per shape; past it just
    * the qs cells drop. Any I/O failure degrades to the unset map —
    * stale-never-wrong. */
  private def storeLayer(table: TxTable, layer: Map[String, String],
      currentPointer: Option[String]): Map[String, String] = {
    def dies = layer.keys.map(_ -> (null: String)).toMap +
      (PsidecarProp -> (null: String)) + (LayerDroppedProp -> (null: String))
    try {
      val tuples = decodeTuples(layer.getOrElse(PvalsProp, return dies))
      val pk = layer.get(PkProp).flatMap(_.toIntOption).getOrElse(return dies)
      val sketchCols = layer.keys.filter(_.startsWith(PkmvPropPrefix)).map { k =>
        val rest = k.stripPrefix(PkmvPropPrefix)
        rest.substring(0, rest.lastIndexOf('.'))
      }.toSeq.distinct
      val cells = tuples.size * sketchCols.size
      val qsKeys = layer.keys.filter(_.startsWith(PqsPropPrefix)).toSeq
      def withoutQs =
        if (qsKeys.isEmpty) layer
        else layer.filterNot(_._1.startsWith(PqsPropPrefix)) ++
          qsKeys.map(_ -> (null: String))
      // the budget-drop marker: every storage outcome explicitly sets or
      // unsets it, so a stale "qs" can't survive a later store that kept
      // everything
      def mark(dropped: Option[String])(m: Map[String, String]) =
        m + (LayerDroppedProp -> dropped.orNull)
      if (tuples.size <= MaxStampedPartitions && cells <= MaxPartitionSketchCells) {
        val qsDropped = qsKeys.nonEmpty && qsKeys.size > MaxPartitionQsCells
        val keep = if (!qsDropped) layer else withoutQs
        mark(if (qsDropped) Some("qs") else None)(
          keep + (PsidecarProp -> (null: String)))
      } else if (tuples.size <= MaxSidecarPartitions &&
          cells.toLong * pk * 8 <= SidecarKmvBytes) {
        // stored base64 is 4/3 of raw sketch bytes; measure qs by its
        // encoded length (the dominant term either way)
        val qsBytes = qsKeys.iterator.map(k => layer(k).length.toLong * 3 / 4).sum
        val qsDropped = qsKeys.nonEmpty && qsBytes > SidecarQsBytes
        val stored = (if (!qsDropped) layer else
          layer.filterNot(_._1.startsWith(PqsPropPrefix)))
          .filter(_._2 != null)
        val rel = writeSidecar(table, stored, currentPointer)
        mark(if (qsDropped) Some("qs") else None)(
          layer.keys.map(_ -> (null: String)).toMap + (PsidecarProp -> rel))
      } else mark(Some("layer"))(layer.keys.map(_ -> (null: String)).toMap +
        (PsidecarProp -> (null: String)))
    } catch { case scala.util.control.NonFatal(_) => dies }
  }

  /** Fold an APPEND batch into a stamp that was fresh when the append
    * was planned: one column-pruned aggregate over exactly the files
    * the commit added (O(batch), not O(table)), sketch-merged and
    * sum-added driver-side, restamped under the fingerprint of the
    * committed snapshot. Called by TxTable after a successful append
    * commit at `commitVersion` that added `addedPaths`.
    *
    * Any failure or missing piece (a stamp predating sketch
    * persistence, a stamped column gone from the schema, a concurrent
    * commit) just leaves the old stamp in place — its fingerprint no
    * longer matches, readers scan, nothing is ever wrong.
    */
  private[tables] def foldAppend(table: TxTable, commitVersion: Long,
      added: Seq[TxLog.AddFile]): Unit = {
    if (added.isEmpty) return // file set unchanged: stamp still fresh as-is
    try {
      val snap = withLayer(table.spark, table.location, table.snapshotAt(commitVersion))
      val props = snap.properties
      val k = props.get(KProp).flatMap(_.toIntOption).getOrElse(return)
      val ndvCols = props.keys.filter(_.startsWith(NdvPropPrefix))
        .map(_.stripPrefix(NdvPropPrefix)).toSeq.sorted
      val sumCols = props.keys.filter(_.startsWith(SumPropPrefix))
        .map(_.stripPrefix(SumPropPrefix)).toSeq.sorted
      val minCols = props.keys.filter(_.startsWith(MinPropPrefix))
        .map(_.stripPrefix(MinPropPrefix)).toSet
      val maxCols = props.keys.filter(_.startsWith(MaxPropPrefix))
        .map(_.stripPrefix(MaxPropPrefix)).toSet
      // an UNPAIRED extreme (min without max or vice versa — e.g. a
      // manual UNSET TBLPROPERTIES) means the stamp is no longer the
      // shape ANALYZE wrote: abort the WHOLE fold (stamp stays stale),
      // exactly like a missing sketch — silently dropping the column
      // would re-freshen the un-folded survivor as servable
      if (minCols != maxCols) return
      val mmCols = minCols.toSeq.sorted
      val cntCols = props.keys.filter(_.startsWith(CntPropPrefix))
        .map(_.stripPrefix(CntPropPrefix)).toSeq.sorted
      val sqCols = props.keys.filter(_.startsWith(SqPropPrefix))
        .map(_.stripPrefix(SqPropPrefix)).toSeq.sorted
      val qsCols = props.keys.filter(_.startsWith(QsPropPrefix))
        .map(_.stripPrefix(QsPropPrefix)).toSeq.sorted
      // cnt rides the check too: after a retention delete the stamp can
      // be cnt + per-partition sketches only (sum/extremes tie-dropped,
      // table-wide NDV honestly unset) — appends must keep folding it
      if (ndvCols.isEmpty && sumCols.isEmpty && mmCols.isEmpty && cntCols.isEmpty &&
          sqCols.isEmpty && qsCols.isEmpty)
        return
      val known = snap.schema.fieldNames.toSet
      if (!(ndvCols ++ sumCols ++ mmCols ++ sqCols ++ qsCols).forall(known.contains))
        return
      val extremes = mmCols.map(c => c -> snap.schema(c).dataType)
      if (extremes.exists { case (_, dt) => !orderable(dt) }) return
      // every NDV column needs its persisted sketch — a scalar alone
      // cannot merge (pre-sketch stamps fall back to full re-ANALYZE)
      val oldSketches = ndvCols.map(c => props.get(KmvPropPrefix + c))
      if (oldSketches.exists(_.isEmpty)) return
      if (!cntCols.forall(known.contains)) return
      val scanCols =
        (ndvCols ++ sumCols ++ mmCols ++ cntCols ++ sqCols ++ qsCols).distinct
      // identify the batch inside the COMMITTED snapshot by the files'
      // unique (uuid-bearing) final name segment — staged AddFile paths
      // and snapshot paths can render differently (Iceberg manifests
      // record absolute paths, stage returns names), and a silent
      // path-string mismatch here once stamped UNFOLDED values as fresh
      val names = added.map(_.path.split('/').last).toSet
      val committedAdds = snap.files.filter(f => names.contains(f.path.split('/').last))
      if (committedAdds.size != added.size) return // can't bind the batch -> stay stale
      val batchFull = table.dfForAddedFiles(snap, committedAdds)
      val batchDf = batchFull.select(scanCols.map(c => col(s"`$c`")): _*)
      // belt-and-braces for the same hazard: the batch the fold reads
      // must hold the rows the commit added (when the stats say so)
      val expectRows = added.map(_.rows)
      if (expectRows.forall(_ >= 0L) && expectRows.sum > 0L && batchDf.isEmpty)
        return
      val (batchSketches, batchSums, batchMms, batchCnts, batchSqs, batchQss) =
        scanStats(batchDf, ndvCols, sumCols, extremes, k, countCols = cntCols,
          sqCols = sqCols, qsCols = qsCols)
      val mergedSketches = ndvCols.indices.map { i =>
        mergeSketches(decodeSketch(oldSketches(i).get), batchSketches(i), k)
      }
      // per-partition sketches fold the same way, per surviving tuple —
      // a SECOND (grouped) aggregate over the same hot batch, routed
      // back through storeLayer (inline or sidecar by budget); an
      // inconsistency aborts the whole fold (throw)
      val layerUnsets = props.keys.filter(isPartitionLayerKey)
        .map(_ -> (null: String)).toMap
      val pkmvProps: Map[String, String] = props.get(PvalsProp) match {
        case None =>
          // a dangling pointer (sidecar unreadable/swept) must not ride
          // the refreshed fingerprint — unset it; no layer = no-op
          if (props.contains(PsidecarProp)) layerUnsets else Map.empty
        case Some(pv) =>
          foldPartitionSketches(props, pv, snap, batchFull, k)
            .map(full => layerUnsets ++
              storeLayer(table, full, props.get(PsidecarProp)))
            .getOrElse(layerUnsets)
      }
      val newSums = sumCols.zip(batchSums).map { case (c, b) =>
        val old = props(SumPropPrefix + c)
        val v =
          if (old == "null" && b == "null") "null"
          else if (old == "null") b
          else if (b == "null") old
          else (BigInt(old) + BigInt(b)).toString
        c -> v
      }
      val newMms = extremes.zip(batchMms).flatMap { case ((c, dt), (bMin, bMax)) =>
        Seq(
          s"$MinPropPrefix$c" ->
            foldExtreme(dt, props(MinPropPrefix + c), bMin, isMin = true),
          s"$MaxPropPrefix$c" ->
            foldExtreme(dt, props(MaxPropPrefix + c), bMax, isMin = false))
      }
      val newCnts = cntCols.zip(batchCnts).map { case (c, b) =>
        s"$CntPropPrefix$c" ->
          (BigInt(props(CntPropPrefix + c)) + BigInt(b)).toString
      }
      // second moment adds like the sum; an "of" on either side is
      // sticky (once unserveable, only a re-ANALYZE can resurrect it)
      val newSqs = sqCols.zip(batchSqs).map { case (c, b) =>
        s"$SqPropPrefix$c" -> addMoment(props(SqPropPrefix + c), b)
      }
      // quantile sketches MERGE (the same compress+merge step Spark's
      // own partial-aggregate tree runs); a sketch grown past the size
      // cap unsets — self-limiting, the column just keeps the scan
      val newQss = qsCols.zip(batchQss).map { case (c, batchBytes) =>
        val merged = graft.functions.QuantileDigest.mergeEncoded(
          props(QsPropPrefix + c),
          graft.functions.QuantileDigest.encode(batchBytes))
        s"$QsPropPrefix$c" ->
          (if ((merged.length - 1L) * 3 / 4 <= QsByteCap) merged else null)
      }
      table.setProperties(
        ndvCols.zip(mergedSketches).flatMap { case (c, sk) =>
          Seq(
            s"$NdvPropPrefix$c" ->
              math.round(graft.functions.KmvEstimate.cardinality(sk, k)).toString,
            s"$KmvPropPrefix$c" -> encodeSketch(sk))
        }.toMap ++
          newSums.map { case (c, v) => s"$SumPropPrefix$c" -> v }.toMap ++
          newMms.toMap ++ newCnts.toMap ++ newSqs.toMap ++ newQss.toMap ++
          pkmvProps ++
          Map(FingerprintProp -> fingerprint(snap).toString,
            VersionProp -> commitVersion.toString))
    } catch {
      // stats maintenance must never fail the append; a skipped fold
      // leaves a stale (fingerprint-mismatched) stamp -> readers scan
      case scala.util.control.NonFatal(e) =>
        if (sys.props.contains("graft.debugFold")) e.printStackTrace()
    }
  }

  /** Fold the appended batch into the per-partition sketch layer: one
    * GROUPED aggregate over the same hot batch (kmv per stamped column
    * per batch partition tuple), merged into the stamped tuples —
    * brand-new tuples append to the pvals list with fresh indices.
    * Some(props to restamp) on success; None when the layer can no
    * longer be maintained (tuple cap crossed → the caller unsets it,
    * the table-wide stats still fold); THROWS on any inconsistency
    * (index gaps, unpartitioned pvals — the caller's catch aborts the
    * whole fold to a stale stamp).
    */
  private def foldPartitionSketches(props: Map[String, String], pvalsEnc: String,
      snap: TxLog.Snapshot, batchFull: org.apache.spark.sql.DataFrame,
      k: Int): Option[Map[String, String]] = {
    val pcols = snap.partitionColumns
    require(pcols.nonEmpty, "pvals stamped on an unpartitioned table")
    val tuples = decodeTuples(pvalsEnc)
    val pkmvKeys = props.keys.filter(_.startsWith(PkmvPropPrefix)).toSeq
    val byCol = pkmvKeys.groupBy { key =>
      val rest = key.stripPrefix(PkmvPropPrefix)
      rest.substring(0, rest.lastIndexOf('.'))
    }
    val sketchCols = byCol.keys.toSeq.sorted
    require(sketchCols.nonEmpty, "pvals without pkmv sketches")
    // a tuple may legitimately hold NO cells (a partial-partition delete
    // keeps it listed but unsets its cells — partitionTouchedKeep), so
    // presence is checked CELL-WISE below: a present cell merges, an
    // absent one stays absent (its scopes keep falling to the scan).
    // Cells for an index OUTSIDE pvals are real corruption — abort.
    sketchCols.foreach { c =>
      val idxs = byCol(c).map(_.stripPrefix(PkmvPropPrefix + c + ".").toInt).toSet
      require(idxs.subsetOf(tuples.indices.toSet), s"pkmv index out of range for $c")
    }
    val pk = props.get(PkProp).flatMap(_.toIntOption)
      .getOrElse(throw new IllegalStateException("pvals without pk"))
    val ptypes = pcols.map(c => snap.schema(c).dataType)
    // the SCALAR half (sum/cnt/min/max per tuple): a pre-scalar legacy
    // stamp (no pcnt keys at all) folds sketches only; a PARTIAL scalar
    // shape (some keys but index gaps) is out of shape — abort
    val hasScalars = props.keys.exists(_.startsWith(PcntPropPrefix))
    val (integral, extremes) =
      if (hasScalars) layerMeasures(snap, sketchCols)
      else (Seq.empty[String], Seq.empty[(String, DataType)])
    // the SECOND-MOMENT cells are their own optional sub-layer: a
    // round-14.0 stamp has scalars but no psq keys — folding must not
    // start a partial psq shape there (same rule as legacy sketch-only)
    val hasSq = props.keys.exists(_.startsWith(PsqPropPrefix))
    // ...and so are the per-tuple quantile digests
    val hasPqs = props.keys.exists(_.startsWith(PqsPropPrefix))
    // pqs without scalars is not a shape any stamp writer produces — a
    // new tuple would get sketch-only cells and poison the next fold's
    // gap check; abort to a stale stamp instead
    require(!hasPqs || hasScalars, "pqs cells on a scalar-less layer")
    val qsCols = if (hasPqs) numericColumns(snap, sketchCols) else Seq.empty
    val groups = scanPartitionLayer(batchFull, pcols, ptypes, sketchCols,
      integral, extremes, pk, qsCols = qsCols)
    val allTuples = tuples.toBuffer
    val out = Map.newBuilder[String, String]
    groups.foreach { case (tuple, sketches, sums, mms, cnts, sqs, qss) =>
      val existing = allTuples.indexOf(tuple)
      val ti = if (existing >= 0) existing else { allTuples += tuple; allTuples.size - 1 }
      if (existing < 0) {
        if (hasScalars)
          out ++= layerCellProps(ti, sketchCols, integral, extremes,
            sketches, sums, mms, cnts, sqs, withSq = hasSq,
            qsCols = qsCols, qss = qss)
        else // legacy sketch-only stamp: don't start a partial scalar shape
          sketchCols.zipWithIndex.foreach { case (c, ci) =>
            out += s"$PkmvPropPrefix$c.$ti" -> encodeSketch(sketches(ci))
          }
      } else {
        // CELL-WISE merge: a tuple whose cells were unset by a
        // partial-partition delete stays cell-less — the batch's half
        // alone would miss the tuple's older rows, so nothing re-stamps
        // until a fresh ANALYZE. Present cells merge exactly as before.
        sketchCols.zipWithIndex.foreach { case (c, ci) =>
          props.get(s"$PkmvPropPrefix$c.$ti").foreach { old =>
            out += s"$PkmvPropPrefix$c.$ti" -> encodeSketch(
              mergeSketches(decodeSketch(old), sketches(ci), pk))
          }
          if (hasScalars)
            props.get(s"$PcntPropPrefix$c.$ti").foreach { old =>
              out += s"$PcntPropPrefix$c.$ti" ->
                (BigInt(old) + BigInt(cnts(ci))).toString
            }
        }
        integral.zipWithIndex.foreach { case (c, ci) =>
          props.get(s"$PsumPropPrefix$c.$ti").foreach { old =>
            out += s"$PsumPropPrefix$c.$ti" -> addMoment(old, sums(ci))
          }
          if (hasSq)
            props.get(s"$PsqPropPrefix$c.$ti").foreach { old =>
              out += s"$PsqPropPrefix$c.$ti" -> addMoment(old, sqs(ci))
            }
        }
        qsCols.zipWithIndex.foreach { case (c, ci) =>
          props.get(s"$PqsPropPrefix$c.$ti").foreach { old =>
            out += s"$PqsPropPrefix$c.$ti" ->
              graft.functions.QuantileDigest.mergeEncoded(
                old, graft.functions.QuantileDigest.encode(qss(ci)))
          }
        }
        extremes.zipWithIndex.foreach { case ((c, dt), ci) =>
          props.get(s"$PminPropPrefix$c.$ti").foreach { old =>
            out += s"$PminPropPrefix$c.$ti" ->
              foldExtreme(dt, old, mms(ci)._1, isMin = true)
          }
          props.get(s"$PmaxPropPrefix$c.$ti").foreach { old =>
            out += s"$PmaxPropPrefix$c.$ti" ->
              foldExtreme(dt, old, mms(ci)._2, isMin = false)
          }
        }
      }
    }
    if (allTuples.size > MaxSidecarPartitions) None
    else {
      // the COMPLETE post-fold layer: unchanged cells carried verbatim,
      // changed/new cells on top — the caller routes it through
      // storeLayer, which applies the per-shape caps (inline cell
      // budgets, sidecar byte budgets, qs sub-layer limits)
      val unchanged = props.filter { case (key, _) =>
        isPartitionLayerKey(key) && key != PsidecarProp && key != PvalsProp }
      Some(unchanged ++ out.result() +
        (PvalsProp -> encodeTuples(allTuples.toSeq)) + (PkProp -> pk.toString))
    }
  }

  /** Fold a copy-on-write DELETE into a stamp that was fresh against
    * the PRE-delete snapshot (`baseVersion`), from ONE column-pruned
    * aggregate over just the removed files' matching rows — data the
    * rewrite read anyway, O(touched) not O(table):
    *
    *  - NDV/KMV (table-wide and per-partition) honestly CANNOT fold a
    *    removal (a sketch can't un-see a value) — those keys are UNSET;
    *    APPROX_COUNT_DISTINCT falls back to the scan until re-ANALYZE.
    *  - exact SUM folds by subtraction, with the SQL NULL-vs-0 boundary
    *    decided by the folded non-null count (zero non-null values
    *    remaining → the stamp serves NULL, exactly what a scan answers;
    *    a pre-cnt stamp that can't prove the boundary drops the key).
    *  - stamped MIN/MAX survive exactly when the removed rows PROVABLY
    *    don't touch them: removed-min STRICTLY above the stamped min
    *    (a tie means the extreme-holder may be gone — duplicates are
    *    unknowable from metadata), symmetrically for max; an
    *    unprovable direction drops the column's PAIR.
    *
    * This is the append-mostly + occasional-retention-delete shape that
    * IS the 100 TB norm: one retention DELETE no longer forces a full
    * re-ANALYZE scan to keep SUM/MIN/MAX scan-free. Any failure or
    * inconsistency leaves the stale stamp — never a wrong answer.
    * Every delete path folds as the post-commit step of TxTable's one
    * commit loop, whose tryCommit pins the commit at base+1 so the fold
    * can never mislabel a concurrent commit's state — Delta copy-on-write,
    * Delta merge-on-read deletion vectors, Iceberg whole-file drops and
    * Iceberg MoR position deletes (the touched files come from the
    * just-written delete files, O(deleted rows)). Iceberg EQUALITY
    * deletes fold through
    * [[foldEqualityDelete]]: the keys ARE a removable-row
    * specification — the removed rows are the base-visible rows of the
    * touched files matching the delete keys null-safely, exactly the
    * snapshot fold's own kill semantics (equalityVictimPositions).
    */
  private[tables] def foldDelete(table: TxTable, commitVersion: Long,
      baseVersion: Long, removedPaths: Seq[String], predicate: String): Unit =
    foldDeleteImpl(table, commitVersion, baseVersion, removedPaths, Left(predicate))

  /** The Iceberg equality-delete fold (the Flink-upsert-shaped history):
    * a content=2 delete snapshot removes no file — the victims fold into
    * per-file position bitmaps at snapshot build, so the TOUCHED files
    * are exactly those whose bitmap cardinality grew base → commit, and
    * the removed rows are the base-visible rows of those files whose key
    * columns match a delete key NULL-SAFELY (Iceberg equality semantics:
    * a NULL key matches NULL — `IcebergLog.equalityVictimPositions` uses
    * `<=>`, and so does this). O(touched files) + O(delete keys), never
    * a table scan; deleting keys that match nothing touches no bitmap,
    * leaves the fingerprint literally unchanged, and needs no fold at
    * all. Any bail leaves a stale stamp — never a wrong answer.
    */
  private[tables] def foldEqualityDelete(table: TxTable, commitVersion: Long,
      baseVersion: Long, keyCols: Seq[String], keys: DataFrame): Unit =
    try {
      val base = table.snapshotAt(baseVersion)
      val baseDv = base.files.iterator
        .map(f => f.path -> f.deletionVector.map(_.cardinality).getOrElse(0L)).toMap
      val touched = table.snapshotAt(commitVersion).files.filter { f =>
        f.deletionVector.map(_.cardinality).getOrElse(0L) >
          baseDv.getOrElse(f.path, 0L)
      }.map(_.path)
      foldDeleteImpl(table, commitVersion, baseVersion, touched,
        Right((keyCols, keys)))
    } catch { case scala.util.control.NonFatal(_) => () }

  private def foldDeleteImpl(table: TxTable, commitVersion: Long,
      baseVersion: Long, removedPaths: Seq[String],
      removal: Either[String, (Seq[String], DataFrame)]): Unit = {
    val predicate = removal.left.getOrElse(null)
    if (removedPaths.isEmpty) return // file set unchanged: stamp still fresh
    try {
      val snap = withLayer(table.spark, table.location, table.snapshotAt(commitVersion))
      val props = snap.properties
      val base = table.snapshotAt(baseVersion)
      // the stamp must describe the PRE-delete snapshot exactly
      if (!props.get(FingerprintProp).contains(fingerprint(base).toString)) return
      val k = props.get(KProp).flatMap(_.toIntOption).getOrElse(return)
      val sumCols = props.keys.filter(_.startsWith(SumPropPrefix))
        .map(_.stripPrefix(SumPropPrefix)).toSeq.sorted
      val minCols = props.keys.filter(_.startsWith(MinPropPrefix))
        .map(_.stripPrefix(MinPropPrefix)).toSet
      val maxCols = props.keys.filter(_.startsWith(MaxPropPrefix))
        .map(_.stripPrefix(MaxPropPrefix)).toSet
      if (minCols != maxCols) return // unpaired extreme: stay stale
      val mmCols = minCols.toSeq.sorted
      val cntCols = props.keys.filter(_.startsWith(CntPropPrefix))
        .map(_.stripPrefix(CntPropPrefix)).toSeq.sorted
      val sqCols = props.keys.filter(_.startsWith(SqPropPrefix))
        .map(_.stripPrefix(SqPropPrefix)).toSeq.sorted
      val known = snap.schema.fieldNames.toSet
      if (!(sumCols ++ mmCols ++ cntCols ++ sqCols).forall(known.contains)) return
      val extremes = mmCols.map(c => c -> snap.schema(c).dataType)
      if (extremes.exists { case (_, dt) => !orderable(dt) }) return
      // an emptied table serves SQL NULL/0 shapes a stamp with no cnt
      // history can't always prove — cheap to just re-ANALYZE (a scan
      // of nothing), so stay stale
      if (snap.files.exists(_.rows < 0L)) return
      val live = snap.files.iterator
        .map(f => f.rows - f.deletionVector.map(_.cardinality).getOrElse(0L)).sum
      if (live == 0L) return
      if (sumCols.isEmpty && mmCols.isEmpty && cntCols.isEmpty && sqCols.isEmpty) {
        // only sketches were stamped: no scalar folds, but the restamped
        // fingerprint keeps the PLANNER surface (exact row count) alive
        // across the delete — and a pure partition DROP still keeps the
        // per-partition layer (see below)
        val unsets = props.keys.collect {
          case key if key.startsWith(NdvPropPrefix) || key.startsWith(KmvPropPrefix) ||
              key.startsWith(QsPropPrefix) || isPartitionLayerKey(key) =>
            key -> (null: String)
        }.toMap
        val dk0 = partitionDropKeep(table, props, base, snap, removedPaths)
        val keep = dk0.map(dk =>
            storeLayer(table, dk.props, props.get(PsidecarProp)))
          .orElse(partitionTouchedKeep(table, props, base, snap, removedPaths)
            .map(storeLayer(table, _, props.get(PsidecarProp))))
          .getOrElse(Map.empty)
        val qsBack = dk0.map(deriveQuantileFromLayer(props, _)).getOrElse(Map.empty)
        table.setProperties(unsets ++ keep ++ qsBack ++
          Map(FingerprintProp -> fingerprint(snap).toString,
            VersionProp -> commitVersion.toString))
        return
      }
      val unset = Map.newBuilder[String, String]
      val set = Map.newBuilder[String, String]
      // sketches cannot un-see removed VALUES: the table-wide NDV layer
      // always goes. The PER-PARTITION layer survives one delete shape —
      // the pure partition DROP (retention: whole partitions removed, no
      // rewrite survivors) — because there the removed rows are exactly
      // the removed tuples' rows: surviving tuples' sketches never saw
      // them. partitionDropKeep proves that from the two snapshots'
      // metadata (else None → the layer unsets like before).
      // sketches (KMV and quantile alike) cannot un-see removed values
      props.keys.foreach { key =>
        if (key.startsWith(NdvPropPrefix) || key.startsWith(KmvPropPrefix) ||
            key.startsWith(QsPropPrefix) || isPartitionLayerKey(key))
          unset += key -> (null: String)
      }
      val dropKeep = partitionDropKeep(table, props, base, snap, removedPaths)
      // not a pure drop: the weaker partial-partition keep — untouched
      // tuples' cells survive verbatim, touched tuples stay listed but
      // cell-less (their scopes fall to the scan). The keep is COMPUTED
      // here but STORED (possibly a multi-MB sidecar write) only just
      // before the commit — the subtraction arm below can still bail
      // (time-dependent predicate, inconsistent stamp), and a bailed
      // fold must not have paid an orphaned file write
      val layerKeep: Option[Map[String, String]] =
        dropKeep.map(_.props)
          .orElse(partitionTouchedKeep(table, props, base, snap, removedPaths))
      // a pure drop also resurrects the TABLE-WIDE quantile digest by
      // merging the surviving tuples' cells (set wins over the unset)
      dropKeep.foreach(dk => set ++= deriveQuantileFromLayer(props, dk))
      // a pure drop with a SCALAR layer re-derives every table-wide
      // sum/cnt/min/max by RECOMBINING the survivors — zero data read,
      // the retention delete becomes fully metadata-only. Extremes come
      // back exact (no tie hazard: they're recomputed, not subtracted).
      val derived = dropKeep.flatMap(dk =>
        deriveScalarsFromLayer(snap, dk, sumCols, mmCols, cntCols, sqCols))
      derived match {
        case Some(vals) => set ++= vals
        case None =>
      // underivable: one column-pruned aggregate over exactly the
      // removed rows (data the rewrite read anyway), subtract/tie-check.
      // This RE-EVALUATES the predicate in a fresh query, which is only
      // sound when it evaluates identically to the rewrite's own pass:
      // a time-dependent expression (current_timestamp in the classic
      // retention `WHERE ts < now() - 30d`) is frozen per-QUERY by
      // Spark, so the fold's later evaluation would subtract a
      // DIFFERENT row set than was deleted and stamp wrong values as
      // fresh. Nondeterministic or current-time predicates bail to a
      // stale stamp instead. (The partition-drop derivation above is
      // predicate-free and unaffected.)
      import org.apache.spark.sql.functions.{coalesce, expr, lit}
      val removedDf = removal match {
        case Right((keyCols, keys)) =>
          // equality-delete keys: concrete values, deterministic by
          // construction — no time-dependence hazard. NULL-SAFE match,
          // mirroring the snapshot fold's victim join exactly.
          val tagged = keyCols.foldLeft(keys.select(
              keyCols.map(c => col(s"`$c`")): _*).distinct())(
            (acc, c) => acc.withColumnRenamed(c, s"__fold_eq_$c"))
          val data = table.dfForFiles(base, removedPaths)
          data.join(tagged,
            keyCols.map(c => data(c) <=> tagged(s"__fold_eq_$c")).reduce(_ && _),
            "left_semi")
        case Left(_) =>
      val parsedPred = table.spark.sessionState.sqlParser.parseExpression(predicate)
      // the parse tree is UNRESOLVED (current_timestamp() is an
      // UnresolvedFunction, bare current_date can even surface as an
      // UnresolvedAttribute), so the check is name-based over the
      // unstable surface plus type/determinism over anything resolved.
      // A real column unluckily named current_timestamp merely bails
      // to a stale stamp — conservative, never wrong.
      // zero-arg current-time functions (curdate(), localtime(),
      // unix_timestamp()) parse as plain UnresolvedFunctions that report
      // deterministic=true, so they must be caught by NAME — the
      // resolved-node cases below never see them here
      val unstableNames = Set("current_timestamp", "now", "current_date",
        "localtimestamp", "current_timezone", "current_time", "rand", "randn",
        "random", "uuid", "shuffle", "monotonically_increasing_id",
        "curdate", "localtime")
      // unstable ONLY in the zero-arg form: unix_timestamp(ts) parses a
      // given value deterministically, unix_timestamp() is now()
      val zeroArgUnstable = Set("unix_timestamp")
      val timeDependent = parsedPred.exists {
        case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
          val n = f.nameParts.last.toLowerCase(java.util.Locale.ROOT)
          unstableNames(n) || (f.arguments.isEmpty && zeroArgUnstable(n))
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          unstableNames(a.name.toLowerCase(java.util.Locale.ROOT))
        case _: org.apache.spark.sql.catalyst.expressions.CurrentTimestampLike => true
        case _: org.apache.spark.sql.catalyst.expressions.CurrentDate => true
        case _: org.apache.spark.sql.catalyst.expressions.LocalTimestamp => true
        case _: org.apache.spark.sql.catalyst.expressions.CurrentTimeZone => true
        case e => !e.deterministic
      }
      if (timeDependent) return
      table.dfForFiles(base, removedPaths)
        .filter(coalesce(expr(predicate), lit(false)))
      }
      val (_, remSums, remMms, remCnts, remSqs, _) =
        scanStats(removedDf.select(((sumCols ++ mmCols ++ cntCols ++ sqCols).distinct)
            .map(c => col(s"`$c`")): _*),
          Nil, sumCols, extremes, k, countCols = cntCols, sqCols = sqCols)
      val remCnt = cntCols.zip(remCnts).toMap
      // non-null counts subtract exactly
      val newCnts = cntCols.map { c =>
        val v = BigInt(props(CntPropPrefix + c)) - BigInt(remCnt(c))
        if (v < 0) return // inconsistent: removed more than stamped
        c -> v
      }.toMap
      newCnts.foreach { case (c, v) => set += s"$CntPropPrefix$c" -> v.toString }
      sumCols.zip(remSums).foreach { case (c, rem) =>
        val old = props(SumPropPrefix + c)
        if (rem == "null") () // no non-null value removed: sum unchanged
        else if (old == "null") return // inconsistent
        else newCnts.get(c) match {
          case Some(n) if n == 0 =>
            // every non-null value removed: SQL SUM answers NULL
            set += s"$SumPropPrefix$c" -> "null"
          case Some(_) =>
            set += s"$SumPropPrefix$c" -> (BigInt(old) - BigInt(rem)).toString
          case None =>
            // pre-cnt stamp: the NULL-vs-0 boundary is unprovable
            unset += s"$SumPropPrefix$c" -> (null: String)
        }
      }
      // the second moment subtracts like the sum; "of" stays sticky on
      // either side (unserveable in, unserveable out — never a guess)
      sqCols.zip(remSqs).foreach { case (c, rem) =>
        val old = props(SqPropPrefix + c)
        if (old == "of" || rem == "of") set += s"$SqPropPrefix$c" -> "of"
        else if (rem == "null") () // no non-null value removed: unchanged
        else if (old == "null") return // inconsistent
        else newCnts.get(c) match {
          case Some(n) if n == 0 =>
            set += s"$SqPropPrefix$c" -> "null"
          case Some(_) =>
            val v = BigInt(old) - BigInt(rem)
            if (v < 0) return // inconsistent: removed more than stamped
            set += s"$SqPropPrefix$c" -> v.toString
          case None =>
            // no folded cnt for the column: NULL-vs-0 unprovable
            unset += s"$SqPropPrefix$c" -> (null: String)
        }
      }
      extremes.zip(remMms).foreach { case ((c, dt), (rMin, rMax)) =>
        val oMin = props(MinPropPrefix + c)
        val oMax = props(MaxPropPrefix + c)
        if (oMin == "n" || oMax == "n") {
          // all-null column: a removal can't have held a value
          if (rMin != "n" || rMax != "n") return // inconsistent
        } else if (rMin == "n") {
          () // no non-null value removed: pair survives as-is
        } else {
          val minCmp = compareValues(dt, parseValue(dt, rMin.drop(1)),
            parseValue(dt, oMin.drop(1)))
          val maxCmp = compareValues(dt, parseValue(dt, rMax.drop(1)),
            parseValue(dt, oMax.drop(1)))
          if (minCmp < 0 || maxCmp > 0) return // removed beyond the stamp: inconsistent
          if (minCmp == 0 || maxCmp == 0) {
            // a removed row TIES an extreme — the holder may be gone
            unset += s"$MinPropPrefix$c" -> (null: String)
            unset += s"$MaxPropPrefix$c" -> (null: String)
          }
        }
      }
      }
      // every bail above is behind us: NOW pay the layer's storage write
      layerKeep.foreach(keep =>
        set ++= storeLayer(table, keep, props.get(PsidecarProp)))
      table.setProperties(unset.result() ++ set.result() ++
        Map(FingerprintProp -> fingerprint(snap).toString,
          VersionProp -> commitVersion.toString))
    } catch {
      case scala.util.control.NonFatal(e) =>
        if (sys.props.contains("graft.debugFold")) e.printStackTrace()
    }
  }

  /** Fold a copy-on-write UPDATE into a stamp that was fresh against
    * the PRE-update snapshot: the rewrite is row-preserving (no row
    * appears or disappears — the whole-file drop fast path is
    * DELETE-only), so every UNASSIGNED column's value multiset is
    * invariant and its stats survive VERBATIM — table-wide and
    * per-tuple alike. Only the assigned columns' stats are honestly
    * unset (an updated value's delta is never derivable from
    * metadata). Before this fold, ONE `UPDATE SET status = 'x'` killed
    * every other column's stamp until a full re-ANALYZE.
    *
    * Bails to a stale stamp when: an assigned column IS a partition
    * column (rows may move between partitions, breaking pvals and the
    * per-tuple cells), or the schema carries generated columns (a
    * base-column update may cascade into columns this fold would keep).
    */
  private[tables] def foldUpdate(table: TxTable, commitVersion: Long,
      baseVersion: Long, assigned: Seq[String]): Unit =
    try {
      if (assigned.isEmpty) return
      val snap = withLayer(table.spark, table.location, table.snapshotAt(commitVersion))
      val props = snap.properties
      val base = table.snapshotAt(baseVersion)
      // the stamp must describe the PRE-update snapshot exactly
      if (!props.get(FingerprintProp).contains(fingerprint(base).toString)) return
      val aset = assigned.toSet
      if (snap.partitionColumns.exists(aset.contains)) return
      if (snap.schema.fields.exists(_.metadata.contains(GeneratedColumns.ExprKey)))
        return
      val tableWide = Seq(NdvPropPrefix, KmvPropPrefix, SumPropPrefix,
        MinPropPrefix, MaxPropPrefix, CntPropPrefix, SqPropPrefix, QsPropPrefix)
      val unset = Map.newBuilder[String, String]
      props.keys.foreach { k =>
        if (tableWide.exists(p => k.startsWith(p) && aset.contains(k.stripPrefix(p))))
          unset += k -> (null: String)
      }
      // the layer survives minus the assigned columns' cells — re-routed
      // through storeLayer so a sidecar-backed layer is REWRITTEN (a
      // null over an inlined key is a no-op on the real file; leaving
      // the old sidecar pointed-to would re-freshen the assigned
      // column's stale cells). If every sketch column was assigned the
      // whole layer unsets: pvals/pk without pkmv cells is a shape no
      // stamp writer produces, and it would abort every future fold.
      val layerSets: Map[String, String] = {
        val layerKeys = props.filter { case (k, _) =>
          isPartitionLayerKey(k) && k != PsidecarProp }
        if (layerKeys.isEmpty) {
          // dangling pointer (sidecar unreadable): don't re-freshen it
          if (props.contains(PsidecarProp))
            Map(PsidecarProp -> (null: String))
          else Map.empty
        } else {
          val survivors = layerKeys.filterNot { case (k, _) =>
            splitLayerKey(k).exists { case (_, c, _) => aset.contains(c) } }
          val remainingLayerCols = survivors.keys
            .filter(_.startsWith(PkmvPropPrefix))
            .map { k =>
              val rest = k.stripPrefix(PkmvPropPrefix)
              rest.substring(0, rest.lastIndexOf('.'))
            }.toSet
          val allUnsets = props.keys.filter(isPartitionLayerKey)
            .map(_ -> (null: String)).toMap
          if (remainingLayerCols.isEmpty) allUnsets
          else allUnsets ++ storeLayer(table, survivors, props.get(PsidecarProp))
        }
      }
      table.setProperties(unset.result() ++ layerSets ++
        Map(FingerprintProp -> fingerprint(snap).toString,
          VersionProp -> commitVersion.toString))
    } catch {
      case scala.util.control.NonFatal(e) =>
        if (sys.props.contains("graft.debugFold")) e.printStackTrace()
    }

  /** Whether a DELETE was a pure PARTITION DROP — whole partitions
    * removed, nothing else touched — and if so, the per-partition sketch
    * layer's surviving keys, reindexed. This is the retention shape
    * (`DELETE WHERE day < X` on a day-partitioned table): the removed
    * rows are exactly the dropped tuples' rows, so every surviving
    * tuple's sketch is untouched and APPROX_COUNT_DISTINCT keeps
    * answering scan-free across the delete (merged over the survivors),
    * instead of dying until a full re-ANALYZE.
    *
    * Provable iff, from metadata alone:
    *  - the commit ADDED no file (a rewrite survivor means some removed
    *    file was only partially deleted);
    *  - every removed and every surviving file's partition tuple
    *    converts unambiguously to the stamped encoding (the hive null
    *    sentinel string is ambiguous in a JSON-sourced log — bail);
    *  - no surviving file shares a removed tuple (else that partition
    *    was partially deleted);
    *  - every removed tuple IS stamped and every LIVE tuple is listed
    *    (an unlisted live tuple would vanish from merged answers).
    *    Survivors' cells carry cell-wise: a listed-but-cell-less tuple
    *    (the partial-partition keep's shape) survives as-is — its
    *    scopes keep scanning, everyone else keeps serving.
    *
    * None = not a pure drop (or unprovable) → the caller unsets the
    * layer, exactly the pre-round-14 behavior.
    */
  private def partitionDropKeep(table: TxTable, props: Map[String, String],
      base: TxLog.Snapshot, snap: TxLog.Snapshot,
      removedPaths: Seq[String]): Option[DropKeep] = {
    val pvalsEnc = props.get(PvalsProp).getOrElse(return None)
    val pk = props.get(PkProp).getOrElse(return None)
    val pcols = base.partitionColumns
    if (pcols.isEmpty || snap.partitionColumns != pcols) return None
    val basePaths = base.files.map(_.path).toSet
    if (snap.files.exists(f => !basePaths.contains(f.path))) return None
    val removedSet = removedPaths.toSet
    val removedFiles = base.files.filter(f => removedSet.contains(f.path))
    if (removedFiles.size != removedSet.size) return None // can't bind the batch
    val ptypes = pcols.map(c => base.schema(c).dataType)
    def tupleOf(f: TxLog.AddFile): Option[Seq[String]] =
      stampedTupleOf(f, pcols, ptypes)
    val removedTuples = removedFiles
      .map(f => tupleOf(f).getOrElse(return None)).toSet
    val tuples = decodeTuples(pvalsEnc)
    val stamped = tuples.toSet
    snap.files.foreach { f =>
      val t = tupleOf(f).getOrElse(return None)
      if (removedTuples.contains(t)) return None // partition partially deleted
      // a live tuple the layer doesn't list would silently VANISH from
      // merged answers — the stamp isn't the shape ANALYZE wrote
      if (!stamped.contains(t)) return None
    }
    if (!removedTuples.subsetOf(stamped)) return None // stamp out of shape
    val keep = tuples.zipWithIndex.filterNot { case (t, _) => removedTuples.contains(t) }
    val sketchCols = props.keys.filter(_.startsWith(PkmvPropPrefix)).toSeq
      .map { key =>
        val rest = key.stripPrefix(PkmvPropPrefix)
        rest.substring(0, rest.lastIndexOf('.'))
      }.distinct.sorted
    if (sketchCols.isEmpty) return None
    val out = Map.newBuilder[String, String]
    var anyCell = false
    keep.zipWithIndex.foreach { case ((_, oldIdx), newIdx) =>
      // carry each survivor's cells CELL-WISE: a listed-but-cell-less
      // tuple is a legitimate layer shape since the partial-partition
      // keep (its scopes honestly scan), so a pure drop of OTHER
      // partitions must not kill the intact tuples' cells over it.
      // Every consumer already treats a missing cell as unprovable —
      // deriveScalars/deriveQuantileFromLayer bail to the subtraction
      // arm, the merged* serves fall to the scan for that tuple's
      // scopes — so an optional carry stays stale-never-wrong.
      PerTuplePrefixes.foreach { p =>
        sketchCols.foreach { c =>
          props.get(s"$p$c.$oldIdx").foreach { v =>
            out += s"$p$c.$newIdx" -> v
            anyCell = true
          }
        }
      }
    }
    // every survivor cell-less would leave a pvals/pk husk no stamp
    // writer produces — same rule as the partial keep: unset instead
    if (!anyCell) return None
    // per-tuple LIVE row counts of the survivors (for deriving a
    // partition column's table-wide cnt/sum from the tuple values);
    // None when any surviving file's row count is unknown
    val liveByTuple: Option[Map[Seq[String], Long]] =
      if (snap.files.exists(_.rows < 0L)) None
      else Some(snap.files.groupBy(f => tupleOf(f).get).map { case (t, fs) =>
        t -> fs.iterator.map(f =>
          f.rows - f.deletionVector.map(_.cardinality).getOrElse(0L)).sum
      })
    Some(DropKeep(
      out.result() + (PvalsProp -> encodeTuples(keep.map(_._1))) + (PkProp -> pk),
      keep.map(_._1), keep.map(_._2), liveByTuple))
  }

  /** A file's log-recorded partition tuple in the STAMPED encoding
    * (renderValue over internal values) — the ONE converter both the
    * pure-drop and partial-keep proofs use, so they can never disagree
    * on which tuple a file belongs to. The hive sentinel is NULL, as the
    * read decodes it. None = unconvertible. */
  private def stampedTupleOf(f: TxLog.AddFile, pcols: Seq[String],
      ptypes: Seq[DataType]): Option[Seq[String]] = {
    val out = pcols.zip(ptypes).map { case (c, dt) =>
      f.partitionValues.get(c) match {
        case Some(null | "__HIVE_DEFAULT_PARTITION__") => null
        case Some(raw) => logPartValueToStamped(dt, raw).getOrElse(return None)
        case None => return None
      }
    }
    Some(out)
  }

  /** A provable pure partition DROP: the surviving layer (reindexed),
    * the kept tuples with their OLD stamped indices, and the survivors'
    * live row counts per tuple (when derivable from file metadata). */
  private final case class DropKeep(props: Map[String, String],
      keptTuples: Seq[Seq[String]], keptOldIdx: Seq[Int],
      liveByTuple: Option[Map[Seq[String], Long]])

  /** The weaker keep for a PARTIAL-partition delete (not a pure drop):
    * when every removed file's tuple — and every rewrite-survivor file
    * the commit added — provably lies in a touched-tuple set T, every
    * OTHER tuple's cells are untouched (a delete never moves rows
    * between partitions) and survive VERBATIM. T's tuples stay LISTED
    * in pvals (they still hold live rows — an unlisted live tuple would
    * silently vanish from merged answers) but lose their cells: the
    * merged* readers treat a missing cell as unprovable and fall to the
    * scan for exactly the scopes that touch T, while `WHERE day >= X`
    * dashboards over the other 363 partitions keep serving scan-free.
    * Returns the surviving layer (complete pvals + untouched cells);
    * None = unprovable → the caller unsets the layer wholesale.
    */
  private def partitionTouchedKeep(table: TxTable, props: Map[String, String],
      base: TxLog.Snapshot, snap: TxLog.Snapshot,
      removedPaths: Seq[String]): Option[Map[String, String]] = {
    val pvalsEnc = props.get(PvalsProp).getOrElse(return None)
    val pk = props.get(PkProp).getOrElse(return None)
    val pcols = base.partitionColumns
    if (pcols.isEmpty || snap.partitionColumns != pcols) return None
    val removedSet = removedPaths.toSet
    val removedFiles = base.files.filter(f => removedSet.contains(f.path))
    if (removedFiles.size != removedSet.size) return None
    // removedPaths must COVER every file the commit actually removed: a
    // base file absent from snap but missing from the caller's list
    // would contribute no tuple to T, and its partition's cells would
    // survive with pre-delete values served as exact
    val snapPaths = snap.files.map(_.path).toSet
    if (!base.files.forall(f =>
        snapPaths.contains(f.path) || removedSet.contains(f.path))) return None
    val ptypes = pcols.map(c => base.schema(c).dataType)
    def tupleOf(f: TxLog.AddFile): Option[Seq[String]] =
      stampedTupleOf(f, pcols, ptypes)
    val touched = removedFiles.map(f => tupleOf(f).getOrElse(return None)).toSet
    // rewrite survivors (files the commit added) must stay inside the
    // touched set — a delete writes survivors into the same partitions,
    // so anything else means this commit isn't the shape we can reason
    // about
    val basePaths = base.files.map(_.path).toSet
    snap.files.filterNot(f => basePaths.contains(f.path)).foreach { f =>
      if (!touched.contains(tupleOf(f).getOrElse(return None))) return None
    }
    val tuples = decodeTuples(pvalsEnc)
    if (!touched.subsetOf(tuples.toSet)) return None // stamp out of shape
    // every touched tuple must KEEP ≥1 live row: pvals is the layer's
    // live-tuple list, and a zero-live-row tuple left listed would
    // corrupt the partition-column serves (slot-value NDV / extremes
    // read pvals directly). A tuple fully emptied by a non-pure-drop
    // delete is a mixed shape this keep doesn't model — bail to unset.
    val liveByTuple = scala.collection.mutable.Map.empty[Seq[String], Long]
    snap.files.foreach { f =>
      if (f.rows < 0L) return None
      val t = tupleOf(f).getOrElse(return None)
      liveByTuple(t) = liveByTuple.getOrElse(t, 0L) +
        (f.rows - f.deletionVector.map(_.cardinality).getOrElse(0L))
    }
    if (!touched.forall(t => liveByTuple.getOrElse(t, 0L) > 0L)) return None
    // ...and every live tuple must be LISTED (same shape check the pure
    // drop makes: an unlisted live tuple would vanish from merged answers)
    if (!liveByTuple.keysIterator.forall(tuples.toSet)) return None
    val touchedIdx = tuples.zipWithIndex
      .filter { case (t, _) => touched.contains(t) }.map(_._2).toSet
    val keep = props.filter { case (key, _) =>
      splitLayerKey(key).exists { case (_, _, i) => !touchedIdx.contains(i) }
    }
    // every tuple touched → a cell-less pvals/pk husk, a shape no stamp
    // writer produces: unset the layer instead
    if (!keep.keys.exists(_.startsWith(PkmvPropPrefix))) return None
    Some(keep + (PvalsProp -> pvalsEnc) + (PkProp -> pk))
  }

  /** After a pure partition drop, the TABLE-WIDE sum/cnt/min/max
    * re-derived by recombining the SURVIVING partitions' stamped
    * scalars — O(#tuples) driver work over property bytes, zero data
    * read. Non-partition columns read the scalar layer (every kept
    * index must hold the measure); a partition column derives from the
    * kept tuple values themselves (+ file row counts for cnt/sum).
    * Extremes come back EXACT — recomputed from survivors, so the
    * tie-with-removed-row hazard of subtraction doesn't exist here.
    * None = anything underivable → the caller falls back to the
    * removed-rows aggregate.
    */
  private def deriveScalarsFromLayer(snap: TxLog.Snapshot, dk: DropKeep,
      sumCols: Seq[String], mmCols: Seq[String], cntCols: Seq[String],
      sqCols: Seq[String] = Seq.empty)
      : Option[Map[String, String]] = {
    val pcols = snap.partitionColumns
    val props = snap.properties
    val out = Map.newBuilder[String, String]
    val cntVal = scala.collection.mutable.Map.empty[String, BigInt]
    cntCols.foreach { c =>
      val acc =
        if (pcols.contains(c)) {
          val live = dk.liveByTuple.getOrElse(return None)
          val s = pcols.indexOf(c)
          dk.keptTuples.iterator.filter(_(s) != null)
            .map(t => BigInt(live.getOrElse(t, return None))).sum
        } else dk.keptOldIdx.iterator
          .map(i => BigInt(props.getOrElse(s"$PcntPropPrefix$c.$i", return None))).sum
      cntVal(c) = acc
      out += s"$CntPropPrefix$c" -> acc.toString
    }
    sumCols.foreach { c =>
      // SUM's SQL NULL boundary needs the non-null count; a stamp with
      // sum but no cnt for the column is pre-r14 — underivable
      val n = cntVal.getOrElse(c, return None)
      val v: String =
        if (n == 0) "null"
        else if (pcols.contains(c)) {
          val live = dk.liveByTuple.getOrElse(return None)
          val s = pcols.indexOf(c)
          val dt = snap.schema(c).dataType
          dk.keptTuples.iterator.filter(_(s) != null).map { t =>
            BigInt(parseValue(dt, t(s)).asInstanceOf[Number].longValue()) *
              BigInt(live.getOrElse(t, return None))
          }.sum.toString
        } else dk.keptOldIdx.iterator.map { i =>
          props.getOrElse(s"$PsumPropPrefix$c.$i", return None) match {
            case "null" => BigInt(0)
            case sv => BigInt(sv)
          }
        }.sum.toString
      out += s"$SumPropPrefix$c" -> v
    }
    sqCols.foreach { c =>
      val n = cntVal.getOrElse(c, return None)
      val v: String =
        if (n == 0) "null"
        else if (pcols.contains(c)) {
          val live = dk.liveByTuple.getOrElse(return None)
          val s = pcols.indexOf(c)
          val dt = snap.schema(c).dataType
          dk.keptTuples.iterator.filter(_(s) != null).map { t =>
            val x = BigInt(parseValue(dt, t(s)).asInstanceOf[Number].longValue())
            x * x * BigInt(live.getOrElse(t, return None))
          }.sum.toString
        } else {
          // an "of" cell among the survivors keeps the recombined sq
          // honestly unserveable (but present, so folds keep tracking)
          var of = false
          val acc = dk.keptOldIdx.iterator.map { i =>
            props.getOrElse(s"$PsqPropPrefix$c.$i", return None) match {
              case "null" => BigInt(0)
              case "of" => of = true; BigInt(0)
              case sv => BigInt(sv)
            }
          }.sum
          if (of) "of" else acc.toString
        }
      out += s"$SqPropPrefix$c" -> v
    }
    mmCols.foreach { c =>
      val dt = snap.schema(c).dataType
      var mn = "n"; var mx = "n"
      if (pcols.contains(c)) {
        val s = pcols.indexOf(c)
        dk.keptTuples.foreach { t =>
          if (t(s) != null) {
            val enc = "v" + t(s)
            mn = foldExtreme(dt, mn, enc, isMin = true)
            mx = foldExtreme(dt, mx, enc, isMin = false)
          }
        }
      } else dk.keptOldIdx.foreach { i =>
        mn = foldExtreme(dt, mn,
          props.getOrElse(s"$PminPropPrefix$c.$i", return None), isMin = true)
        mx = foldExtreme(dt, mx,
          props.getOrElse(s"$PmaxPropPrefix$c.$i", return None), isMin = false)
      }
      out += s"$MinPropPrefix$c" -> mn
      out += s"$MaxPropPrefix$c" -> mx
    }
    Some(out.result())
  }

  /** After a pure partition drop, the TABLE-WIDE quantile digest per
    * stamped column re-derived by MERGING the survivors' per-tuple
    * digests — quantile summaries of disjoint row sets merge exactly
    * like the append fold. The rebuilt digest carries the layer's
    * coarser recorded ε, and the serve gate reads ε from the digest
    * itself, so the rebuild can never over-promise precision. Only
    * columns whose every kept tuple holds a cell re-derive; others
    * stay honestly unset.
    */
  private def deriveQuantileFromLayer(props: Map[String, String],
      dk: DropKeep): Map[String, String] = {
    val qsCols = props.keys.filter(_.startsWith(QsPropPrefix))
      .map(_.stripPrefix(QsPropPrefix)).toSeq.sorted
    qsCols.flatMap { c =>
      val cells = dk.keptOldIdx.map(i => props.get(s"$PqsPropPrefix$c.$i"))
      if (cells.isEmpty || cells.exists(_.isEmpty)) None
      else {
        val merged = cells.flatten
          .reduce(graft.functions.QuantileDigest.mergeEncoded)
        if ((merged.length - 1L) * 3 / 4 > QsByteCap) None
        else Some(s"$QsPropPrefix$c" -> merged)
      }
    }.toMap
  }

  /** A LOG-convention partition value string to the STAMPED encoding
    * ([[renderValue]] over the internal Catalyst value) — how a file's
    * partitionValues entry is matched against a pvals tuple slot. Floats
    * and decimals bail (their partition-string round-trip is
    * writer-dependent), mirroring the absorbed-predicate family.
    */
  private def logPartValueToStamped(dt: DataType, raw: String): Option[String] =
    dt match {
      case StringType => Some(raw) // partition values are exact, never truncated
      case BooleanType =>
        if (raw == "true" || raw == "false") Some(raw) else None
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType =>
        FileStats.orderedStatValue(dt, raw)
          .map(v => renderValue(dt, FileStats.orderedValueToCatalyst(dt, v)))
      case _ => None
    }

  /** Re-issue ONLY the fingerprint (and the bound version) after a
    * content-preserving rewrite (OPTIMIZE/ZORDER/REORG, hooked from
    * TxTable's commit path): the visible rows — and therefore every
    * stamped statistic — are unchanged, only the file-set identity
    * moved. Same failure posture as the fold: any problem leaves a
    * stale stamp, never a wrong answer.
    */
  private[tables] def restampFingerprint(table: TxTable, commitVersion: Long): Unit =
    try {
      val snap = table.snapshotAt(commitVersion)
      if (snap.properties.contains(FingerprintProp))
        table.setProperties(Map(FingerprintProp -> fingerprint(snap).toString,
          VersionProp -> commitVersion.toString))
    } catch { case scala.util.control.NonFatal(_) => () }

  /** The stamped NDV of `column` IF the stats still describe the
    * current snapshot (fingerprint match), else None.
    */
  def currentNdv(snap: TxLog.Snapshot, column: String): Option[Long] =
    for {
      fp <- snap.properties.get(FingerprintProp)
      if fp == fingerprint(snap).toString
      v <- snap.properties.get(s"$NdvPropPrefix$column")
      n <- v.toLongOption
    } yield n

  /** The stamped exact SUM of `column` IF the stats still describe the
    * current snapshot. Some(None) = a fresh stamp of an empty/all-null
    * column (SQL SUM answers NULL); values that no longer fit a Long
    * answer None (the scan's own Long accumulation is the engine's
    * semantics — never serve what a scan couldn't produce).
    */
  def currentSum(snap: TxLog.Snapshot, column: String): Option[Option[Long]] =
    for {
      fp <- snap.properties.get(FingerprintProp)
      if fp == fingerprint(snap).toString
      v <- snap.properties.get(s"$SumPropPrefix$column")
      parsed <- if (v == "null") Some(None)
        else v.toLongOption.map(n => Some(n))
    } yield parsed

  /** The stamped exact non-null COUNT of `column` while fresh. */
  def currentCount(snap: TxLog.Snapshot, column: String): Option[Long] =
    try {
      for {
        fp <- snap.properties.get(FingerprintProp)
        if fp == fingerprint(snap).toString
        v <- snap.properties.get(s"$CntPropPrefix$column")
        n = BigInt(v)
        if n.isValidLong
      } yield n.toLong
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The stamped exact SUM of `column` as a BigInt while fresh — the
    * moment form AVG/VAR derive from (no Long cap: the derived double
    * is rounded ONCE from the exact integer, which is at least as
    * accurate as any scan's accumulation order). Some(None) = SQL NULL
    * (no non-null value); outer None = stale/absent/unserveable. */
  def currentSumBig(snap: TxLog.Snapshot, column: String): Option[Option[BigInt]] =
    momentProp(snap, s"$SumPropPrefix$column")

  /** The stamped exact Σx² of `column` while fresh ([[currentSumBig]]
    * contract; "of" — the overflowed marker — is unserveable). */
  def currentSumSqBig(snap: TxLog.Snapshot, column: String): Option[Option[BigInt]] =
    momentProp(snap, s"$SqPropPrefix$column")

  /** The stamped quantile digest of `column` while fresh — decoded to
    * Spark's own PercentileDigest, ready for getPercentiles. None =
    * stale/absent/undecodable → scan. */
  def currentQuantileDigest(snap: TxLog.Snapshot, column: String)
      : Option[org.apache.spark.sql.catalyst.expressions.aggregate
        .ApproximatePercentile.PercentileDigest] =
    try {
      for {
        fp <- snap.properties.get(FingerprintProp)
        if fp == fingerprint(snap).toString
        enc <- snap.properties.get(s"$QsPropPrefix$column")
      } yield graft.functions.QuantileDigest.decode(enc)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Merge the `keep` tuples' stamped per-partition quantile digests
    * for `column` — the filtered/grouped APPROX_PERCENTILE serve.
    * Some(None) = empty keep (SQL NULL); outer None = any missing
    * cell → scan. Callers must have proved freshness (the indices
    * come from [[currentPartitionTuples]]). */
  def mergedPartitionQuantile(snap: TxLog.Snapshot, column: String,
      keep: Seq[Int]): Option[Option[org.apache.spark.sql.catalyst.expressions
        .aggregate.ApproximatePercentile.PercentileDigest]] =
    try {
      if (keep.isEmpty) return Some(None)
      val cells = keep.map(i =>
        snap.properties.get(s"$PqsPropPrefix$column.$i").getOrElse(return None))
      val d = graft.functions.QuantileDigest.decode(cells.head)
      cells.tail.foreach(c2 => d.merge(graft.functions.QuantileDigest.decode(c2)))
      Some(Some(d))
    } catch { case scala.util.control.NonFatal(_) => None }

  private def momentProp(snap: TxLog.Snapshot, key: String): Option[Option[BigInt]] =
    try {
      for {
        fp <- snap.properties.get(FingerprintProp)
        if fp == fingerprint(snap).toString
        v <- snap.properties.get(key)
        if v != "of"
        parsed <- if (v == "null") Some(None) else Some(Some(BigInt(v)))
      } yield parsed
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Σ of the `keep` tuples' stamped per-partition cells for `prefix` —
    * the moment form the filtered/grouped AVG and VAR serves derive
    * from ("null" cells contribute 0; an "of" cell or a missing cell is
    * unserveable). Callers must have proved freshness (the `keep`
    * indices come from [[currentPartitionTuples]]). */
  def mergedPartitionMoment(snap: TxLog.Snapshot, column: String,
      keep: Seq[Int], isSq: Boolean): Option[BigInt] =
    try {
      val p = if (isSq) PsqPropPrefix else PsumPropPrefix
      var acc = BigInt(0)
      keep.foreach { i =>
        snap.properties.get(s"$p$column.$i").getOrElse(return None) match {
          case "null" => ()
          case "of" => return None
          case sv => acc += BigInt(sv)
        }
      }
      Some(acc)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The stamped per-partition tuple list IF the stats still describe
    * the current snapshot (fingerprint match): ordered tuples of
    * renderValue-encoded strings over the snapshot's partition columns,
    * null = a NULL partition value. Tuple order is the pkmv index
    * space. None = stale/absent/undecodable.
    */
  def currentPartitionTuples(snap: TxLog.Snapshot): Option[Seq[Seq[String]]] =
    try {
      for {
        fp <- snap.properties.get(FingerprintProp)
        if fp == fingerprint(snap).toString
        enc <- snap.properties.get(PvalsProp)
        ts = decodeTuples(enc)
        if ts.forall(_.size == snap.partitionColumns.size)
      } yield ts
    } catch { case scala.util.control.NonFatal(_) => None }

  /** A renderValue-encoded STAMPED partition value to the column's
    * internal Catalyst value — the codec [[currentPartitionTuples]]
    * tuples use (NOT the log's raw partition-string convention).
    * Floats bail, mirroring the absorbed-predicate family's
    * conservatism everywhere else. */
  def stampedPartitionValue(dt: DataType, s: String): Option[Any] = dt match {
    case FloatType | DoubleType => None
    case _ if orderable(dt) =>
      try Some(parseValue(dt, s)) catch { case scala.util.control.NonFatal(_) => None }
    case _ => None
  }

  /** Exact-merge the stamped per-partition sketches of `keep` tuple
    * indices for `column` and estimate the union's distinct count —
    * how APPROX_COUNT_DISTINCT under an absorbed partition-only WHERE
    * answers scan-free (KMV merges are exact, so the filtered estimate
    * carries the same k-governed error as the table-wide one). None =
    * any surviving sketch missing (stale layer) → scan. An empty
    * `keep` (the WHERE excluded every partition) is distinct count 0.
    */
  def mergedPartitionNdv(snap: TxLog.Snapshot, column: String,
      keep: Seq[Int]): Option[Long] =
    try {
      val k = snap.properties.get(PkProp).flatMap(_.toIntOption).getOrElse(return None)
      val sketches = keep.map { i =>
        snap.properties.get(s"$PkmvPropPrefix$column.$i") match {
          case Some(enc) => decodeSketch(enc)
          case None => return None
        }
      }
      val merged = sketches.foldLeft(Array.empty[Long])((a, b) => mergeSketches(a, b, k))
      Some(math.round(graft.functions.KmvEstimate.cardinality(merged, k)))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Exact SUM of `column` over the `keep` partition tuples from the
    * stamped per-partition scalars (same caller contract as
    * [[mergedPartitionNdv]]: `keep` indexes a fresh pvals list) — how
    * `SUM(x) WHERE day >= d` (and the grouped per-day rollup) answers
    * scan-free. Some(None) = SQL NULL (zero surviving non-null values);
    * outer None = not servable (missing scalar cell / overflow beyond
    * Long — never serve what the scan's own Long accumulation couldn't).
    */
  def mergedPartitionSum(snap: TxLog.Snapshot, column: String,
      keep: Seq[Int]): Option[Option[Long]] =
    try {
      var cnt = BigInt(0)
      var sum = BigInt(0)
      keep.foreach { i =>
        cnt += BigInt(snap.properties.get(s"$PcntPropPrefix$column.$i")
          .getOrElse(return None))
        snap.properties.get(s"$PsumPropPrefix$column.$i").getOrElse(return None) match {
          case "null" => ()
          case sv => sum += BigInt(sv)
        }
      }
      if (cnt == 0) Some(None)
      else if (!sum.isValidLong) None
      else Some(Some(sum.toLong))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Exact non-null COUNT of `column` over the `keep` tuples from the
    * stamped per-partition scalars. None = not servable. */
  def mergedPartitionCount(snap: TxLog.Snapshot, column: String,
      keep: Seq[Int]): Option[Long] =
    try {
      var cnt = BigInt(0)
      keep.foreach { i =>
        cnt += BigInt(snap.properties.get(s"$PcntPropPrefix$column.$i")
          .getOrElse(return None))
      }
      if (cnt.isValidLong) Some(cnt.toLong) else None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Exact MIN/MAX of `column` over the `keep` tuples — from the
    * stamped per-partition extremes (covers the footer-refused types:
    * strings, floats), or, for a PARTITION column, from the kept tuple
    * values themselves. Some(None) = SQL NULL (no surviving non-null
    * value); outer None = not servable. Returned as the INTERNAL
    * Catalyst value.
    */
  def mergedPartitionMinMax(snap: TxLog.Snapshot, column: String,
      isMin: Boolean, keep: Seq[Int]): Option[Option[Any]] =
    try {
      val dt = snap.schema(column).dataType
      if (!orderable(dt)) return None
      var acc = "n"
      if (snap.partitionColumns.contains(column)) {
        val slot = snap.partitionColumns.indexOf(column)
        val tuples = decodeTuples(snap.properties.get(PvalsProp).getOrElse(return None))
        keep.foreach { i =>
          val raw = tuples(i)(slot)
          if (raw != null) acc = foldExtreme(dt, acc, "v" + raw, isMin)
        }
      } else {
        val p = if (isMin) PminPropPrefix else PmaxPropPrefix
        keep.foreach { i =>
          acc = foldExtreme(dt, acc,
            snap.properties.get(s"$p$column.$i").getOrElse(return None), isMin)
        }
      }
      Some(if (acc == "n") None else Some(parseValue(dt, acc.drop(1))))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The stamped exact MIN/MAX of `column` as an INTERNAL Catalyst
    * value IF the stats still describe the current snapshot. Covers the
    * types per-file footer stats can never soundly answer (strings,
    * floats) because ANALYZE computed the true extreme with Spark's own
    * ordering. Some(None) = a fresh stamp of an empty/all-null column
    * (SQL answers NULL); outer None = stale/absent/undecodable → scan.
    */
  def currentMinMax(snap: TxLog.Snapshot, column: String,
      isMin: Boolean): Option[Option[Any]] =
    try {
      for {
        fp <- snap.properties.get(FingerprintProp)
        if fp == fingerprint(snap).toString
        field <- snap.schema.fields.find(_.name == column)
        enc <- snap.properties.get(
          (if (isMin) MinPropPrefix else MaxPropPrefix) + column)
        v <- if (enc == "n") Some(None)
          else Some(Some(parseValue(field.dataType, enc.drop(1))))
      } yield v
    } catch { case scala.util.control.NonFatal(_) => None }
}
