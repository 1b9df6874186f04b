package graft.tables

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** Per-file column statistics for data skipping (Delta-style file pruning):
  * min/max per top-level primitive column, read from parquet footers at
  * commit time, serialized into the transaction log, and consulted at scan
  * time to drop files that provably cannot match a predicate.
  *
  * Footer reads are metadata-only (no data pages) and run on EXECUTORS:
  * each write task reads the footers of the files it just closed
  * (TxLog.stageData), so a commit writing tens of thousands of files
  * never serializes footer I/O through the driver.
  */
object FileStats {

  /** (rowCount, minValues, maxValues, nullCounts) from the parquet
    * footer; min/max kept for INT32/INT64/FLOAT/DOUBLE/UTF8 columns that
    * report valid bounds, null counts for every top-level column whose
    * every block reports one.
    */
  def fromParquetFooter(conf: Configuration, file: Path)
      : (Long, Map[String, String], Map[String, String], Map[String, Long]) = {
    try {
      val reader = openFooter(conf, file)
      try {
        val footer = reader.getFooter
        val blocks = footer.getBlocks.asScala
        val rows = blocks.map(_.getRowCount).sum
        val mins = scala.collection.mutable.Map.empty[String, Comparable[Any]]
        val maxs = scala.collection.mutable.Map.empty[String, Comparable[Any]]
        val skip = scala.collection.mutable.Set.empty[String]
        val nulls = scala.collection.mutable.Map.empty[String, Long]
        val nullSkip = scala.collection.mutable.Set.empty[String]
        for (block <- blocks; chunk <- block.getColumns.asScala) {
          val pathParts = chunk.getPath.toArray
          if (pathParts.length == 1) { // top-level primitives only
            val name = pathParts(0)
            val st = chunk.getStatistics
            if (st == null || !st.isNumNullsSet) nullSkip += name
            else nulls(name) = nulls.getOrElse(name, 0L) + st.getNumNulls
            if (st == null || !st.hasNonNullValue || st.isEmpty) skip += name
            else {
              val (mn, mx) = (toComparable(st.genericGetMin, chunk.getPrimitiveType.getPrimitiveTypeName),
                toComparable(st.genericGetMax, chunk.getPrimitiveType.getPrimitiveTypeName))
              (mn, mx) match {
                case (Some(a), Some(b)) =>
                  mins(name) = mins.get(name).map(c => if (a.compareTo(c) < 0) a else c).getOrElse(a)
                  maxs(name) = maxs.get(name).map(c => if (b.compareTo(c) > 0) b else c).getOrElse(b)
                case _ => skip += name
              }
            }
          }
        }
        skip.foreach { n => mins.remove(n); maxs.remove(n) }
        nullSkip.foreach(nulls.remove)
        (rows, mins.view.mapValues(_.toString).toMap,
          maxs.view.mapValues(_.toString).toMap, nulls.toMap)
      } finally reader.close()
    } catch {
      case NonFatal(_) => (-1L, Map.empty, Map.empty, Map.empty)
    }
  }

  /** A reader over `file` whose options come from `conf`: the default
    * options build a fresh `Configuration`, re-parsing Hadoop's XML
    * defaults for every file.
    */
  private[tables] def openFooter(conf: Configuration, file: Path): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf, file).build())

  private def toComparable(v: Any, t: PrimitiveTypeName): Option[Comparable[Any]] = (v, t) match {
    case (i: java.lang.Integer, _) => Some(i.asInstanceOf[Comparable[Any]])
    case (l: java.lang.Long, _) => Some(l.asInstanceOf[Comparable[Any]])
    case (f: java.lang.Float, _) => Some(f.asInstanceOf[Comparable[Any]])
    case (d: java.lang.Double, _) => Some(d.asInstanceOf[Comparable[Any]])
    case (b: Binary, PrimitiveTypeName.BINARY) =>
      try Some(b.toStringUsingUTF8.asInstanceOf[Comparable[Any]]) catch { case NonFatal(_) => None }
    case _ => None
  }

  /** A simple conjunct usable for pruning: `col op literal`. */
  final case class Conjunct(colName: String, op: String, value: String)

  /** Extract prunable conjuncts from a parsed predicate (AND-split; only
    * attr-vs-literal comparisons qualify — everything else is ignored,
    * which is always safe for pruning).
    */
  def prunableConjuncts(pred: Expression): Seq[Conjunct] = pred match {
    case And(l, r) => prunableConjuncts(l) ++ prunableConjuncts(r)
    case cmp: BinaryComparison => conjunctOf(cmp)
    case IsNull(e) => attrOf(e).map(Conjunct(_, "isnull", "")).toSeq
    case IsNotNull(e) => attrOf(e).map(Conjunct(_, "isnotnull", "")).toSeq
    case _ => Seq.empty
  }

  private def attrOf(e: Expression): Option[String] = e match {
    case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => Some(a.name)
    case a: AttributeReference => Some(a.name)
    case _ => None
  }

  private def conjunctOf(cmp: BinaryComparison): Seq[Conjunct] = {
    def attrName(e: Expression): Option[String] = e match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => Some(a.name)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def litVal(e: Expression): Option[String] = e match {
      case Literal(v, _) if v != null => Some(v.toString)
      case _ => None
    }
    val op = cmp match {
      case _: EqualTo => "="
      case _: LessThan => "<"
      case _: LessThanOrEqual => "<="
      case _: GreaterThan => ">"
      case _: GreaterThanOrEqual => ">="
      case _ => return Seq.empty
    }
    (attrName(cmp.left), litVal(cmp.right), attrName(cmp.right), litVal(cmp.left)) match {
      case (Some(c), Some(v), _, _) => Seq(Conjunct(c, op, v))
      case (_, _, Some(c), Some(v)) => Seq(Conjunct(c, flip(op), v))
      case _ => Seq.empty
    }
  }

  private def flip(op: String): String = op match {
    case "<" => ">"
    case "<=" => ">="
    case ">" => "<"
    case ">=" => "<="
    case o => o
  }

  /** Can a file with these stats possibly satisfy the conjunct? Missing
    * stats → must keep (conservative). `rows < 0` means the row count is
    * unknown (never treat it as a bound).
    */
  /** An evaluator deciding, from a file's partition values alone,
    * whether `parsed` holds for its rows: Some(true) = EXACTLY TRUE for
    * every row (the predicate references only partition columns, so it
    * is constant per file), Some(false) = TRUE for NO row (evaluates
    * FALSE or NULL — SQL keeps those rows), None = undecidable for this
    * file (an unconvertible partition value). The predicate must
    * reference only partition columns (single-part names, no
    * subqueries) and is analyzed by Spark's OWN analyzer against the
    * partition schema (type coercion, LIKE, IN, BETWEEN — the whole
    * expression language — behave exactly as the scan would), then
    * interpreted-eval'd per tuple. Powers DELETE's whole-file paths: a
    * TRUE file loses every row without being read (`DELETE WHERE day <
    * X` must not read 100 TB of dropped bytes to write nothing back),
    * a FALSE file is untouched without being read. Outer None = this
    * route can't decide at all (non-partition reference, analyzer
    * refusal, non-deterministic expression).
    */
  def partitionTrueEvaluator(spark: org.apache.spark.sql.SparkSession,
      parsed: Expression, snap: TxLog.Snapshot)
      : Option[TxLog.AddFile => Option[Boolean]] =
    try {
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
      val pcols = snap.partitionColumns
      if (pcols.isEmpty) return None
      val names = parsed.collect { case u: UnresolvedAttribute => u }.map { u =>
        if (u.nameParts.size != 1) return None
        u.nameParts.head
      }
      if (names.isEmpty || !names.forall(pcols.contains)) return None
      if (parsed.exists(_.isInstanceOf[SubqueryExpression])) return None
      val attrs = pcols.map(c => AttributeReference(c, snap.schema(c).dataType)())
      val analyzed = spark.sessionState.analyzer
        .execute(Filter(parsed, LocalRelation(attrs)))
      val cond0 = analyzed match {
        case Filter(c, _: LocalRelation) => c
        case _ => return None
      }
      if (!cond0.resolved || !cond0.deterministic) return None
      // inline RuntimeReplaceable wrappers (BETWEEN and friends) and
      // their common-subexpression refs so interpreted eval works
      val inlined = cond0.transformUp {
        case r: RuntimeReplaceable => r.replacement
      }
      val cond = inlined.transformUp {
        case w: With =>
          val byId = w.defs.map(d => d.id -> d.child).toMap
          w.child.transformUp {
            case ref: CommonExpressionRef => byId.getOrElse(ref.id, ref)
          }
      }
      val bound = BindReferences.bindReference(cond,
        org.apache.spark.sql.catalyst.expressions.AttributeSeq(attrs))
      val ptypes = pcols.map(c => snap.schema(c).dataType)
      Some { f =>
        val vals = new Array[Any](pcols.size)
        var ok = true
        var i = 0
        while (i < pcols.size && ok) {
          f.partitionValues.get(pcols(i)) match {
            case Some(null | "__HIVE_DEFAULT_PARTITION__") => vals(i) = null
            case Some(raw) => partitionInternalValue(ptypes(i), raw) match {
              case Some(v) => vals(i) = v
              case None => ok = false
            }
            case None => ok = false
          }
          i += 1
        }
        if (!ok) None
        else try Some(bound.eval(InternalRow.fromSeq(vals.toIndexedSeq)) == true)
        catch { case NonFatal(_) => None }
      }
    } catch { case NonFatal(_) => None }

  /** A log-recorded partition value string as the column's
    * Catalyst-internal value; floats/decimals bail (writer-dependent
    * renderings), mirroring the conservatism of the absorbed-predicate
    * family. */
  private def partitionInternalValue(dt: DataType, raw: String): Option[Any] =
    dt match {
      case StringType => Some(org.apache.spark.unsafe.types.UTF8String.fromString(raw))
      case BooleanType =>
        if (raw == "true") Some(true) else if (raw == "false") Some(false) else None
      case _ => orderedStatValue(dt, raw).map(v => orderedValueToCatalyst(dt, v))
    }

  def mightMatch(c: Conjunct, dt: DataType,
      minVal: Option[String], maxVal: Option[String],
      nullCount: Option[Long] = None, rows: Long = -1L): Boolean = {
    if (c.op == "isnull")
      return nullCount.forall(_ > 0)
    if (c.op == "isnotnull")
      return nullCount.forall(n => rows < 0 || n < rows)
    (minVal, maxVal) match {
      case (Some(mn), Some(mx)) =>
        try {
          val cmp = comparator(dt)
          c.op match {
            case "=" => cmp(c.value, mn) >= 0 && cmp(c.value, mx) <= 0
            case "<" => cmp(mn, c.value) < 0
            case "<=" => cmp(mn, c.value) <= 0
            case ">" => cmp(mx, c.value) > 0
            case ">=" => cmp(mx, c.value) >= 0
            case _ => true
          }
        } catch { case NonFatal(_) => true }
      case _ => true
    }
  }

  private def comparator(dt: DataType): (String, String) => Int = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      (a, b) => java.lang.Long.compare(a.toLong, b.toLong)
    case FloatType | DoubleType =>
      (a, b) => java.lang.Double.compare(a.toDouble, b.toDouble)
    case _: DecimalType =>
      (a, b) => new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
    case DateType =>
      (a, b) => java.lang.Long.compare(toEpochDays(a), toEpochDays(b))
    case TimestampType =>
      // Literal strings are interpreted in the Spark session timezone (that
      // is how the runtime cast would evaluate them); footer stats are
      // UTC-adjusted epoch micros. Never the JVM default zone.
      val zone = java.time.ZoneId.of(
        org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
      (a, b) => java.lang.Long.compare(toEpochMicros(a, zone), toEpochMicros(b, zone))
    case TimestampNTZType =>
      // NTZ stats and literals are both zone-less local datetimes: fix the
      // zone to UTC so both sides map to the same micros.
      (a, b) =>
        java.lang.Long.compare(
          toEpochMicros(a, java.time.ZoneOffset.UTC), toEpochMicros(b, java.time.ZoneOffset.UTC))
    case _ => (a, b) => a.compareTo(b)
  }

  /** Parquet footer stats carry DATE as INT32 epoch days while predicate
    * literals and hive partition values are ISO strings — normalize both to
    * epoch days before comparing. Unparseable input throws, which
    * `mightMatch` turns into keep-the-file (safe).
    */
  private def toEpochDays(s: String): Long =
    s.toLongOption.getOrElse(java.time.LocalDate.parse(s).toEpochDay)

  /** Same normalization for TIMESTAMP: footer stats are INT64 epoch micros;
    * literals are ISO strings (space- or T-separated, optional fraction,
    * optionally date-only) interpreted in `zone` — the session timezone for
    * TIMESTAMP, UTC for TIMESTAMP_NTZ. java.time only: java.sql.Timestamp
    * .valueOf would silently use the JVM default zone and shift pruning.
    */
  private def toEpochMicros(s: String, zone: java.time.ZoneId): Long =
    s.toLongOption.getOrElse {
      val norm = s.trim.replace(' ', 'T')
      val ldt =
        try java.time.LocalDateTime.parse(norm)
        catch {
          case _: java.time.format.DateTimeParseException =>
            java.time.LocalDate.parse(norm).atStartOfDay()
        }
      val inst = ldt.atZone(zone).toInstant
      Math.multiplyExact(inst.getEpochSecond, 1000000L) + inst.getNano / 1000L
    }

  /** Decode a serialized per-file stat (footer min/max, Delta stats
    * JSON value, Iceberg bound, or hive partition value) of an
    * EXACTLY-representable ordering type into its Long ordering domain —
    * the shared currency of the metadata-only MIN/MAX rewrite. Returns
    * None on unsupported types or unparseable input (the caller then
    * falls back to a scan, always safe).
    *
    * Float/double are excluded ON PURPOSE: parquet footers omit NaN from
    * extremes while SQL MAX ranks NaN above everything, so a footer
    * answer could differ from the scan on NaN-carrying data. Strings
    * are excluded because writers may truncate string stats (Delta
    * truncates to 32 chars) — fine for conservative pruning, unsound
    * for an exact answer.
    */
  def orderedStatValue(dt: DataType, s: String): Option[Long] =
    try dt match {
      case ByteType | ShortType | IntegerType | LongType => Some(s.toLong)
      case DateType => Some(toEpochDays(s))
      case TimestampType => Some(toEpochMicros(s, java.time.ZoneId.of(
        org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)))
      case TimestampNTZType => Some(toEpochMicros(s, java.time.ZoneOffset.UTC))
      case _ => None
    } catch { case NonFatal(_) => None }

  /** Inverse of [[orderedStatValue]]'s domain: a Long ordering value back
    * to the column type's Catalyst-internal representation.
    */
  def orderedValueToCatalyst(dt: DataType, v: Long): Any = dt match {
    case ByteType => v.toByte
    case ShortType => v.toShort
    case IntegerType | DateType => v.toInt
    case _ => v
  }

  /** Manifest-level file pruning: keep only the snapshot's files whose
    * partition values or min/max stats might satisfy `predicate`.
    */
  def survivingFiles(spark: org.apache.spark.sql.SparkSession, snap: TxLog.Snapshot,
      predicate: String): Seq[TxLog.AddFile] =
    survivingFiles(snap, snap.files, prunableConjuncts(
      spark.sessionState.sqlParser.parseExpression(predicate)))

  /** Files of `files` whose partition values or min/max/null-count
    * stats might satisfy every conjunct (`snap` supplies the column
    * types and which columns are partition columns).
    */
  def survivingFiles(snap: TxLog.Snapshot, files: Seq[TxLog.AddFile],
      conjuncts: Seq[Conjunct]): Seq[TxLog.AddFile] = {
    if (conjuncts.isEmpty) return files
    val fieldTypes = snap.schema.fields.map(f => f.name -> f.dataType).toMap
    val partSet = snap.partitionColumns.toSet
    files.filter { f =>
      conjuncts.forall { c =>
        fieldTypes.get(c.colName) match {
          case Some(dt) if partSet.contains(c.colName) =>
            val v = f.partitionValues.get(c.colName)
            mightMatch(c, dt, v, v)
          case Some(dt) =>
            mightMatch(c, dt,
              f.minValues.flatMap(_.get(c.colName)), f.maxValues.flatMap(_.get(c.colName)),
              f.nullCounts.flatMap(_.get(c.colName)), f.rows)
          case None => true
        }
      }
    }
  }
}
