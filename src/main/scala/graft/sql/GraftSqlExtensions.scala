package graft.sql

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.{SparkSession => ClassicSparkSession, Dataset => ClassicDataset}
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
import org.apache.spark.sql.types.IntegerType

import scala.util.control.NonFatal

import graft.client.LakehouseClient

/** SQL integration for 3-level names: resolves
  * `<catalog>.<schema>.<table>` in `spark.sql` against the graft catalog
  * store by rewriting UnresolvedRelation into the table's analyzed read
  * plan (parquet/csv/avro relation or TxLog file-list scan).
  *
  * This is the SparkSessionExtensions resolution-rule route (build-brief
  * preference (c)) rather than a DataSourceV2 TableCatalog: the rewrite
  * lands on Spark's native file-source relations, so vectorized parquet
  * readers, pushdown, and pruning all stay intact — a DSv2 Table would
  * need a custom PartitionReaderFactory that forfeits vectorization.
  *
  * Usage:
  *   GraftSqlExtensions.register(client)          // after session start
  *   spark.sql("SELECT * FROM main.default.orders")
  */
object GraftSqlExtensions {

  /** Per-session registry of clients whose catalogs are SQL-visible
    * (weak keys: a dropped session releases its client).
    */
  private val clients = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, LakehouseClient]())

  def register(client: LakehouseClient): Unit =
    clients.put(client.spark, client)

  def unregister(client: LakehouseClient): Unit =
    clients.remove(client.spark)

  private[sql] def clientFor(session: org.apache.spark.sql.SparkSession): Option[LakehouseClient] =
    Option(clients.get(session))

  final case class ResolveGraftRelations(session: ClassicSparkSession) extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = {
      val client = clients.get(session)
      if (client == null) return plan
      // Pass 1, TOP-DOWN: SQL DML on 3-part names, rewritten into
      // eagerly-executed commands that route through the SAME
      // client/TxTable write surface the programmatic API uses (full
      // write matrix, all three log formats). Top-down because the DML
      // target is the statement node's CHILD (except INSERT) — a
      // bottom-up pass would resolve it into a read relation before the
      // statement node is visited. Statement source queries stay
      // UNANALYZED inside the command and resolve at execution — no
      // re-entrant analysis inside this rule.
      val afterDml = plan.resolveOperatorsDown {
        case i: InsertIntoStatement =>
          GraftSqlDml.rewriteInsertToBranch(session, client, i)
            .orElse(GraftSqlDml.rewriteInsert(session, client, i)).getOrElse(i)
        case d @ DeleteFromTable(target, condition) =>
          GraftSqlDml.rewriteDelete(session, client, target, condition).getOrElse(d)
        case u @ UpdateTable(target, assignments, condition) =>
          GraftSqlDml.rewriteUpdate(session, client, target, assignments, condition)
            .getOrElse(u)
        case m: MergeIntoTable =>
          GraftSqlDml.rewriteMerge(session, client, m).getOrElse(m)
        case ct: CreateTableAsSelect =>
          GraftSqlDml.rewriteCreateTableAsSelect(session, client, ct).getOrElse(ct)
        case rt: ReplaceTableAsSelect =>
          GraftSqlDml.rewriteReplaceTableAsSelect(session, client, rt).getOrElse(rt)
        case ct: CreateTable =>
          GraftSqlDml.rewriteCreateTable(session, client, ct).getOrElse(ct)
        case d: DropTable =>
          GraftSqlDml.rewriteDropTable(session, client, d).getOrElse(d)
        case a: AddColumns =>
          GraftSqlDml.rewriteAddColumns(session, client, a).getOrElse(a)
        case r: RenameColumn =>
          GraftSqlDml.rewriteRenameColumn(session, client, r).getOrElse(r)
        case dc: DropColumns =>
          GraftSqlDml.rewriteDropColumns(session, client, dc).getOrElse(dc)
        case sp: SetTableProperties =>
          GraftSqlDml.rewriteSetProperties(session, client, sp).getOrElse(sp)
        case up: UnsetTableProperties =>
          GraftSqlDml.rewriteUnsetProperties(session, client, up).getOrElse(up)
        case st: ShowTables =>
          GraftSqlDml.rewriteShowTables(session, client, st).getOrElse(st)
        case dr: DescribeRelation =>
          GraftSqlDml.rewriteDescribe(session, client, dr).getOrElse(dr)
        case sp: ShowTableProperties =>
          GraftSqlDml.rewriteShowTblProperties(session, client, sp).getOrElse(sp)
      }
      // Pass 2, bottom-up: reads and time travel
      afterDml.resolveOperatorsUp {
        // SQL time travel: SELECT ... FROM cat.sch.tbl VERSION AS OF 3
        // (or TIMESTAMP AS OF '...') over the transactional formats
        case tt @ org.apache.spark.sql.catalyst.analysis.RelationTimeTravel(
            UnresolvedRelation(parts, _, _), tsExpr, version) if parts.length == 3 =>
          resolveTravel(client, parts(0), parts(1), parts(2), tsExpr, version).getOrElse(tt)
        case u @ UnresolvedRelation(parts, _, _) if parts.length == 3 =>
          resolve(client, parts(0), parts(1), parts(2)).getOrElse(u)
        // Iceberg ref suffix reads: cat.sch.tbl.branch_<b> / .tag_<t> —
        // the audit half of write-audit-publish
        case u @ UnresolvedRelation(parts, _, _) if parts.length == 4 &&
            (parts(3).startsWith("branch_") || parts(3).startsWith("tag_")) =>
          resolveRefRead(client, parts).getOrElse(u)
        // Inspection-table suffix reads, Iceberg's own SQL convention
        // (SELECT * FROM db.table.files): metadata-SIZED relations built
        // from log/manifest replay — no data file is opened, so "what
        // files / partitions / snapshots does this table hold" answers
        // at O(metadata) cost on a 100 TB table. Iceberg tables expose
        // the full set via IcebergMeta; Delta/native tables expose
        // `files` and `partitions` derived from the commit-log snapshot.
        case u @ UnresolvedRelation(parts, _, _) if parts.length == 4 &&
            MetaTableNames.contains(parts(3).toLowerCase(java.util.Locale.ROOT)) =>
          resolveMetaRead(client, parts).getOrElse(u)
        // Delta-style change-feed TVF over BOTH change-feed
        // implementations (Delta CDF, Iceberg snapshot-diff changelog):
        //   SELECT * FROM table_changes('cat.sch.t', from [, to])
        case tvf @ org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction(
            nameParts, args, _)
            if nameParts.map(_.toLowerCase(java.util.Locale.ROOT)) == Seq("table_changes") =>
          resolveTableChanges(client, args).getOrElse(tvf)
      }
    }

    private def resolveTableChanges(client: LakehouseClient,
        args: Seq[Expression]): Option[LogicalPlan] = {
      if (args.size < 2 || args.size > 3 || !args.forall(_.foldable))
        throw graft.catalog.UnsupportedOperationError(
          "table_changes(table_name, from[, to]) takes literal arguments: " +
            "versions (BIGINT) or timestamps (TIMESTAMP, or a STRING like " +
            "'2024-01-01 00:00:00')")
      val name = args.head.eval(null) match {
        case u: org.apache.spark.unsafe.types.UTF8String => u.toString
        case other => String.valueOf(other)
      }
      val parts = name.split('.')
      if (parts.length != 3)
        throw graft.catalog.UnsupportedOperationError(
          s"table_changes: expected a 3-part catalog.schema.table name, got '$name'")
      val info =
        try client.getTable(parts(0), parts(1), parts(2))
        catch { case _: graft.catalog.DoesNotExistError => return None }
      val loc = graft.io.TableIO.normalize(info.storageLocation.getOrElse(
        throw graft.catalog.UnsupportedOperationError(
          s"table_changes: table $name has no storage location")))
      val t = graft.tables.TxTable.forAnyLocation(session, loc)
      // Delta's TVF convention decides by TYPE: integral literals are
      // versions, timestamp/string literals are timestamps. A FROM
      // timestamp resolves to the first commit AT or AFTER it, a TO
      // timestamp to the last commit at or before it — with millisecond
      // commit times, "first >= ts" is exactly "(last <= ts-1) + 1", so
      // both bounds reuse the log's one versionAtTimestamp primitive.
      def tsMs(e: Expression): Option[Long] = e.dataType match {
        case org.apache.spark.sql.types.TimestampType =>
          Some(Math.floorDiv(e.eval(null).asInstanceOf[Long], 1000L))
        case org.apache.spark.sql.types.StringType =>
          val raw = e.eval(null).toString
          // ANSI mode makes a malformed cast THROW; either way surface
          // one uniform error naming the literal
          val micros = try org.apache.spark.sql.catalyst.expressions.Cast(
            org.apache.spark.sql.catalyst.expressions.Literal(
              org.apache.spark.unsafe.types.UTF8String.fromString(raw),
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.TimestampType,
            Some(session.sessionState.conf.sessionLocalTimeZone)).eval(null)
          catch { case _: Exception => null }
          if (micros == null)
            throw graft.catalog.UnsupportedOperationError(
              s"table_changes: cannot parse timestamp '$raw'")
          Some(Math.floorDiv(micros.asInstanceOf[Long], 1000L))
        case _ => None // integral → version
      }
      def bound(e: Expression, isFrom: Boolean): Long = tsMs(e) match {
        case None => String.valueOf(e.eval(null)).toLong
        case Some(ms) if isFrom =>
          try t.log.versionAtTimestamp(session, loc, ms - 1) + 1
          catch { case _: graft.catalog.DoesNotExistError => 0L } // predates the log → everything
        case Some(ms) =>
          t.log.versionAtTimestamp(session, loc, ms) // predates the log → its own clear error
      }
      Some(t.tableChanges(bound(args(1), isFrom = true),
        if (args.size == 3) Some(bound(args(2), isFrom = false)) else None)
        .queryExecution.analyzed)
    }

    private val MetaTableNames = Set(
      "snapshots", "history", "manifests", "files", "delete_files",
      "partitions", "refs")

    private def resolveMetaRead(client: LakehouseClient,
        parts: Seq[String]): Option[LogicalPlan] = {
      val info =
        try client.getTable(parts(0), parts(1), parts(2))
        catch { case _: graft.catalog.DoesNotExistError => return None }
      val loc = graft.io.TableIO.normalize(info.storageLocation.getOrElse(return None))
      val name = parts(3).toLowerCase(java.util.Locale.ROOT)
      val df: org.apache.spark.sql.DataFrame = info.fileType match {
        case graft.catalog.FileType.ICEBERG =>
          graft.tables.IcebergMeta.table(session, loc, name)
        case graft.catalog.FileType.DELTA => name match {
          // Delta/native logs expose the two shapes their snapshot can
          // answer; the Iceberg-specific ones raise a clear error
          case "files" =>
            val snap = graft.tables.SnapshotCache.latest(session, loc)._2
            import session.implicits._
            snap.files.map(f => (f.path, f.rows,
              f.sizeBytes, f.partitionValues,
              f.deletionVector.map(_.cardinality).getOrElse(0L))).toDF(
              "file_path", "record_count", "file_size_in_bytes",
              "partition", "dv_cardinality")
          case "partitions" =>
            val t = graft.tables.TxTable.forAnyLocation(session, loc)
            import session.implicits._
            t.partitionStats().map { case (pv, st) =>
              (pv, st.rowCount, st.fileCount, st.sizeBytes)
            }.toDF("partition", "record_count", "file_count", "total_size_bytes")
          case other => throw graft.catalog.UnsupportedOperationError(
            s"metadata table '$other' needs an ICEBERG table; " +
              s"${info.fullName} exposes files and partitions")
        }
        case _ => return None // plain formats: let Spark's resolver error
      }
      Some(df.queryExecution.analyzed)
    }

    private def resolveRefRead(client: LakehouseClient,
        parts: Seq[String]): Option[LogicalPlan] = {
      val info =
        try client.getTable(parts(0), parts(1), parts(2))
        catch { case _: graft.catalog.DoesNotExistError => return None }
      if (info.fileType != graft.catalog.FileType.ICEBERG) None
      else {
        val loc = graft.io.TableIO.normalize(info.storageLocation.get)
        // exactly ONE prefix strips — a branch literally named
        // "tag_nightly" must resolve as-is after "branch_" comes off
        val ref =
          if (parts(3).startsWith("branch_")) parts(3).stripPrefix("branch_")
          else parts(3).stripPrefix("tag_")
        // an unknown REF on a known table raises its own clear error
        Some(graft.tables.IcebergLog.toDFAtRef(session, loc, ref)
          .queryExecution.analyzed)
      }
    }

    private def resolveTravel(client: LakehouseClient, cat: String, sch: String,
        tbl: String,
        tsExpr: Option[org.apache.spark.sql.catalyst.expressions.Expression],
        version: Option[String]): Option[LogicalPlan] =
      try {
        val info = client.getTable(cat, sch, tbl)
        import graft.catalog.FileType
        if (info.fileType != FileType.DELTA && info.fileType != FileType.ICEBERG)
          throw graft.catalog.UnsupportedOperationError(
            s"time travel requires a transactional table; ${info.fullName} is ${info.fileType}")
        val loc = graft.io.TableIO.normalize(info.storageLocation.get)
        val t = graft.tables.TxTable.forAnyLocation(session, loc)
        // VERSION AS OF 'refname' on Iceberg: tags and branches travel
        // by name (the audit read of write-audit-publish)
        if (version.exists(_.toLongOption.isEmpty)) {
          if (info.fileType != FileType.ICEBERG)
            throw graft.catalog.UnsupportedOperationError(
              s"VERSION AS OF '${version.get}': named refs need an ICEBERG table")
          return Some(graft.tables.IcebergLog.toDFAtRef(session, loc, version.get)
            .queryExecution.analyzed)
        }
        val v: Long = version.map(_.toLong).getOrElse {
          val micros = org.apache.spark.sql.catalyst.expressions.Cast(
            tsExpr.get, org.apache.spark.sql.types.TimestampType,
            Some(session.sessionState.conf.sessionLocalTimeZone))
            .eval(null).asInstanceOf[Long]
          t.log.versionAtTimestamp(session, loc, Math.floorDiv(micros, 1000L))
        }
        // `VERSION AS OF <latest>` (the common "pin what I see" shape)
        // serves snapshot AND plan from the cache; genuine history
        // replays and builds fresh
        val (snap, df) = graft.tables.SnapshotCache.dfAt(session, loc, v)
        val plan = df.queryExecution.analyzed
        // time-traveled aggregates are metadata-only too, served from
        // the snapshot at v this read was built on
        plan.setTagValue(GraftSqlExtensions.ReadSnapshotTag, (loc, snap))
        Some(plan)
      } catch {
        case _: graft.catalog.DoesNotExistError => None
      }

    private def resolve(client: LakehouseClient, cat: String, sch: String, tbl: String): Option[LogicalPlan] =
      try {
        val info = client.getTable(cat, sch, tbl) // existence check with catalog-store semantics
        import graft.catalog.FileType
        if ((info.fileType == FileType.DELTA || info.fileType == FileType.ICEBERG)
            && info.storageLocation.isDefined) {
          // transactional formats: build the read PINNED at the current
          // snapshot and tag the plan with THAT snapshot instance — a
          // DataFrame held across a later commit must keep answering
          // from the snapshot its file list was planned against
          // (df.count() and df.collect() have to agree), exactly like
          // the time-travel path above
          val loc = graft.io.TableIO.normalize(info.storageLocation.get)
          // cross-query cached: an unchanged table resolves its snapshot
          // AND reuses its constructed read plan — no log replay, no
          // O(files) plan rebuild per query
          val (_, snap, df) = graft.tables.SnapshotCache.latestDF(session, loc)
          val plan = df.queryExecution.analyzed
          plan.setTagValue(GraftSqlExtensions.ReadSnapshotTag, (loc, snap))
          Some(plan)
        } else Some(client.readTable(cat, sch, tbl).queryExecution.analyzed)
      } catch {
        case _: graft.catalog.DoesNotExistError => None
      }
  }

  /** (location, snapshot) of the read a ResolveGraftRelations plan was
    * built on — the exact instance its LogFileIndex lists. Every
    * MetadataOnlyCount serve answers from this snapshot, so a held
    * DataFrame or a time-travel read counts what its scan would read,
    * and all aggregates of one SELECT answer from ONE snapshot without
    * a second lookup. Tags ride the analyzed relation node only: a
    * DataFrame-API read carries none and is never served.
    */
  private[sql] val ReadSnapshotTag = org.apache.spark.sql.catalyst.trees
    .TreeNodeTag[(String, graft.tables.TxLog.Snapshot)]("graft.readSnapshot")

  /** ANALYZE-stamped exact MIN/MAX while the fingerprint is fresh —
    * the fallback when the per-file extremes of [[exactGroupedAgg]]
    * bail (strings truncate in footer stats, floats have NaN/-0.0
    * hazards, live DVs hide extremes — but the ANALYZE scan computed
    * the TRUE extreme with Spark's own ordering, and appends fold it
    * forward exactly). Outer None = not servable; inner null = SQL NULL. */
  private[sql] def statsMinMax(snap: graft.tables.TxLog.Snapshot,
      colName: String, isMin: Boolean): Option[Any] =
    try graft.tables.ColumnStats.currentMinMax(snap, colName, isMin).map(_.orNull)
    catch { case NonFatal(_) => None }

  /** ANALYZE-time NDV of `colName` IF the stamped stats still describe
    * the snapshot (ColumnStats fingerprint match), else None → scan.
    */
  private[sql] def statsNdv(snap: graft.tables.TxLog.Snapshot,
      colName: String): Option[Any] =
    try graft.tables.ColumnStats.currentNdv(snap, colName).map(identity[Any])
    catch { case NonFatal(_) => None }

  /** ANALYZE-time exact SUM while fresh: outer None = not servable
    * (stale/absent/overflow), inner None = SQL NULL. */
  private[sql] def statsSum(snap: graft.tables.TxLog.Snapshot,
      colName: String): Option[Option[Long]] =
    try graft.tables.ColumnStats.currentSum(snap, colName)
    catch { case NonFatal(_) => None }

  /** ANALYZE-stamped exact non-null `COUNT(col)` while fresh — the
    * route that keeps COUNT(col) scan-free when live deletion vectors
    * block the per-file null-count arithmetic (a MoR delete hides rows
    * whose nullness metadata can't see; the folded stamp counted them
    * exactly). */
  private[sql] def statsCount(snap: graft.tables.TxLog.Snapshot,
      colName: String): Option[Any] =
    try graft.tables.ColumnStats.currentCount(snap, colName).map(identity[Any])
    catch { case NonFatal(_) => None }

  /** `APPROX_COUNT_DISTINCT(col)` under an absorbed partition-only
    * WHERE, answered by exact-merging the ANALYZE-stamped PER-PARTITION
    * KMV sketches of exactly the partitions the predicate keeps
    * ("distinct users WHERE day >= X" — the permanent dashboard shape
    * the table-wide sketch can't serve). Requires a fresh fingerprint,
    * every predicate column to be a partition column at stamp time, and
    * every stamped tuple's membership to be exactly decidable under the
    * same three-valued PartPred logic the exact aggregates use; the
    * merge is O(#partitions × k) driver work over property bytes — no
    * file is opened. None = unprovable → scan.
    */
  /** A FRESH per-partition layer's tuples surviving the absorbed
    * predicate family: (snapshot, all stamped tuples, surviving tuple
    * indices). None = unprovable (stale/absent layer, a non-partition
    * predicate column, an undecidable tuple). The shared core of every
    * stamped-layer serve below.
    */
  private def survivingTuples(session: ClassicSparkSession, loc: String,
      readSnap: graft.tables.TxLog.Snapshot, preds: Seq[PartPred])
      : Option[(graft.tables.TxLog.Snapshot, Seq[Seq[String]], Seq[Int])] = {
    // the read's snapshot is the RAW one: a sidecar-stored partition
    // layer is not inlined, so table-wide serves never pay a sidecar
    // read. Inline the per-tuple cells HERE, the one place the layer is
    // read (write-once files through the parsed cache, so repeated
    // serves re-merge a map, not re-read a file)
    val snap = graft.tables.ColumnStats.withLayer(session, loc, readSnap)
    val pcols = snap.partitionColumns
    if (pcols.isEmpty) return None
    if (!preds.forall(p => pcols.contains(p.col))) return None
    val fieldType = snap.schema.fields.map(f => f.name -> f.dataType).toMap
    val tuples = graft.tables.ColumnStats.currentPartitionTuples(snap)
      .getOrElse(return None)
    val keep = tuples.zipWithIndex.filter { case (tuple, _) =>
      preds.forall { p =>
        val raw = tuple(pcols.indexOf(p.col))
        p.eval(raw, s => graft.tables.ColumnStats
            .stampedPartitionValue(fieldType(p.col), s))
          .getOrElse(return None)
      }
    }.map(_._2)
    Some((snap, tuples, keep))
  }

  /** One keep-set's served value for a stamped-layer output kind — THE
    * shared core of the filtered (ungrouped) and grouped serves, which
    * differ ONLY in the shape of the keep-set ([[statsPartitionServe]]
    * passes the one surviving set, [[statsGroupedPartitionServe]] one
    * set per group). Returns the FINAL cell value (SQL NULL as a null
    * inside Some); None = unprovable → the whole serve falls to scan.
    *
    * Per kind:
    *   - NDV of a PARTITION column is exact: its filtered distinct set
    *     is exactly the keep-set's slot values (every stamped tuple
    *     holds >=1 live row — appends extend the layer, a pure
    *     partition DROP shrinks it exactly, any other removal unsets
    *     it); DISTINCT excludes SQL NULL. Non-partition NDV exact-merges
    *     the stamped KMV sketches.
    *   - SUM/MIN/MAX are exact from the per-partition scalar cells (the
    *     extremes route covers exactly the types per-file footer stats
    *     refuse: strings, floats); SQL NULL decided by the merged
    *     non-null count.
    *   - AVG / central moments derive from exact (n, Σx, Σx²).
    *   - APPROX_PERCENTILE merges the surviving digests (disjoint row
    *     sets), gated on the call's tolerance covering the MERGED
    *     digest's own recorded ε; an empty scope / all-null column
    *     answers SQL NULL.
    */
  private def stampedCellValue(snap: graft.tables.TxLog.Snapshot,
      tuples: Seq[Seq[String]], out: StampedOut, idxs: Seq[Int]): Option[Any] = {
    val cs = graft.tables.ColumnStats
    out match {
      case StampedApprox(c) =>
        val pcols = snap.partitionColumns
        if (pcols.contains(c)) {
          val slot = pcols.indexOf(c)
          Some(idxs.map(tuples(_)(slot)).filter(_ != null).distinct.size.toLong)
        } else cs.mergedPartitionNdv(snap, c, idxs).map(identity[Any])
      case StampedSum(c) =>
        cs.mergedPartitionSum(snap, c, idxs).map(_.map(identity[Any]).orNull)
      case StampedCntCol(c) =>
        cs.mergedPartitionCount(snap, c, idxs).map(identity[Any])
      case StampedMinMax(c, isMin) =>
        cs.mergedPartitionMinMax(snap, c, isMin, idxs).map(_.orNull)
      case StampedAvg(c) =>
        val cnt = cs.mergedPartitionCount(snap, c, idxs).getOrElse(return None)
        if (cnt == 0L) Some(null)
        else cs.mergedPartitionMoment(snap, c, idxs, isSq = false)
          .map(s => java.lang.Double.valueOf(s.toDouble / cnt.toDouble): Any)
      case StampedMoment(c, mk) =>
        partitionMoments(snap, c, idxs).map { case (n, s, q) =>
          momentValue(n, s, q, mk)
        }
      case StampedPercentile(c, pcts, isArray, acc, dt) =>
        if (acc <= 0 || pcts.exists(p => p < 0.0 || p > 1.0)) return None
        cs.mergedPartitionQuantile(snap, c, idxs).flatMap {
          case None => Some(Seq.empty) // keep-set empty: SQL NULL below
          case Some(d) =>
            if (1.0 / acc.toDouble < d.quantileSummaries.relativeError) None
            else if (graft.functions.QuantileDigest.count(d) == 0L) Some(Seq.empty)
            else Some(graft.functions.QuantileDigest
              .percentiles(d, pcts.toArray).toSeq)
        }.map(vals => percentileResult(vals, dt, isArray))
    }
  }

  /** A stamped-layer output under an absorbed partition-only WHERE:
    * the surviving tuples' cells folded per [[stampedCellValue]].
    * None = unprovable → scan. */
  private[sql] def statsPartitionServe(session: ClassicSparkSession,
      loc: String, readSnap: graft.tables.TxLog.Snapshot, out: StampedOut,
      preds: Seq[PartPred]): Option[Any] =
    try {
      val (snap, tuples, keep) =
        survivingTuples(session, loc, readSnap, preds).getOrElse(return None)
      stampedCellValue(snap, tuples, out, keep)
    } catch { case NonFatal(_) => None }

  /** A stamped-layer output `... GROUP BY pcol`: each group's surviving
    * tuples folded per [[stampedCellValue]] — the per-day dashboard
    * rollup as one property read. Keys are Catalyst-internal values
    * (comparable with exactGroupedAgg's keys, so mixed exact+stamped
    * outputs join on them). None = unprovable → scan. */
  private[sql] def statsGroupedPartitionServe(session: ClassicSparkSession,
      loc: String, readSnap: graft.tables.TxLog.Snapshot, out: StampedOut,
      groupCols: Seq[String], preds: Seq[PartPred]): Option[Map[Seq[Any], Any]] =
    try {
      val (snap, tuples, groups) =
        groupedSurviving(session, loc, readSnap, groupCols, preds).getOrElse(return None)
      Some(groups.map { case (k, idxs) =>
        k -> stampedCellValue(snap, tuples, out, idxs).getOrElse(return None)
      }.toMap)
    } catch { case NonFatal(_) => None }

  /** Exact `AVG(col)` from the table-wide stamped moments while fresh:
    * exact-BigInt sum ÷ non-null count, rounded once — the engine's own
    * davg determinism contract served as metadata. Some(null) = SQL
    * NULL (zero non-null values); None = scan. */
  private[sql] def statsAvg(snap: graft.tables.TxLog.Snapshot,
      colName: String): Option[Any] =
    try {
      val cnt = graft.tables.ColumnStats.currentCount(snap, colName)
        .getOrElse(return None)
      if (cnt == 0L) return Some(null) // zero non-null values: SQL NULL
      graft.tables.ColumnStats.currentSumBig(snap, colName)
        .getOrElse(return None)
        .map(s => java.lang.Double.valueOf(s.toDouble / cnt.toDouble): Any)
        .orElse(return None) // cnt>0 but sum "null": stamp out of shape
    } catch { case NonFatal(_) => None }

  /** `VAR`/`STDDEV` forms of `(col)` from the table-wide stamped moments while
    * fresh (see [[momentValue]] for the SQL shape). None = scan. */
  private[sql] def statsVar(snap: graft.tables.TxLog.Snapshot,
      colName: String, mk: MomentKind): Option[Any] =
    try {
      val cnt = graft.tables.ColumnStats.currentCount(snap, colName)
        .getOrElse(return None)
      if (cnt == 0L) return Some(null)
      val s = graft.tables.ColumnStats.currentSumBig(snap, colName)
        .getOrElse(return None).getOrElse(return None)
      val q = graft.tables.ColumnStats.currentSumSqBig(snap, colName)
        .getOrElse(return None).getOrElse(return None)
      Some(momentValue(BigInt(cnt), s, q, mk))
    } catch { case NonFatal(_) => None }

  /** `APPROX_PERCENTILE(col, p[, accuracy])` from the ANALYZE-stamped
    * quantile sketch while fresh — served ONLY when the call's rank
    * tolerance (1/accuracy) is no tighter than the stamp's ε (the
    * stamped digest carries its own relativeError, so the gate reads
    * the truth, not a build constant). Some(Seq.empty) = empty column
    * (SQL NULL); outer None = stale/absent/too-tight → scan. The
    * answer is the SAME GK summary Spark's own approx_percentile
    * builds, folded forward across appends by the same compress+merge
    * step its partial-aggregate tree runs. */
  private[sql] def statsPercentile(snap: graft.tables.TxLog.Snapshot,
      colName: String, percentages: Array[Double],
      accuracy: Long): Option[Seq[Double]] =
    try {
      if (accuracy <= 0 || percentages.exists(p => p < 0.0 || p > 1.0)) return None
      val d = graft.tables.ColumnStats.currentQuantileDigest(snap, colName)
        .getOrElse(return None)
      if (1.0 / accuracy.toDouble < d.quantileSummaries.relativeError) return None
      if (graft.functions.QuantileDigest.count(d) == 0L) return Some(Seq.empty)
      Some(graft.functions.QuantileDigest.percentiles(d, percentages).toSeq)
    } catch { case NonFatal(_) => None }

  /** The percentile serve's doubles converted back to the matched
    * aggregate's RESULT representation (mirrors Spark's own
    * ApproximatePercentile.eval conversions). */
  private def percentileResult(vals: Seq[Double],
      dt: org.apache.spark.sql.types.DataType, isArray: Boolean): Any = {
    import org.apache.spark.sql.types._
    if (vals.isEmpty) null // empty column: SQL NULL, array or not
    else {
      val conv: Seq[Any] = dt match {
        case ByteType => vals.map(_.toByte)
        case ShortType => vals.map(_.toShort)
        case IntegerType => vals.map(_.toInt)
        case LongType => vals.map(_.toLong)
        case FloatType => vals.map(_.toFloat)
        case _ => vals
      }
      if (isArray)
        new org.apache.spark.sql.catalyst.util.GenericArrayData(conv.toArray)
      else conv.head
    }
  }

  /** (n, Σx, Σx²) over the `keep` tuples, or None when any cell is
    * missing/overflowed. n==0 short-circuits to (0,0,0) — the moment
    * serves answer NULL there without needing sum/sq cells. */
  private def partitionMoments(snap: graft.tables.TxLog.Snapshot,
      colName: String, keep: Seq[Int]): Option[(BigInt, BigInt, BigInt)] = {
    val cnt = graft.tables.ColumnStats.mergedPartitionCount(snap, colName, keep)
      .getOrElse(return None)
    if (cnt == 0L) return Some((BigInt(0), BigInt(0), BigInt(0)))
    for {
      s <- graft.tables.ColumnStats
        .mergedPartitionMoment(snap, colName, keep, isSq = false)
      q <- graft.tables.ColumnStats
        .mergedPartitionMoment(snap, colName, keep, isSq = true)
    } yield (BigInt(cnt), s, q)
  }

  /** Surviving tuples GROUPED by the decoded group-key values — the
    * shared core of the grouped stamped-layer serves. Keys are
    * Catalyst-internal values (comparable with exactGroupedAgg's keys,
    * so mixed exact+stamped outputs join on them); a NULL group-key
    * value falls to the scan, consistent with [[exactGroupedAgg]].
    */
  private def groupedSurviving(session: ClassicSparkSession, loc: String,
      readSnap: graft.tables.TxLog.Snapshot, groupCols: Seq[String], preds: Seq[PartPred])
      : Option[(graft.tables.TxLog.Snapshot, Seq[Seq[String]],
        scala.collection.mutable.LinkedHashMap[Seq[Any], Vector[Int]])] =
    try {
      val (snap, tuples, keepIdx) =
        survivingTuples(session, loc, readSnap, preds).getOrElse(return None)
      val pcols = snap.partitionColumns
      if (!groupCols.forall(pcols.contains)) return None
      val fieldType = snap.schema.fields.map(f => f.name -> f.dataType).toMap
      val slots = groupCols.map(pcols.indexOf)
      val groups = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], Vector[Int]]
      keepIdx.foreach { i =>
        val tuple = tuples(i)
        val key = slots.map { s =>
          val raw = tuple(s)
          if (raw == null) return None // NULL-keyed group → scan
          graft.tables.ColumnStats.stampedPartitionValue(fieldType(pcols(s)), raw)
            .getOrElse(return None)
        }
        groups(key) = groups.getOrElse(key, Vector.empty) :+ i
      }
      Some((snap, tuples, groups))
    } catch { case NonFatal(_) => None }

  /** A partition-value STRING to the column's Catalyst-internal value.
    * Unlike min/max stats, partition values are exact (never truncated),
    * so strings are convertible here even though the per-file extremes
    * exclude them; floats still bail (their partition-string round-trip is
    * writer-dependent).
    */
  private def partitionValueToCatalyst(dt: org.apache.spark.sql.types.DataType,
      s: String): Option[Any] = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      case BooleanType =>
        if (s == "true") Some(true) else if (s == "false") Some(false) else None
      case other =>
        graft.tables.FileStats.orderedStatValue(other, s)
          .map(graft.tables.FileStats.orderedValueToCatalyst(other, _))
    }
  }

  /** A partition value as the log records it, normalized to SQL
    * semantics exactly as the read decodes it (LogFileIndex): JSON null
    * and the hive path sentinel `__HIVE_DEFAULT_PARTITION__` are NULL.
    * None = no value for the column (unprovable membership → callers
    * fall to the scan). */
  private def rawPartValue(f: graft.tables.TxLog.AddFile, col: String): Option[String] =
    f.partitionValues.get(col).map {
      case "__HIVE_DEFAULT_PARTITION__" => null
      case v => v
    }

  /** One absorbed partition-predicate conjunct. `eval` is SQL
    * three-valued logic reduced to "does the row survive the WHERE":
    * the raw partition value may be NULL (every comparison with a
    * non-null literal is then UNKNOWN → row filtered, while IS NULL is
    * exactly TRUE), and an unconvertible value answers None →
    * unprovable, fall to scan.
    */
  private[sql] sealed trait PartPred {
    def col: String
    /** Some(survives) when exactly decidable from the (possibly null)
      * partition value string; None = unprovable. */
    def eval(raw: String, conv: String => Option[Any]): Option[Boolean]
  }
  private[sql] final case class PartIn(col: String, values: Set[Any]) extends PartPred {
    def eval(raw: String, conv: String => Option[Any]): Option[Boolean] =
      if (raw == null) Some(false) // NULL = x / NULL IN (...) is UNKNOWN
      else conv(raw).map(values.contains)
  }
  /** `col <> lit` / `col NOT IN (lits)` — provable from exact partition
    * values: a null partition value is UNKNOWN → filtered (SQL `<>`
    * drops nulls), any other value survives iff it differs from every
    * literal (the literals are non-null by construction).
    */
  private[sql] final case class PartNotIn(col: String, values: Set[Any]) extends PartPred {
    def eval(raw: String, conv: String => Option[Any]): Option[Boolean] =
      if (raw == null) Some(false)
      else conv(raw).map(v => !values.contains(v))
  }
  /** `col IS NULL` / `col IS NOT NULL` — the one predicate family for
    * which a NULL partition value is the provable-TRUE case, not a
    * bail-out. No value conversion involved.
    */
  private[sql] final case class PartIsNull(col: String, negated: Boolean) extends PartPred {
    def eval(raw: String, conv: String => Option[Any]): Option[Boolean] =
      Some((raw == null) != negated)
  }
  /** `col [NOT] LIKE 'prefix%'` on a STRING partition column — the
    * `day LIKE '2026-08%'` dashboard shape. A trailing-`%`-only pattern
    * is exact prefix equality on the exact partition value (LIKE's `%`
    * matches any tail including empty); null partition values are
    * UNKNOWN → filtered either way. Patterns with interior wildcards,
    * `_`, or escapes never build this predicate (parse-time bail).
    */
  private[sql] final case class PartPrefix(col: String, prefix: String,
      negated: Boolean) extends PartPred {
    def eval(raw: String, conv: String => Option[Any]): Option[Boolean] =
      if (raw == null) Some(false)
      else Some(raw.startsWith(prefix) != negated)
  }
  /** `op` in <, <=, >, >= against a SAME-TYPED literal value. The
    * convertible partition types (Int/Long/Date-as-Int/UTF8String/
    * Boolean) are all Comparable with exactly SQL's ordering —
    * UTF8String compares binary, Spark's default string collation — so
    * a range over a date/int/string partition column is answerable from
    * the file list. Floats never reach here (partitionValueToCatalyst
    * bails on them).
    */
  private[sql] final case class PartCmp(col: String, op: String, value: Any)
      extends PartPred {
    def eval(raw: String, conv: String => Option[Any]): Option[Boolean] =
      if (raw == null) Some(false)
      else conv(raw).map { v =>
        val c = v.asInstanceOf[Comparable[Any]].compareTo(value)
        op match {
          case "<" => c < 0
          case "<=" => c <= 0
          case ">" => c > 0
          case ">=" => c >= 0
        }
      }
  }

  /** An output served from the stamped PER-PARTITION layer (sketches /
    * scalars) rather than per-file arithmetic. */
  private[sql] sealed trait StampedOut { def col: String }
  private[sql] final case class StampedApprox(col: String) extends StampedOut
  private[sql] final case class StampedSum(col: String) extends StampedOut
  private[sql] final case class StampedMinMax(col: String, isMin: Boolean)
      extends StampedOut
  /** Non-null COUNT(col) from the per-tuple cnt cells — the fallback
    * when live DVs block the per-file null-count arithmetic. */
  private[sql] final case class StampedCntCol(col: String) extends StampedOut
  /** AVG(col) — exact sum / non-null count, both stamped. */
  private[sql] final case class StampedAvg(col: String) extends StampedOut
  /** VAR_POP/VAR_SAMP/STDDEV_POP/STDDEV_SAMP(col) — derived from the
    * stamped moments (n, Σx, Σx²): (n·Σx² − (Σx)²) over the exact
    * integers, divided and rounded ONCE at the end — at least as
    * accurate as any scan's streaming accumulation. `nullOnDiv` mirrors
    * the matched aggregate's divide-by-zero semantics (the SAMP
    * variants' n==1 answer). */
  private[sql] final case class StampedMoment(col: String, mk: MomentKind)
      extends StampedOut
  private[sql] final case class MomentKind(isStd: Boolean, isSamp: Boolean,
      nullOnDiv: Boolean)
  /** APPROX_PERCENTILE(col, p, accuracy) — served by merging the
    * surviving partitions' stamped quantile digests. */
  private[sql] final case class StampedPercentile(col: String,
      pcts: Seq[Double], isArray: Boolean, acc: Long,
      dt: org.apache.spark.sql.types.DataType) extends StampedOut

  /** The served double for a central-moment aggregate from exact
    * integer moments. SQL shape: n==0 → NULL (all four); SAMP n==1 →
    * NULL/NaN per `nullOnDiv`; POP n==1 falls out of the formula as
    * exactly 0.0 (Σx² == (Σx)²/n). */
  private[sql] def momentValue(n: BigInt, s: BigInt, q: BigInt,
      mk: MomentKind): Any =
    if (n == 0) null
    else if (mk.isSamp && n == 1) {
      if (mk.nullOnDiv) null else java.lang.Double.valueOf(Double.NaN)
    } else {
      val num = n * q - s * s
      val den = if (mk.isSamp) n * (n - 1) else n * n
      val v = num.toDouble / den.toDouble
      java.lang.Double.valueOf(if (mk.isStd) math.sqrt(v) else v)
    }

  /** One output column of a partition-grouped metadata-only aggregate. */
  private[sql] sealed trait GroupedOut
  private[sql] final case class GroupedKey(col: String) extends GroupedOut
  private[sql] case object GroupedCount extends GroupedOut
  /** Null-sensitive COUNT(col): Σ(rows − nullCount) over in-scope files
    * — provable when every file records a null count for the column (or
    * it IS a partition column, whose nullness the partition value
    * decides whole-file) and no live DV exists (a deleted row's
    * nullness is unknowable from metadata). */
  private[sql] final case class GroupedCountCol(col: String) extends GroupedOut
  /** Exact COUNT(DISTINCT col) for a PARTITION column: the distinct
    * non-null partition values holding >= 1 live row — "how many days
    * does this table span" as one snapshot read, DV-aware (a value
    * whose every row is deleted does not count). */
  private[sql] final case class GroupedCountDistinct(col: String) extends GroupedOut
  private[sql] final case class GroupedMinMax(col: String, isMin: Boolean) extends GroupedOut

  /** `SELECT part, COUNT(*), MIN(x), MAX(x) ... GROUP BY part` answered
    * from the LOG when every group key is a PARTITION column: files
    * already carry exact partition values, so the whole answer is one
    * grouping of the snapshot's file list — per group, counts are
    * Σ(rows − DV cardinality) and extremes fold per-file stats. An
    * extreme is provable when every file in scope has a recorded
    * min/max (or exact partition value) of an exactly-representable
    * ordering type (integral, date, timestamp — see
    * FileStats.orderedStatValue for why floats and strings bail) or a
    * null count proving the column all-null there. With no group keys
    * (the ungrouped COUNT(*)/MIN/MAX shapes) it returns exactly ONE row,
    * an empty or all-null scope answering SQL NULL; grouped, one value
    * row per partition group with ≥1 live row (SQL GROUP BY emits no
    * row for a group whose every row is deleted). None when anything is
    * unprovable — non-partition group key, missing/null partition
    * value, unknown row counts, any live DV while extremes are asked
    * for, a file without a usable extreme that isn't provably all-null.
    */
  private[sql] def exactGroupedAgg(snap: graft.tables.TxLog.Snapshot,
      groupCols: Seq[String], outputs: Seq[GroupedOut],
      partFilter: Seq[PartPred] = Seq.empty): Option[Seq[Seq[Any]]] =
    try {
      val partSet = snap.partitionColumns.toSet
      if (!groupCols.forall(partSet.contains)) return None
      val fieldType = snap.schema.fields.map(f => f.name -> f.dataType).toMap
      if (outputs.exists {
          case GroupedMinMax(c, _) => !fieldType.contains(c)
          case GroupedCountCol(c) => !fieldType.contains(c)
          // COUNT(DISTINCT c) is only provable for a partition column
          case GroupedCountDistinct(c) => !partSet.contains(c)
          case _ => false })
        return None
      // every filter conjunct must target a partition column of a
      // convertible type — anything else is unprovable from the log
      if (!partFilter.forall(p =>
          partSet.contains(p.col) && fieldType.contains(p.col))) return None
      // files surviving the partition-only predicate (exact: partition
      // values are never truncated). A NULL partition value is exactly
      // decidable under three-valued logic (PartPred.eval); only a
      // MISSING or unconvertible value makes membership unprovable -> scan
      val inScope = snap.files.filter { f =>
        if (f.rows < 0L) return None
        partFilter.forall { p =>
          rawPartValue(f, p.col) match {
            case Some(v) =>
              p.eval(v, s => partitionValueToCatalyst(fieldType(p.col), s))
                .getOrElse(return None)
            case None => return None
          }
        }
      }
      val needsExtremes = outputs.exists(o =>
        o.isInstanceOf[GroupedMinMax] || o.isInstanceOf[GroupedCountCol])
      // only DVs on files IN SCOPE can hide an extreme — a deletion in
      // an excluded partition is irrelevant
      if (needsExtremes &&
          inScope.exists(_.deletionVector.exists(_.cardinality > 0))) return None
      // None = unprovable -> scan. Null-sensitive COUNT(col):
      // Σ(rows − nullCount); a partition column's nullness is decided
      // whole-file by its partition value.
      def countNonNull(files: Seq[graft.tables.TxLog.AddFile], c: String): Option[Long] = {
        val isPart = partSet.contains(c)
        var acc = 0L
        files.foreach { f =>
          if (f.rows != 0L) {
            // a NULL partition value (incl. the hive path sentinel) makes
            // the column all-null in that file — contributes 0, exactly
            if (isPart) rawPartValue(f, c) match {
              case Some(v) => if (v != null) acc += f.rows
              case None => return None
            }
            else f.nullCounts.flatMap(_.get(c)) match {
              case Some(nc) => acc += f.rows - nc
              case None => return None
            }
          }
        }
        Some(acc)
      }
      // distinct non-null partition values of `c` with >= 1 live row in
      // `files` — DV cardinalities subtract, so a fully-deleted value
      // vanishes exactly as SQL's COUNT(DISTINCT) would report
      def countDistinctPart(files: Seq[graft.tables.TxLog.AddFile],
          c: String): Option[Long] = {
        // keyed by the TYPED value (not the raw string), so two writers
        // rendering the same value differently ("1" vs "01") cannot
        // overcount; an unconvertible value is unprovable -> scan
        val liveByVal = scala.collection.mutable.Map.empty[Any, Long]
        files.foreach { f =>
          rawPartValue(f, c) match {
            case Some(v) =>
              if (v != null) {
                val typed = partitionValueToCatalyst(fieldType(c), v)
                  .getOrElse(return None)
                liveByVal(typed) = liveByVal.getOrElse(typed, 0L) +
                  f.rows - f.deletionVector.map(_.cardinality).getOrElse(0L)
              }
            case None => return None
          }
        }
        Some(liveByVal.valuesIterator.count(_ > 0L).toLong)
      }
      // outer None = unprovable (fall to scan); inner value may be SQL
      // NULL (empty or all-null scope)
      def fold(files: Seq[graft.tables.TxLog.AddFile], c: String,
          isMin: Boolean): Option[Any] = {
        val dt = fieldType(c)
        val isPart = partSet.contains(c)
        var acc: Option[Long] = None
        files.foreach { f =>
          if (f.rows != 0L) {
            // a NULL partition value (incl. the hive sentinel) proves the
            // column all-null in the file — no extreme to contribute
            if (isPart && rawPartValue(f, c).contains(null)) ()
            else {
            val stat =
              if (isPart) rawPartValue(f, c)
              else (if (isMin) f.minValues else f.maxValues).flatMap(_.get(c))
            stat.filter(_ != null)
              .flatMap(s => graft.tables.FileStats.orderedStatValue(dt, s)) match {
              case Some(v) =>
                acc = Some(acc.fold(v)(a => if (isMin) math.min(a, v) else math.max(a, v)))
              case None =>
                if (!f.nullCounts.flatMap(_.get(c)).contains(f.rows)) return None
            }
            }
          }
        }
        Some(Option(acc.map(v =>
          graft.tables.FileStats.orderedValueToCatalyst(dt, v)).orNull))
      }
      if (groupCols.isEmpty) {
        // ungrouped: SQL emits exactly ONE row even over an empty scope
        // (COUNT 0, extremes NULL)
        val files = inScope
        val live = files.iterator.map(f =>
          f.rows - f.deletionVector.map(_.cardinality).getOrElse(0L)).sum
        val row = outputs.map {
          case GroupedKey(_) => return None // no keys without GROUP BY
          case GroupedCount => live
          case GroupedCountCol(c) => countNonNull(files, c).getOrElse(return None)
          case GroupedCountDistinct(c) =>
            countDistinctPart(files, c).getOrElse(return None)
          case GroupedMinMax(c, isMin) =>
            fold(files, c, isMin).getOrElse(return None)
              .asInstanceOf[Option[Any]].orNull
        }
        return Some(Seq(row))
      }
      val groups = scala.collection.mutable.LinkedHashMap
        .empty[Seq[String], scala.collection.mutable.ArrayBuffer[graft.tables.TxLog.AddFile]]
      inScope.foreach { f =>
        val key = groupCols.map { c =>
          rawPartValue(f, c) match {
            case Some(v) if v != null => v
            // null (incl. the hive path sentinel) or missing group key:
            // SQL would emit a NULL-keyed group — fall to scan rather
            // than emit the sentinel string as a key
            case _ => return None
          }
        }
        groups.getOrElseUpdate(key,
          scala.collection.mutable.ArrayBuffer.empty) += f
      }
      val rows = groups.iterator.flatMap { case (key, files) =>
        val live = files.iterator.map(f =>
          f.rows - f.deletionVector.map(_.cardinality).getOrElse(0L)).sum
        if (live == 0L) Iterator.empty
        else {
          val keyByCol = groupCols.zip(key).toMap
          val row = outputs.map {
            case GroupedKey(c) =>
              partitionValueToCatalyst(fieldType(c), keyByCol(c)).getOrElse(return None)
            case GroupedCount => live
            case GroupedCountCol(c) =>
              countNonNull(files.toSeq, c).getOrElse(return None)
            case GroupedCountDistinct(c) =>
              countDistinctPart(files.toSeq, c).getOrElse(return None)
            case GroupedMinMax(c, isMin) =>
              fold(files.toSeq, c, isMin).getOrElse(return None)
                .asInstanceOf[Option[Any]].orNull
          }
          Iterator.single(row)
        }
      }.toSeq
      Some(rows)
    } catch { case NonFatal(_) => None }

  /** `SELECT COUNT(*), MIN(x), MAX(x) FROM cat.sch.t` answered from the
    * LOG — the metadata-only aggregates every lakehouse engine
    * special-cases, because at 100 TB the difference is one snapshot
    * read versus a full scan. Fires ONLY on an ungrouped aggregate whose
    * every output is COUNT(1), MIN(col) or MAX(col) and whose child
    * walks down to a tagged catalog-table read through row-preserving
    * nodes (Project/SubqueryAlias). A WHERE whose every conjunct is a
    * partition-column equality/IN with same-typed literals is ABSORBED
    * (the file list answers the filtered aggregate exactly — the most
    * common dashboard shape after the ungrouped ones); any other
    * Filter, any Limit, join, grouping beyond partition keys, DISTINCT
    * or FILTER clause leaves the plan untouched, and MIN/MAX
    * arguments must be the RELATION's own attributes (matched by exprId,
    * so a Project alias or computed column bails). Counts come from
    * per-file row counts minus deletion-vector cardinalities (the same
    * arithmetic DESCRIBE DETAIL reports, q140-oracled); extremes from
    * per-file min/max stats or exact partition values under the
    * provability rules of exactGroupedAgg. Every serve answers from the
    * snapshot the tagged read was built on ([[ReadSnapshotTag]]).
    * Anything unprovable (unknown
    * rows, live DVs, float/string extremes, missing stats without an
    * all-null proof) keeps the scan.
    */
  final case class MetadataOnlyCount(session: ClassicSparkSession) extends Rule[LogicalPlan] {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min}

    /** Walk down to the tagged relation through row-preserving nodes,
      * COLLECTING Filter conditions on the way (as top-level conjuncts).
      * The caller decides whether the collected predicate is absorbable
      * (partition-only equality/IN — see [[partitionEqFilter]]); any
      * other node shape still bails.
      */
    private def taggedNodeF(plan: LogicalPlan): Option[(LogicalPlan, String,
        graft.tables.TxLog.Snapshot, Seq[Expression])] =
      plan.getTagValue(GraftSqlExtensions.ReadSnapshotTag) match {
        case Some((loc, snap)) => Some((plan, loc, snap, Nil))
        case None => plan match {
          case Project(_, child) => taggedNodeF(child)
          case SubqueryAlias(_, child) => taggedNodeF(child)
          case Filter(cond, child) =>
            taggedNodeF(child).map { case (n, loc, snap, cs) =>
              (n, loc, snap, splitAnd(cond) ++ cs)
            }
          case _ => None
        }
      }

    private def splitAnd(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        splitAnd(l) ++ splitAnd(r)
      // BETWEEN (and friends) analyze to RuntimeReplaceable wrappers —
      // the replacement is the real And-of-comparisons, possibly under a
      // With common-subexpression node whose refs must inline first
      case r: org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable =>
        splitAnd(r.replacement)
      case w: org.apache.spark.sql.catalyst.expressions.With =>
        val byId = w.defs.map(d => d.id -> d.child).toMap
        splitAnd(w.child.transformUp {
          case ref: org.apache.spark.sql.catalyst.expressions.CommonExpressionRef =>
            byId.getOrElse(ref.id, ref)
        })
      case other => Seq(other)
    }

    /** The collected conjuncts as partition predicates — every conjunct
      * must be `attr = lit`, `lit = attr`, `attr <=> lit`,
      * `attr [NOT] IN (lits)`, `attr <> lit`, `attr IS [NOT] NULL`,
      * an OR of same-attribute equalities/INs (normalized to one IN —
      * the hand-written `p='a' OR p='b'`), or a comparison
      * `attr (<|<=|>|>=) lit` (either operand order; BETWEEN arrives as
      * the two comparisons) on the RELATION's own attribute with
      * same-typed non-null literals (an analyzer-inserted Cast means
      * the types didn't match — bail). Whether the attrs are PARTITION
      * columns is proven later by exactGroupedAgg against the log; here
      * only the shape is checked. Multiple conjuncts on one column AND
      * together naturally.
      */
    private def partitionEqFilter(conjuncts: Seq[Expression], node: LogicalPlan)
        : Option[Seq[GraftSqlExtensions.PartPred]] = {
      import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo,
        GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan,
        LessThanOrEqual, Like, Not, Or}
      import GraftSqlExtensions.{PartCmp, PartIn, PartIsNull, PartNotIn,
        PartPred, PartPrefix}
      val own = node.outputSet
      // this rule runs at POST-HOC RESOLUTION, before the optimizer's
      // ConstantFolding: a type-coercion cast around a literal
      // (`bigint_col < 10` analyzes to `col < cast(10 as bigint)`) is
      // still unfolded here — fold any deterministic foldable operand
      // eagerly, exactly what ConstantFolding would do later. An eval
      // that throws (an ANSI-overflowing cast) just doesn't absorb.
      object FoldedLit {
        def unapply(e: Expression): Option[Literal] = e match {
          case l: Literal => Some(l)
          case _ if e.foldable && e.deterministic =>
            try Some(Literal.create(e.eval(null), e.dataType))
            catch { case NonFatal(_) => None }
          case _ => None
        }
      }
      def ok(a: AttributeReference, l: Literal): Boolean =
        own.contains(a) && l.value != null && l.dataType == a.dataType
      def eq(a: AttributeReference, l: Literal): Option[PartPred] =
        if (ok(a, l)) Some(PartIn(a.name, Set[Any](l.value))) else None
      def cmp(a: AttributeReference, op: String, l: Literal): Option[PartPred] =
        if (ok(a, l)) Some(PartCmp(a.name, op, l.value)) else None
      def inValues(a: AttributeReference, elems: Seq[Expression]): Option[Set[Any]] = {
        val lits = elems.map { case FoldedLit(l) => Some(l); case _ => None }
        if (own.contains(a) && elems.nonEmpty &&
            lits.forall(_.exists(l => l.value != null && l.dataType == a.dataType)))
          Some(lits.flatten.map(_.value).toSet[Any])
        else None
      }
      // an OR tree whose every leaf is `attr = lit` / `attr IN (lits)` on
      // ONE common attribute folds to a single IN — disjunction of
      // memberships of the same column
      def orToIn(e: Expression): Option[PartPred] = {
        def leaves(x: Expression): Seq[Expression] = x match {
          case Or(l, r) => leaves(l) ++ leaves(r)
          case other => Seq(other)
        }
        val ls = leaves(e)
        val parsed = ls.map {
          case EqualTo(a: AttributeReference, FoldedLit(l)) if ok(a, l) =>
            Some(a.name -> Set[Any](l.value))
          case EqualTo(FoldedLit(l), a: AttributeReference) if ok(a, l) =>
            Some(a.name -> Set[Any](l.value))
          case EqualNullSafe(a: AttributeReference, FoldedLit(l)) if ok(a, l) =>
            Some(a.name -> Set[Any](l.value))
          case In(a: AttributeReference, elems) =>
            inValues(a, elems).map(a.name -> _)
          case _ => None
        }
        if (parsed.exists(_.isEmpty)) return None
        val flat = parsed.flatten
        val cols = flat.map(_._1).distinct
        if (cols.size != 1) None
        else Some(PartIn(cols.head, flat.iterator.map(_._2).reduce(_ ++ _)))
      }
      def likePrefixOf(lk: Like): Option[(AttributeReference, String)] = lk match {
        case Like(a: AttributeReference, Literal(pat, t), esc)
            if own.contains(a) &&
              a.dataType == org.apache.spark.sql.types.StringType &&
              t == org.apache.spark.sql.types.StringType && pat != null =>
          val p = pat.toString
          // only `prefix%`: one trailing % and a wildcard/escape-free prefix
          if (p.nonEmpty && p.last == '%' &&
              !p.dropRight(1).exists(c => c == '%' || c == '_' || c == esc))
            Some((a, p.dropRight(1)))
          else None
        case _ => None
      }
      def likePrefix(lk: Like, negated: Boolean): Option[PartPred] =
        likePrefixOf(lk).map { case (a, prefix) => PartPrefix(a.name, prefix, negated) }
      val parsed: Seq[Option[PartPred]] = conjuncts.map {
        case EqualTo(a: AttributeReference, FoldedLit(l)) => eq(a, l)
        case EqualTo(FoldedLit(l), a: AttributeReference) => eq(a, l)
        case EqualNullSafe(a: AttributeReference, FoldedLit(l)) => eq(a, l)
        case EqualNullSafe(FoldedLit(l), a: AttributeReference) => eq(a, l)
        case GreaterThan(a: AttributeReference, FoldedLit(l)) => cmp(a, ">", l)
        case GreaterThan(FoldedLit(l), a: AttributeReference) => cmp(a, "<", l)
        case GreaterThanOrEqual(a: AttributeReference, FoldedLit(l)) => cmp(a, ">=", l)
        case GreaterThanOrEqual(FoldedLit(l), a: AttributeReference) => cmp(a, "<=", l)
        case LessThan(a: AttributeReference, FoldedLit(l)) => cmp(a, "<", l)
        case LessThan(FoldedLit(l), a: AttributeReference) => cmp(a, ">", l)
        case LessThanOrEqual(a: AttributeReference, FoldedLit(l)) => cmp(a, "<=", l)
        case LessThanOrEqual(FoldedLit(l), a: AttributeReference) => cmp(a, ">=", l)
        case In(a: AttributeReference, elems) =>
          inValues(a, elems).map(PartIn(a.name, _))
        case Not(EqualTo(a: AttributeReference, FoldedLit(l))) if ok(a, l) =>
          Some(PartNotIn(a.name, Set[Any](l.value)))
        case Not(EqualTo(FoldedLit(l), a: AttributeReference)) if ok(a, l) =>
          Some(PartNotIn(a.name, Set[Any](l.value)))
        case Not(In(a: AttributeReference, elems)) =>
          inValues(a, elems).map(PartNotIn(a.name, _))
        case IsNull(a: AttributeReference) if own.contains(a) =>
          Some(PartIsNull(a.name, negated = false))
        case IsNotNull(a: AttributeReference) if own.contains(a) =>
          Some(PartIsNull(a.name, negated = true))
        case lk: Like => likePrefix(lk, negated = false)
        case Not(lk: Like) => likePrefix(lk, negated = true)
        case o: Or => orToIn(o)
        case _ => None
      }
      if (parsed.exists(_.isEmpty)) None else Some(parsed.flatten)
    }

    private def isCountStar(e: Expression): Boolean = e match {
      case Alias(child, _) => isCountStar(child)
      case AggregateExpression(Count(Seq(Literal(1, _))), Complete, false, None, _) => true
      case _ => false
    }

    private def minMaxOf(e: Expression): Option[(AttributeReference, Boolean)] = e match {
      case Alias(child, _) => minMaxOf(child)
      case AggregateExpression(Min(a: AttributeReference), Complete, false, None, _) =>
        Some((a, true))
      case AggregateExpression(Max(a: AttributeReference), Complete, false, None, _) =>
        Some((a, false))
      case _ => None
    }

    /** `SUM(col)` on an INTEGRAL relation attribute — answerable from
      * the exact sum ANALYZE stamped while the fingerprint is fresh. */
    private def integralType(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }

    private def sumOf(e: Expression): Option[AttributeReference] = e match {
      case Alias(child, _) => sumOf(child)
      case AggregateExpression(sm: org.apache.spark.sql.catalyst.expressions.aggregate.Sum,
          Complete, false, None, _) =>
        sm.child match {
          case a: AttributeReference if integralType(a.dataType) => Some(a)
          case _ => None
        }
      case _ => None
    }

    /** Null-sensitive `COUNT(col)` on a relation attribute. */
    private def countColOf(e: Expression): Option[AttributeReference] = e match {
      case Alias(child, _) => countColOf(child)
      case AggregateExpression(Count(Seq(a: AttributeReference)), Complete, false, None, _) =>
        Some(a)
      case _ => None
    }

    /** `COUNT(DISTINCT col)` on a relation attribute — exactly
      * answerable from the file list when the column proves to be a
      * PARTITION column (exactGroupedAgg checks that; anything else
      * keeps the scan). Matched at ANALYSIS time, before the
      * optimizer's distinct-aggregate expand rewrite. */
    private def countDistinctOf(e: Expression): Option[AttributeReference] = e match {
      case Alias(child, _) => countDistinctOf(child)
      case AggregateExpression(Count(Seq(a: AttributeReference)), Complete, true, None, _) =>
        Some(a)
      case _ => None
    }

    /** `APPROX_COUNT_DISTINCT(col)` on a relation attribute — answerable
      * from ANALYZE-time stats when the stamped fingerprint still
      * matches the snapshot (ColumnStats.currentNdv proves that).
      */
    private def approxDistinctOf(e: Expression): Option[AttributeReference] = e match {
      case Alias(child, _) => approxDistinctOf(child)
      case AggregateExpression(hll: org.apache.spark.sql.catalyst.expressions.aggregate
          .HyperLogLogPlusPlus, Complete, false, None, _) =>
        hll.child match {
          case a: AttributeReference => Some(a)
          case _ => None
        }
      case _ => None
    }

    /** `AVG(col)` on an INTEGRAL relation attribute — derivable from
      * the stamped exact sum + non-null count (the engine's davg
      * determinism contract: one division over the exact integers). */
    private def avgOf(e: Expression): Option[AttributeReference] = e match {
      case Alias(child, _) => avgOf(child)
      case AggregateExpression(av: org.apache.spark.sql.catalyst.expressions
          .aggregate.Average, Complete, false, None, _) =>
        av.child match {
          case a: AttributeReference if integralType(a.dataType) => Some(a)
          case _ => None
        }
      case _ => None
    }

    /** `VAR_POP/VAR_SAMP/STDDEV_POP/STDDEV_SAMP(col)` on an INTEGRAL
      * relation attribute — derivable from the stamped (n, Σx, Σx²)
      * moments. Skewness/kurtosis need the 3rd/4th moment and stay on
      * the scan. */
    private def momentOf(e: Expression)
        : Option[(AttributeReference, GraftSqlExtensions.MomentKind)] = e match {
      case Alias(child, _) => momentOf(child)
      case AggregateExpression(v: org.apache.spark.sql.catalyst.expressions
          .aggregate.CentralMomentAgg, Complete, false, None, _) =>
        import org.apache.spark.sql.catalyst.expressions.aggregate._
        import GraftSqlExtensions.MomentKind
        val mk = v match {
          case x: VariancePop =>
            Some(MomentKind(isStd = false, isSamp = false, x.nullOnDivideByZero))
          case x: VarianceSamp =>
            Some(MomentKind(isStd = false, isSamp = true, x.nullOnDivideByZero))
          case x: StddevPop =>
            Some(MomentKind(isStd = true, isSamp = false, x.nullOnDivideByZero))
          case x: StddevSamp =>
            Some(MomentKind(isStd = true, isSamp = true, x.nullOnDivideByZero))
          case _ => None
        }
        mk.flatMap { k =>
          // analysis wraps the argument in CAST(x AS DOUBLE) — the
          // lossless integral→double widening preserves the exact
          // moment derivation (every long is summed exactly upstream)
          val arg = v.child match {
            case c: org.apache.spark.sql.catalyst.expressions.Cast
                if c.dataType == org.apache.spark.sql.types.DoubleType =>
              c.child
            case other => other
          }
          arg match {
            case a: AttributeReference if integralType(a.dataType) => Some((a, k))
            case _ => None
          }
        }
      case _ => None
    }

    /** `APPROX_PERCENTILE(col, p[, accuracy])` on a NUMERIC relation
      * attribute with FOLDABLE percentage/accuracy — servable from the
      * stamped quantile sketch when the call's tolerance is no tighter
      * than the stamp's (checked downstream against the digest's own
      * relativeError). Returns (attr, percentages, returnsArray,
      * accuracy). */
    private def percentileOf(e: Expression): Option[(AttributeReference,
        Array[Double], Boolean, Long)] = e match {
      case Alias(child, _) => percentileOf(child)
      case AggregateExpression(ap: org.apache.spark.sql.catalyst.expressions
          .aggregate.ApproximatePercentile, Complete, false, None, _) =>
        val a = ap.child match {
          case attr: AttributeReference
              if integralType(attr.dataType) ||
                attr.dataType == org.apache.spark.sql.types.FloatType ||
                attr.dataType == org.apache.spark.sql.types.DoubleType => attr
          case _ => return None
        }
        if (!ap.percentageExpression.foldable || !ap.accuracyExpression.foldable)
          return None
        val (pcts, isArray) = ap.percentageExpression.eval(null) match {
          case d: java.lang.Double => (Array(d.doubleValue()), false)
          case arr: org.apache.spark.sql.catalyst.util.ArrayData
              if !(0 until arr.numElements()).exists(arr.isNullAt) =>
            (arr.toDoubleArray(), true)
          case _ => return None
        }
        val acc = ap.accuracyExpression.eval(null) match {
          case i: java.lang.Integer => i.longValue()
          case l: java.lang.Long => l.longValue()
          case _ => return None
        }
        Some((a, pcts, isArray, acc))
      case _ => None
    }

    /** A grouping-key output: a (possibly aliased) direct reference to
      * one of the grouping attributes.
      */
    private def groupKeyOf(e: Expression,
        groupSet: Set[org.apache.spark.sql.catalyst.expressions.ExprId])
        : Option[AttributeReference] = e match {
      case Alias(child, _) => groupKeyOf(child, groupSet)
      case a: AttributeReference if groupSet.contains(a.exprId) => Some(a)
      case _ => None
    }

    /** Left = exact per-file arithmetic, Right = served from the stamped
      * per-partition layer (sketches + scalars). */
    private type MixedOut = Either[GroupedOut, StampedOut]

    /** One aggregate output under an absorbed partition-only WHERE or a
      * partition GROUP BY. SUM has no per-file footer stat, so it is
      * ALWAYS layer-served; MIN/MAX and COUNT(col) start on the exact
      * file route ([[serveMixed]] retries them from the layer). Every
      * argument must be the relation's own column (`own`); None = scan.
      */
    private def mixedOutOf(e: Expression,
        own: AttributeReference => Boolean): Option[MixedOut] =
      if (isCountStar(e)) Some(Left(GroupedCount))
      else minMaxOf(e).collect {
        case (a, isMin) if own(a) => Left(GroupedMinMax(a.name, isMin))
      }.orElse(countColOf(e).collect {
        case a if own(a) => Left(GroupedCountCol(a.name))
      }).orElse(sumOf(e).collect {
        case a if own(a) => Right(StampedSum(a.name))
      }).orElse(countDistinctOf(e).collect {
        case a if own(a) => Left(GroupedCountDistinct(a.name))
      }).orElse(approxDistinctOf(e).collect {
        case a if own(a) => Right(StampedApprox(a.name))
      }).orElse(avgOf(e).collect {
        case a if own(a) => Right(StampedAvg(a.name))
      }).orElse(momentOf(e).collect {
        case (a, mk) if own(a) => Right(StampedMoment(a.name, mk))
      }).orElse(percentileOf(e).collect {
        case (a, pcts, isArray, acc) if own(a) =>
          Right(StampedPercentile(a.name, pcts.toSeq, isArray, acc, a.dataType))
      })

    /** Rows for `flat` under the partition predicate `pf`: ONE row when
      * `groupNames` is empty, else one per live partition group. The
      * exact outputs come from the file list, the stamped ones from the
      * layer, joined on the group key. When the exact arm refuses (a
      * string/float extreme, a live DV blocking per-file arithmetic),
      * it retries once with MIN/MAX and COUNT(col) moved to the stamped
      * layer. None = unprovable → scan.
      */
    private def serveMixed(loc: String, snap: graft.tables.TxLog.Snapshot,
        groupNames: Seq[String], pf: Seq[PartPred],
        flat: Seq[MixedOut]): Option[Seq[Seq[Any]]] = {
      def stampedMap(s: StampedOut): Option[Map[Seq[Any], Any]] =
        if (groupNames.isEmpty)
          statsPartitionServe(session, loc, snap, s, pf).map(v => Map(Seq.empty[Any] -> v))
        else statsGroupedPartitionServe(session, loc, snap, s, groupNames, pf)
      def attempt(flat: Seq[MixedOut]): Option[Seq[Seq[Any]]] = {
        val stampedOuts = flat.collect { case Right(s) => s }.distinct
        val maps = stampedOuts.map(s => stampedMap(s).map(s -> _))
        if (maps.exists(_.isEmpty)) return None
        val byOut = maps.flatten.toMap
        // hidden trailing group-key slots so each exact row can join the
        // layer-served per-group maps on its full key
        val exactOuts = flat.collect { case Left(o) => o } ++
          (if (stampedOuts.nonEmpty) groupNames.map(GroupedKey) else Nil)
        val exactRows =
          if (exactOuts.isEmpty && groupNames.isEmpty) Some(Seq(Seq.empty[Any]))
          else exactGroupedAgg(snap, groupNames, exactOuts, pf)
        exactRows.flatMap { rows =>
          if (stampedOuts.isEmpty) Some(rows)
          else {
            val nExact = flat.count(_.isLeft)
            val built: Seq[Option[Seq[Any]]] = rows.map { r =>
              val key = r.drop(nExact)
              val it = r.iterator
              val cells: Seq[Option[Any]] = flat.map {
                case Left(_) => Some(it.next())
                // a live group the layer doesn't know would be an
                // inconsistency — scan. A legitimately NULL cell (e.g. an
                // all-null group SUM) rides as a null VALUE inside the
                // map, not a missing key.
                case Right(s) => byOut(s).get(key)
              }
              if (cells.exists(_.isEmpty)) None
              else Some(cells.map(_.get))
            }
            // both sides must see the SAME groups — a layer group the
            // files don't show (or vice versa) means the stamp is out of
            // shape
            if (built.exists(_.isEmpty) ||
                byOut.valuesIterator.exists(_.size != rows.size)) None
            else Some(built.map(_.get))
          }
        }
      }
      attempt(flat).orElse {
        val flat2 = flat.map {
          case Left(GroupedMinMax(c, isMin)) => Right(StampedMinMax(c, isMin)): MixedOut
          case Left(GroupedCountCol(c)) => Right(StampedCntCol(c)): MixedOut
          case other => other
        }
        if (flat2 == flat) None else attempt(flat2)
      }
    }

    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case agg @ Aggregate(Nil, exprs, child, _)
          if exprs.nonEmpty && exprs.forall(e => isCountStar(e) ||
            minMaxOf(e).isDefined || countColOf(e).isDefined ||
            sumOf(e).isDefined || approxDistinctOf(e).isDefined ||
            avgOf(e).isDefined || momentOf(e).isDefined ||
            percentileOf(e).isDefined || countDistinctOf(e).isDefined) =>
        taggedNodeF(child).flatMap { case (node, loc, snap, conjuncts) =>
          def ownAttr(a: AttributeReference): Boolean = node.outputSet.contains(a)
          if (conjuncts.nonEmpty) {
            // `SELECT COUNT(*), MIN(x) FROM t WHERE part = 'x'` — a
            // partition-only predicate drops whole file groups from the
            // same per-file arithmetic; exactGroupedAgg proves the
            // filtered columns ARE partition columns (else scan).
            // APPROX_COUNT_DISTINCT absorbs the same predicate family
            // through the stamped PER-PARTITION sketches (merged over
            // exactly the surviving partitions); a table without that
            // layer keeps the scan.
            partitionEqFilter(conjuncts, node).flatMap { pf =>
              val outs = exprs.map(mixedOutOf(_, ownAttr))
              if (outs.exists(_.isEmpty)) None
              else serveMixed(loc, snap, Nil, pf, outs.map(_.get))
            }.map { rows =>
              LocalRelation(agg.output, rows.map(r =>
                org.apache.spark.sql.catalyst.InternalRow(r: _*)))
            }
          } else {
            import GraftSqlExtensions.{GroupedCount, GroupedCountCol,
              GroupedCountDistinct, GroupedMinMax, GroupedOut}
            def exact(o: GroupedOut): Option[Any] =
              GraftSqlExtensions.exactGroupedAgg(snap, Nil, Seq(o))
                .flatMap(_.headOption).flatMap(_.headOption)
            // every argument must be the relation's own column (by exprId,
            // not a Project alias over something computed); the matchers
            // are disjoint, so the first that matches decides
            val values: Seq[Option[Any]] = exprs.map { e =>
              if (isCountStar(e)) exact(GroupedCount)
              else minMaxOf(e).filter(m => ownAttr(m._1)).flatMap { case (a, isMin) =>
                // footer-stat extremes first; where they honestly bail
                // (strings/floats/DVs), a fresh ANALYZE stamp still
                // answers exactly
                exact(GroupedMinMax(a.name, isMin))
                  .orElse(GraftSqlExtensions.statsMinMax(snap, a.name, isMin))
              }.orElse(countColOf(e).filter(ownAttr).flatMap { a =>
                // null-sensitive COUNT(col) from per-file null counts;
                // live DVs block that arithmetic — the ANALYZE-stamped
                // exact cnt (folded across deletes) still answers
                exact(GroupedCountCol(a.name))
                  .orElse(GraftSqlExtensions.statsCount(snap, a.name))
              }).orElse(sumOf(e).filter(ownAttr).flatMap { a =>
                // exact ANALYZE-stamped sum, fingerprint-fresh only; the
                // stamped "null" marker serves SQL NULL (empty / all-null
                // column)
                GraftSqlExtensions.statsSum(snap, a.name).map(_.map(identity[Any]).orNull)
              }).orElse(countDistinctOf(e).filter(ownAttr).flatMap { a =>
                // exact COUNT(DISTINCT partition_col) from the file list
                // — no stamp needed, DV-aware
                exact(GroupedCountDistinct(a.name))
              }).orElse(approxDistinctOf(e).filter(ownAttr).flatMap { a =>
                // ANALYZE-time NDV, served ONLY while the stamped
                // fingerprint matches the snapshot's (path, DV) set — any
                // data-changing commit invalidates silently. After a pure
                // partition-drop delete the table-wide sketch is honestly
                // gone but the per-partition layer survives: merging ALL
                // stamped tuples' sketches (an empty predicate keeps every
                // tuple) serves the unfiltered answer too.
                GraftSqlExtensions.statsNdv(snap, a.name)
                  .orElse(GraftSqlExtensions.statsPartitionServe(session, loc, snap,
                    GraftSqlExtensions.StampedApprox(a.name), Seq.empty))
              }).orElse(avgOf(e).filter(ownAttr).flatMap { a =>
                // exact AVG / central moments from the stamped (n, Σx, Σx²)
                // — one division over exact integers
                GraftSqlExtensions.statsAvg(snap, a.name)
              }).orElse(momentOf(e).filter(m => ownAttr(m._1)).flatMap { case (a, mk) =>
                GraftSqlExtensions.statsVar(snap, a.name, mk)
              }).orElse(percentileOf(e).filter(p => ownAttr(p._1)).flatMap {
                case (a, pcts, isArray, acc) =>
                  // stamped quantile sketch, gated on the call's
                  // tolerance covering the stamp's ε
                  GraftSqlExtensions.statsPercentile(snap, a.name, pcts, acc)
                    .map(vals => percentileResult(vals, a.dataType, isArray))
              })
            }
            if (values.exists(_.isEmpty)) None
            else Some(LocalRelation(agg.output,
              Seq(org.apache.spark.sql.catalyst.InternalRow(values.map(_.get): _*))))
          }
        }.getOrElse(agg)

      // `SELECT DISTINCT part` — the grouped rule's degenerate case, but
      // at analysis time it is still Distinct(Project(...)) (Spark only
      // rewrites Distinct to Aggregate in the optimizer, after this
      // rule): answered from the file list when every projected column
      // is a plain relation attribute that proves to be a partition
      // column. "Which days exist" on a day-partitioned 100 TB table is
      // one snapshot read.
      case d @ Distinct(child) if child.output.nonEmpty =>
        taggedNodeF(child).flatMap { case (node, _, snap, conjuncts) =>
          if (!child.output.forall(a => node.outputSet.contains(a))) None
          else partitionEqFilter(conjuncts, node).flatMap { pf =>
            val names = child.output.map(_.name)
            GraftSqlExtensions.exactGroupedAgg(snap, names,
              names.map(GraftSqlExtensions.GroupedKey), pf)
          }.map { rows =>
            LocalRelation(d.output, rows.map(r =>
              org.apache.spark.sql.catalyst.InternalRow(r: _*)))
          }
        }.getOrElse(d)

      // `SELECT part, COUNT(*)[, MIN(x), MAX(x), APPROX_COUNT_DISTINCT(u)]
      // ... GROUP BY part` on a tagged catalog table, all group keys
      // plain attributes: answered from the file list when those keys
      // turn out to be PARTITION columns (exactGroupedAgg proves that;
      // anything else keeps the scan), with APPROX_COUNT_DISTINCT served
      // per group from the stamped PER-PARTITION sketches (each group's
      // surviving tuples exact-merged). At 100 TB this turns the
      // per-partition dashboard rollup — including per-day distinct
      // users — into one snapshot read.
      case agg @ Aggregate(groupExprs, exprs, child, _)
          if groupExprs.nonEmpty &&
            groupExprs.forall(_.isInstanceOf[AttributeReference]) =>
        val groupSet = groupExprs.map(_.asInstanceOf[AttributeReference].exprId).toSet
        taggedNodeF(child).flatMap { case (node, loc, snap, conjuncts) =>
          val relAttrs = node.outputSet
          if (!groupExprs.forall(g =>
              relAttrs.contains(g.asInstanceOf[AttributeReference]))) None
          else partitionEqFilter(conjuncts, node).flatMap { pf =>
            val outs: Seq[Option[MixedOut]] = exprs.map { e =>
              groupKeyOf(e, groupSet) match {
                case Some(a) => Some(Left(GroupedKey(a.name)))
                case None => mixedOutOf(e, relAttrs.contains)
              }
            }
            if (outs.exists(_.isEmpty)) None
            else serveMixed(loc, snap,
              groupExprs.map(_.asInstanceOf[AttributeReference].name), pf,
              outs.map(_.get))
          }.map { rows =>
            LocalRelation(agg.output, rows.map(r =>
              org.apache.spark.sql.catalyst.InternalRow(r: _*)))
          }
        }.getOrElse(agg)
    }
  }

  /** Entries for Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100). Spark
    * 4.1 keys an entry by (context class loader, source), so in local
    * mode a new whole-stage class takes two entries: the planner's
    * compile check and the first task's compile. The first pass of the
    * 16 headline queries in a fresh JVM fills 246 entries
    * (`CodegenMetrics` compile count, sf0.01; the next passes compile
    * none), and the cache is an LRU: a cyclic pass over more entries
    * than it holds evicts each before its next use, so at the default
    * every pass recompiles all of them. 512 is ~2x that working set; a
    * retained class costs ~30-40 KB of heap, so a full cache holds
    * ~20 MB.
    */
  private[sql] val CodegenCacheEntries = 512

  /** Sizes the generated-class cache in `conf` unless the key is
    * already set there, so a value the user set wins. */
  private[sql] def sizeCodegenCache(conf: SQLConf): Unit =
    if (!conf.contains(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key))
      conf.setConf(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES, CodegenCacheEntries)

  /** Creates this JVM's generated-class cache, unless code generation
    * already did, at the size `sizeCodegenCache` gives the key's value
    * in the Spark conf (where builder options land). Spark builds the
    * cache in `CodeGenerator`'s initializer from `SQLConf.get`; a session
    * builds its state before its first code generation, so this runs
    * from a state builder, where the session's own SQLConf is not yet
    * reachable.
    */
  private[sql] def createCodegenCache(session: org.apache.spark.sql.SparkSession): Unit = {
    val conf = new SQLConf
    val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
    session.sparkContext.getConf.getOption(key).foreach(conf.setConfString(key, _))
    sizeCodegenCache(conf)
    // the first call into CodeGenerator runs its initializer; later ones
    // find the cache built
    SQLConf.withExistingConf(conf)(CodeGenerator.javaType(IntegerType))
  }

  /** Install into a builder: SparkSession.builder()
    * .withExtensions(GraftSqlExtensions.install). Clients register
    * themselves on construction (LakehouseClient does this).
    *
    * Each session that installs graft gets
    * `spark.sql.codegen.cache.maxEntries` = 512 when that key is unset;
    * a value set on the builder wins. The cache is per JVM: the planning
    * JVM's is created when the first such session builds its state, before
    * any code generation in it, a local collection's encoding included
    * (unless code generated earlier in the JVM created it already). The
    * key is also set in the session's SQLConf when it first analyzes a
    * query, so executors, which read it from the task's properties,
    * create theirs at the same size.
    *
    * Physical plans get HoistLiterals before whole-stage codegen, so
    * queries that differ only in a numeric, date or timestamp operand
    * reuse one generated class.
    */
  def install(extensions: SparkSessionExtensions): Unit = {
    // the Hints batch runs before Spark's own relation resolution, which
    // would otherwise throw REQUIRES_SINGLE_PART_NAMESPACE on 3-part names
    // it cannot map to a registered catalog plugin
    extensions.injectHintResolutionRule { s =>
      val session = s.asInstanceOf[ClassicSparkSession]
      // for the executors' caches: tasks read SQL confs from the
      // session's SQLConf, which the parser builder cannot reach yet
      sizeCodegenCache(session.sessionState.conf)
      ResolveGraftRelations(session)
    }
    // metadata-only aggregates on a transactional catalog table answer
    // from the log. Post-hoc resolution (not the optimizer): the read's
    // snapshot tag rides the analyzed relation node, and optimizer column
    // pruning re-creates relations via case-class copy, which drops tags.
    extensions.injectPostHocResolutionRule(s => MetadataOnlyCount(s.asInstanceOf[ClassicSparkSession]))
    // custom physical operators (SURVEY preference tier c)
    extensions.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    // both the AQE per-stage path and the non-AQE preparations apply
    // pre-transition columnar rules before CollapseCodegenStages
    extensions.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = HoistLiterals
    })
    // maintenance statements Spark's grammar lacks (OPTIMIZE / VACUUM);
    // the parser is built with the session state
    extensions.injectParser { (session, delegate) =>
      createCodegenCache(session)
      new GraftSqlParser(session, delegate)
    }
  }
}

/** Conf-installable form for sessions built without library code:
  * `.config("spark.sql.extensions", "graft.sql.GraftSparkSessionExtensions")`
  * — the same route Delta/Iceberg connectors use.
  */
class GraftSparkSessionExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit =
    GraftSqlExtensions.install(extensions)
}
