package graft.tables

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.catalog.{SchemaEvolution, SchemaMismatchError, UnsupportedOperationError}
import graft.types.SchemaEquality
import TxLog._

/** Operations on one transaction-logged table. Capability parity with the
  * reference's Delta surface: append/overwrite with schema-evolution
  * policies, replaceWhere, selective/dynamic partition overwrite, time
  * travel, MERGE (via TxMerge). The commit log is pluggable (CommitLog):
  * the same operations run over the native `_graft_log` and over REAL
  * Delta `_delta_log` tables written by delta-rs / Delta-Spark — the
  * reference's primary write path (uchelper/dataframe.py:299-488).
  */
final class TxTable(val spark: SparkSession, val location: String,
    private[graft] val log: CommitLog = NativeCommitLog) {

  def snapshot: Snapshot = log.snapshot(spark, location)

  def snapshotAt(version: Long): Snapshot = log.snapshot(spark, location, Some(version))

  def version: Long = snapshot.version

  def history: Seq[Long] = log.latestVersion(spark, location).map(v => 0L to v).getOrElse(Seq.empty[Long]).toSeq

  /** Current table contents as a DataFrame. Reads only the active file set
    * from the log (no directory listing), with partition values from the
    * log; every filter on it prunes files at planning time (LogFileIndex).
    */
  def toDF: DataFrame = dfFor(snapshot)

  /** Time travel (Delta-style `versionAsOf`). */
  def toDF(asOfVersion: Long): DataFrame = dfFor(snapshotAt(asOfVersion))

  /** Read plan over an already-resolved snapshot — the SnapshotCache
    * consumers' entry point, so a cached resolution never replays the
    * log a second time just to build the DataFrame.
    */
  private[graft] def toDF(s: Snapshot): DataFrame = dfFor(s)

  /** Timestamp time travel (Delta-style `timestampAsOf` / delta-rs
    * `load_with_datetime`): the table as of epoch-millis `tsMs` — the
    * latest version committed at or before it.
    */
  def snapshotAtTimestamp(tsMs: Long): Snapshot =
    snapshotAt(log.versionAtTimestamp(spark, location, tsMs))

  def toDFAtTimestamp(tsMs: Long): DataFrame = dfFor(snapshotAtTimestamp(tsMs))

  /** Incremental change feed: rows ADDED in commits (fromVersion, latest],
    * tagged `_commit_version` — Delta-streaming-source shape with
    * ignoreDeletes (removes are not materialized; OVERWRITE commits
    * surface only their new files). Read with the LATEST schema, so files
    * written before a MERGE evolution read the new columns as null.
    * Drives incremental pipelines without reprocessing the whole table.
    * One log read: the version is each added file's partition value.
    */
  def changesSince(fromVersion: Long, toVersion: Option[Long] = None): DataFrame = {
    val entries = log.addsBetween(spark, location, fromVersion, toVersion)
      .flatMap { case (v, added) => added.map(_ -> Seq(v.toString)) }
    LogFileIndex.tagged(snapshot, Seq(LogFileIndex.CommitVersionTag), entries)
      .map(log.liveRows(spark, location, _)).reduce(_ unionByName _)
  }

  /** True iff every commit in (fromVersion, toVersion∨latest] only ADDED
    * rows (appends + content-preserving compaction + metadata-only) —
    * when true, `changesSince` over the same range is an EXACT row delta.
    */
  def appendOnlySince(fromVersion: Long, toVersion: Option[Long] = None): Boolean =
    log.appendOnlyBetween(spark, location, fromVersion, toVersion)

  /** DESCRIBE HISTORY: one row per commit still in the log, newest
    * first — (version, timestamp_ms, operation, added_files,
    * removed_files). File counts are -1 (unknown) on the Iceberg log,
    * where counting would need a manifest diff per version.
    */
  def describeHistory: DataFrame = {
    val rows: Seq[(Long, Long, String, Int, Int)] = log match {
      case ForeignDeltaCommitLog => DeltaLog.historyInfo(spark, location)
      case IcebergCommitLog => IcebergLog.historyInfo(spark, location)
      case _ => TxLog.commitsBetween(spark, location, -1L, None)
        .map(c => (c.version, c.timestampMs, c.operation, c.added.size, c.removed.size))
    }
    import spark.implicits._
    rows.sortBy(-_._1).toDF(
      "version", "timestamp_ms", "operation", "added_files", "removed_files")
  }

  /** Change data feed (real Delta tables): the exact row-level changes of
    * commits [fromVersion, toVersion∨latest] tagged `_change_type` /
    * `_commit_version` / `_commit_timestamp` — cdc actions when present,
    * derived insert/delete otherwise. Native-log tables keep the
    * append-oriented `changesSince` feed.
    */
  def tableChanges(fromVersion: Long, toVersion: Option[Long] = None): DataFrame =
    if (log == ForeignDeltaCommitLog) DeltaCdf.tableChanges(spark, location, fromVersion, toVersion)
    else if (log == IcebergCommitLog)
      // snapshot-diff changelog: appends as inserts, removed files and
      // position/equality-delete victims as deletes, each read live at
      // its version
      IcebergLog.tableChanges(spark, location, fromVersion, toVersion)
    else throw UnsupportedOperationError(
      "tableChanges requires a Delta (_delta_log) or Iceberg table; " +
        "use changesSince for the native append feed")

  /** DataFrame over exactly `added` staged file entries under this
    * snapshot's schema — the column-stats fold's batch read (the
    * entries come straight from the commit, never re-matched by path
    * string against the snapshot's own rendering). */
  private[tables] def dfForAddedFiles(s: Snapshot, added: Seq[TxLog.AddFile]): DataFrame =
    dfFor(s.copy(files = added))

  /** DataFrame over a subset of a snapshot's files (merge file pruning). */
  private[tables] def dfForFiles(s: Snapshot, relPaths: Seq[String]): DataFrame = {
    val set = relPaths.toSet
    dfFor(s.copy(files = s.files.filter(f => set.contains(f.path))))
  }

  /** True when this table's commits must carry cdc actions for partial
    * rewrites (real Delta log + delta.enableChangeDataFeed).
    */
  private[tables] def cdfOn(props: Map[String, String]): Boolean =
    log == ForeignDeltaCommitLog && DeltaCdf.enabled(props)

  /** Commit a partial rewrite: replace exactly `removedPaths` with the
    * staged contents of `df` (used by MERGE file pruning); `cdcDf`, when
    * present, is staged under _change_data and committed as cdc actions.
    */
  private[tables] def commitRewrite(df: DataFrame, removedPaths: Seq[String],
      baseVersion: Long, cdcDf: Option[DataFrame] = None,
      txn: Option[TxLog.SetTxn] = None): Unit = {
    // an INSERT-ONLY merge (no target file touched — the common
    // dedup-upsert steady state where everything lands NOT MATCHED)
    // removes nothing: the commit IS an append, and a fresh stats stamp
    // folds it exactly like TxTable.append instead of dying until the
    // next ANALYZE. Any removal keeps the normal invalidate-on-rewrite
    // posture (merge value changes are never derivable).
    var statsFold: Option[(Long, Seq[TxLog.AddFile])] = None
    commitWithRetryIf("MERGE",
      postCommit = _ => statsFold.foreach { case (v, files) =>
        ColumnStats.foldAppend(this, v, files) }) { snap => Some {
      statsFold = None
      // `df` and `removedPaths` were planned against `baseVersion`; if a
      // concurrent commit landed since, recommitting blindly would be
      // wrong two ways: (a) the rewrite would resurrect stale rows a
      // concurrent DELETE/UPDATE removed — so every planned removal must
      // still be active; (b) rows APPENDED since baseVersion were never
      // joined against the source, so a not-matched insert could duplicate
      // their keys — Delta's WriteSerializable raises
      // ConcurrentAppendException here, and so do we (conservatively, for
      // any concurrently added file; predicate-scoped appends could be
      // re-checked in a finer impl).
      if (snap.version != baseVersion) {
        val active = snap.files.map(_.path).toSet
        if (!removedPaths.forall(active.contains))
          throw new java.util.ConcurrentModificationException(
            s"MERGE conflict at $location: concurrent commit rewrote files this merge read " +
              s"(planned against v$baseVersion, now v${snap.version})")
        val baseFiles = log.snapshot(spark, location, Some(baseVersion)).files.map(_.path).toSet
        val addedSince = snap.files.map(_.path).filterNot(baseFiles.contains)
        if (addedSince.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"MERGE conflict at $location: ${addedSince.size} file(s) were appended " +
              s"concurrently (planned against v$baseVersion, now v${snap.version}); " +
              "their rows were not visible to the merge join")
      }
      val (added, props) = stageRewrite(df, snap)
      if (removedPaths.isEmpty && ColumnStats.isFresh(snap))
        statsFold = Some((snap.version + 1, added))
      val cdc = cdcDf.filter(_ => cdfOn(snap.properties))
        .map(d => DeltaCdf.stageCdc(spark, location, d, snap)).getOrElse(Seq.empty)
      TxTable.Planned(added, removedPaths, snap.schema, snap.partitionColumns,
        props, cdc, txn = txn)
    } }
  }

  private def dfFor(s: Snapshot): DataFrame = {
    val df = log.liveRows(spark, location, s)
    // while an ANALYZE stamp is fresh (fingerprint match — maintained
    // across appends AND provable deletes by ColumnStats.foldAppend/
    // foldDelete), hand the planner the TRUTHFUL size — exact metadata
    // row count × in-memory row width — plus the full stamped
    // per-column statistics (NDV, exact min/max, null count). Parquet
    // file bytes understate a compressed table's memory footprint by
    // 10-20×, so join-strategy (broadcast) decisions made from them are
    // wrong exactly when it hurts most; with CBO on (the engine's
    // sessions enable it) the colStats additionally drive filter
    // selectivity and join-reorder costing. Stale/absent stats leave
    // the plan untouched.
    if (!ColumnStats.isFresh(s)) df
    else {
      val rows = {
        if (s.files.exists(_.rows < 0L)) return df // unknowable exactly
        s.files.iterator
          .map(f => f.rows - f.deletionVector.map(_.cardinality).getOrElse(0L)).sum
      }
      import org.apache.spark.sql.GraftPlannerStats.ColHint
      val props = s.properties
      val fieldType = s.schema.fields.map(f => f.name -> f.dataType).toMap
      // min/max feed CBO only for the types Spark's own ANALYZE would
      // stat (numeric/date/timestamp/decimal) — string/boolean extremes
      // stay engine-internal
      def cboOrderable(dt: org.apache.spark.sql.types.DataType): Boolean = {
        import org.apache.spark.sql.types._
        dt match {
          case ByteType | ShortType | IntegerType | LongType | FloatType |
               DoubleType | DateType | TimestampType | TimestampNTZType => true
          case _: DecimalType => true
          case _ => false
        }
      }
      val statCols = props.keys.collect {
        case k if k.startsWith(ColumnStats.NdvPropPrefix) =>
          k.stripPrefix(ColumnStats.NdvPropPrefix)
        case k if k.startsWith(ColumnStats.MinPropPrefix) =>
          k.stripPrefix(ColumnStats.MinPropPrefix)
        case k if k.startsWith(ColumnStats.CntPropPrefix) =>
          k.stripPrefix(ColumnStats.CntPropPrefix)
      }.toSet.filter(fieldType.contains)
      val hints = statCols.map { c =>
        val dt = fieldType(c)
        def mm(prefix: String): Option[Any] =
          props.get(prefix + c).filter(_ != "n").filter(_ => cboOrderable(dt))
            .flatMap { enc =>
              try Some(ColumnStats.parseValue(dt, enc.drop(1)))
              catch { case scala.util.control.NonFatal(_) => None }
            }
        val nullCnt = props.get(ColumnStats.CntPropPrefix + c)
          .flatMap(_.toLongOption).map(rows - _).filter(_ >= 0L)
        c -> ColHint(
          ndv = props.get(ColumnStats.NdvPropPrefix + c).flatMap(_.toLongOption),
          min = mm(ColumnStats.MinPropPrefix),
          max = mm(ColumnStats.MaxPropPrefix),
          nullCount = nullCnt)
      }.toMap
      // the stats attach is advisory: a codec surprise (an exotic
      // stamped type Spark's external-string renderer refuses) must
      // degrade to a plan without statistics, never fail the READ
      try org.apache.spark.sql.GraftPlannerStats.attach(
        df, location.split('/').lastOption.getOrElse("graft_table"), s.schema, rows, hints)
      catch { case scala.util.control.NonFatal(_) => df }
    }
  }

  /** True when rewrites on this table must preserve row ids by
    * materializing them into the replacement files (PROTOCOL.md "Row
    * Tracking" — rewriting without materialization would silently break
    * other engines' row lineage).
    */
  private def rowTracked(s: Snapshot): Boolean =
    log == ForeignDeltaCommitLog && RowTracking.enabled(s.properties)

  /** Read `files` for a rewrite: on a row-tracked table the rows carry
    * RowTracking.RowIdCol/RowCommitVersionCol (materialized-over-fresh) so
    * the rewrite can thread them into its output; otherwise a plain read.
    */
  private[tables] def readForRewrite(s: Snapshot, files: Seq[AddFile]): DataFrame =
    if (rowTracked(s))
      DeltaLog.withRowIds(spark, location, s.copy(files = files))
        .drop(DeltaLog.FileMetaCol, DeltaLog.RowMetaCol)
    else dfFor(s.copy(files = files))

  /** Stage a rewrite result. When it carries the in-flight row-tracking
    * columns they are renamed to the table's materialized physical columns
    * — minted on first use and published via the returned properties in
    * the same commit. Returns (staged adds, properties to commit).
    */
  private[tables] def stageRewrite(df: DataFrame, s: Snapshot): (Seq[AddFile], Map[String, String]) =
    if (!df.columns.contains(RowTracking.RowIdCol))
      (log.stage(spark, location, df, s), s.properties)
    else {
      val (props2, ridName, rcvName) = RowTracking.ensureMaterializedNames(s.properties)
      val renamed = df.withColumnRenamed(RowTracking.RowIdCol, ridName)
        .withColumnRenamed(RowTracking.RowCommitVersionCol, rcvName)
      (log.stage(spark, location, renamed, s.copy(properties = props2)), props2)
    }

  /** Strip the in-flight row-tracking columns (CDF rows and other logical
    * outputs must not carry them).
    */
  private def dropRowIdCols(df: DataFrame): DataFrame =
    df.drop(RowTracking.RowIdCol, RowTracking.RowCommitVersionCol)

  // ---- writes ----

  /** Create the table with an initial (possibly empty) dataset. A CTAS
    * that seeds identity-column values is born with the covering
    * high watermark stamped in its schema.
    */
  def create(df: DataFrame, partitionColumns: Seq[String] = Seq.empty,
      properties: Map[String, String] = Map.empty): Unit =
    log.create(spark, location, IdentityColumns.stampCreate(df), partitionColumns, properties)

  def append(df0: DataFrame, evolution: SchemaEvolution = SchemaEvolution.STRICT): Unit = {
    // stamped column stats that are FRESH when this append is planned
    // get the batch FOLDED in after the commit (ColumnStats.foldAppend:
    // O(batch) maintenance instead of stats dying on every data commit);
    // captured from the FINAL (winning) planning iteration
    var statsFold: Option[(Long, Seq[TxLog.AddFile])] = None
    commitWithRetryIf("APPEND",
      postCommit = _ => statsFold.foreach { case (v, files) =>
        ColumnStats.foldAppend(this, v, files) }) { snap => Some {
      val (df, hwms) = IdentityColumns.assign(
        GeneratedColumns.complete(df0, snap.schema), snap.schema)
      val (newSchema0, newProps) = log.evolveMapping(snap.schema,
        evolveSchema(snap.schema, df.schema, evolution, isOverwrite = false), snap.properties)
      // advanced identity watermarks publish in the SAME commit as the rows
      val newSchema = IdentityColumns.withWatermarks(newSchema0, hwms)
      val added = log.stage(spark, location, alignForWrite(df, snap.partitionColumns),
        snap.copy(schema = newSchema, properties = newProps))
      statsFold =
        if (ColumnStats.isFresh(snap)) Some((snap.version + 1, added))
        else None
      TxTable.Planned(added, Seq.empty, newSchema, snap.partitionColumns, newProps)
    } }
    ()
  }

  /** Latest SetTransaction watermark committed for `appId` (Delta
    * "Transaction Identifiers"), from either log format — delta-rs's
    * `transaction_versions` surface.
    */
  def latestTxnVersion(appId: String): Option[Long] =
    snapshot.transactions.get(appId)

  /** Idempotent append: the batch lands together with a `txn`
    * (appId, txnVersion) watermark in ONE atomic commit, and is SKIPPED
    * when the table already carries a watermark >= txnVersion for this
    * appId. Re-running a failed/duplicated batch (a streaming sink
    * recovering from a crash, a retried job) therefore appends exactly
    * once. The watermark re-check happens against the fresh snapshot on
    * every optimistic-commit retry, so a concurrent writer of the same
    * appId cannot double-land a batch. Returns whether this call
    * committed (false = already applied).
    */
  def appendIdempotent(df: DataFrame, appId: String, txnVersion: Long,
      evolution: SchemaEvolution = SchemaEvolution.STRICT): Boolean =
    appendIdempotentDetailed(df, appId, txnVersion, evolution).isDefined

  /** Like appendIdempotent, but a commit returns the AddFile entries it
    * published — per-file row counts included, so a caller reporting
    * "rows loaded" (COPY INTO) reads them from the commit instead of
    * paying a second pass over the data. None = skipped (watermark
    * already at or past txnVersion).
    */
  def appendIdempotentDetailed(df: DataFrame, appId: String, txnVersion: Long,
      evolution: SchemaEvolution = SchemaEvolution.STRICT): Option[Seq[TxLog.AddFile]] = {
    var statsFold: Option[(Long, Seq[TxLog.AddFile])] = None
    var published: Seq[TxLog.AddFile] = Seq.empty
    val committed = commitWithRetryIf("APPEND",
      postCommit = _ => statsFold.foreach { case (v, files) =>
        ColumnStats.foldAppend(this, v, files) }) { snap =>
      if (snap.transactions.get(appId).exists(_ >= txnVersion)) None
      else {
        val (dfg, hwms) = IdentityColumns.assign(
          GeneratedColumns.complete(df, snap.schema), snap.schema)
        val (newSchema0, newProps) = log.evolveMapping(snap.schema,
          evolveSchema(snap.schema, dfg.schema, evolution, isOverwrite = false), snap.properties)
        val newSchema = IdentityColumns.withWatermarks(newSchema0, hwms)
        val added = log.stage(spark, location, alignForWrite(dfg, snap.partitionColumns),
          snap.copy(schema = newSchema, properties = newProps))
        statsFold =
          if (ColumnStats.isFresh(snap)) Some((snap.version + 1, added))
          else None
        published = added
        Some(TxTable.Planned(added, Seq.empty, newSchema, snap.partitionColumns, newProps,
          txn = Some(TxLog.SetTxn(appId, txnVersion))))
      }
    }
    if (committed) Some(published) else None
  }

  def overwrite(df0: DataFrame, evolution: SchemaEvolution = SchemaEvolution.STRICT): Unit =
    commitWithRetry("OVERWRITE") { snap =>
      // identity watermarks do NOT reset on overwrite (spec: the watermark
      // bounds every value EVER allocated, so replaced rows stay burned)
      val (df, hwms) = IdentityColumns.assign(
        GeneratedColumns.complete(df0, snap.schema), snap.schema)
      val (newSchema0, newProps) = log.evolveMapping(snap.schema,
        evolveSchema(snap.schema, df.schema, evolution, isOverwrite = true), snap.properties)
      val newSchema = IdentityColumns.withWatermarks(newSchema0, hwms)
      val added = log.stage(spark, location, alignForWrite(df, snap.partitionColumns),
        snap.copy(schema = newSchema, properties = newProps))
      TxTable.Planned(added, snap.files.map(_.path), newSchema, snap.partitionColumns, newProps)
    }

  /** Overwrite only the rows matching `predicate` (Delta `replaceWhere`).
    * If the predicate references only partition columns, untouched
    * partitions' files are left in place (pure metadata delete + append);
    * otherwise the non-matching rows are rewritten (copy-on-write).
    * New data is validated to satisfy the predicate.
    */
  def replaceWhere(df: DataFrame, predicate: String,
      evolution: SchemaEvolution = SchemaEvolution.STRICT): Unit = {
    val pred = expr(predicate)
    val snap0 = snapshot
    // rows where the predicate is NULL do not satisfy it either
    val violating = df.filter(!coalesce(pred, lit(false)))
    if (violating.limit(1).count() > 0)
      throw UnsupportedOperationError(
        s"replaceWhere: new data contains rows not matching predicate '$predicate'")
    val refs = spark.sessionState.sqlParser.parseExpression(predicate)
      .references.map(_.name).toSet
    val partitionOnly = refs.nonEmpty && refs.subsetOf(snap0.partitionColumns.toSet)
    if (partitionOnly) {
      commitWithRetry("REPLACE_WHERE") { snap =>
        val (newSchema, newProps) = log.evolveMapping(snap.schema,
          evolveSchema(snap.schema, df.schema, evolution, isOverwrite = true), snap.properties)
        val removed = matchingPartitionFiles(snap, pred)
        val added = log.stage(spark, location, alignForWrite(df, snap.partitionColumns),
          snap.copy(schema = newSchema, properties = newProps))
        TxTable.Planned(added, removed.map(_.path), newSchema, snap.partitionColumns, newProps)
      }
    } else {
      commitWithRetry("REPLACE_WHERE") { snap =>
        val (newSchema, newProps) = log.evolveMapping(snap.schema,
          evolveSchema(snap.schema, df.schema, evolution, isOverwrite = true), snap.properties)
        // keep rows where the predicate is not TRUE (NULL-evaluating rows
        // are kept — SQL/Delta replace only rows where it holds); kept
        // rows carry their row ids through on a row-tracked table, new
        // rows get fresh ones (null materialized columns)
        val kept = readForRewrite(snap, snap.files).filter(!coalesce(pred, lit(false)))
        val newContent = unionByNameTolerant(kept, df)
        val (added, newProps2) = stageRewrite(alignForWrite(newContent, snap.partitionColumns),
          snap.copy(schema = newSchema, properties = newProps))
        // replaceWhere's change feed: replaced rows out, new rows in (the
        // kept rows are rewritten bytes, not logical changes)
        val cdc =
          if (!cdfOn(snap.properties)) Seq.empty
          else DeltaCdf.stageCdc(spark, location,
            DeltaCdf.tagged(dfFor(snap).filter(coalesce(pred, lit(false))), "delete")
              .unionByName(DeltaCdf.tagged(df, "insert"), allowMissingColumns = true),
            snap.copy(schema = newSchema, properties = newProps))
        TxTable.Planned(added, snap.files.map(_.path), newSchema, snap.partitionColumns,
          newProps2, cdc)
      }
    }
  }

  /** Dynamic partition overwrite: replace exactly the partitions present in
    * `df` (the reference's pyarrow `delete_matching` semantics,
    * dataframe.py:375-399 — "DOES NOT ALWAYS OVERWRITE EVERYTHING").
    */
  def overwritePartitionsDynamic(df: DataFrame,
      evolution: SchemaEvolution = SchemaEvolution.STRICT): Unit =
    commitWithRetry("OVERWRITE_PARTITIONS") { snap =>
      require(snap.partitionColumns.nonEmpty, "table is not partitioned")
      val (newSchema, newProps) = log.evolveMapping(snap.schema,
        evolveSchema(snap.schema, df.schema, evolution, isOverwrite = true), snap.properties)
      val touched = df.select(snap.partitionColumns.map(col).toIndexedSeq: _*).distinct().collect()
        .map(r => snap.partitionColumns.map(c => c -> String.valueOf(r.getAs[Any](c))).toMap)
        .toSet
      val removed = snap.files.filter(f => touched.contains(f.partitionValues))
      val added = log.stage(spark, location, alignForWrite(df, snap.partitionColumns),
        snap.copy(schema = newSchema, properties = newProps))
      TxTable.Planned(added, removed.map(_.path), newSchema, snap.partitionColumns, newProps)
    }

  def merge(source: DataFrame, condition: String,
      sourceAlias: String = "s", targetAlias: String = "t"): TxMerge =
    new TxMerge(this, source, condition, sourceAlias, targetAlias)

  /** ALTER TABLE SET TBLPROPERTIES: merge `props` into the table
    * configuration (a `null`/empty value unsets a key) — a pure metadata
    * commit, no data movement. On foreign Delta this lands as a new
    * metaData action, so e.g. `delta.enableDeletionVectors=true` switches
    * an existing table to merge-on-read deletes for every engine.
    */
  def setProperties(props: Map[String, String]): Unit =
    commitWithRetry("SET_TBLPROPERTIES") { snap =>
      val (unset, set) = props.partition { case (_, v) => v == null || v.isEmpty }
      val merged = (snap.properties -- unset.keys) ++ set
      TxTable.Planned(Seq.empty, Seq.empty, snap.schema, snap.partitionColumns, merged)
    }

  /** Refuse a rename/drop whose target a constraint or generation
    * expression still references — the stored SQL would silently stop
    * matching rows (or hard-fail) on the next write. Word-boundary
    * containment is conservative: a false positive asks the user to drop
    * the constraint first, a false negative would corrupt enforcement.
    */
  private def checkNotReferenced(snap: Snapshot, colName: String, op: String): Unit = {
    val word = java.util.regex.Pattern.compile(
      "\\b" + java.util.regex.Pattern.quote(colName) + "\\b",
      java.util.regex.Pattern.CASE_INSENSITIVE)
    snap.properties.collectFirst {
      case (k, v) if k.startsWith(Constraints.PropPrefix) && word.matcher(v).find() => k
    }.foreach { k =>
      throw UnsupportedOperationError(
        s"$op: column $colName is referenced by constraint ${k.stripPrefix(Constraints.PropPrefix)}; drop it first")
    }
    snap.schema.fields.find(f =>
      f.metadata.contains(GeneratedColumns.ExprKey) &&
        word.matcher(f.metadata.getString(GeneratedColumns.ExprKey)).find()).foreach { f =>
      throw UnsupportedOperationError(
        s"$op: column $colName is referenced by generated column ${f.name}")
    }
    // a bloom-indexed column must keep its name for the table's life:
    // sidecar rows are keyed by (file, LOGICAL name), so rename a→x
    // followed by rename b→a would bind old a's filters to b's data —
    // false absence proofs, i.e. wrong results. Refusing here is what
    // makes plain-name resolution of indexed columns sound on every
    // backend (see BloomIndex).
    if (snap.properties.get(BloomIndex.ColumnsProp)
        .exists(_.split(",").map(_.trim).exists(_.equalsIgnoreCase(colName))))
      throw UnsupportedOperationError(
        s"$op: column $colName is bloom-indexed; drop the index first " +
          s"(BloomIndex.disable / unset ${BloomIndex.ColumnsProp})")
  }

  /** ALTER TABLE ... RENAME COLUMN old TO new — METADATA-ONLY, never a
    * data rewrite (at 100 TB a rename that rewrites is an outage). The
    * logical name changes; files keep their physical layout:
    *   - foreign Delta: requires column mapping; a table still in mode
    *     `none` is upgraded to `name` mode IN the same commit, each
    *     existing field keeping its current name as the physical name
    *     (Delta's documented upgrade path — existing files stay
    *     readable verbatim, the protocol gains the columnMapping
    *     feature so other engines resolve physically too).
    *   - Iceberg: the spec's id-based resolution makes renames native —
    *     a new schema joins the history with the SAME field id, and
    *     readers (ours switches to id resolution on any renamed
    *     history) keep resolving old files.
    *   - native log: a copy-on-write rewrite (O(table), the one backend
    *     without a physical/logical mapping layer — a metadata-only
    *     rename would silently null the column in existing files). Use
    *     a Delta/Iceberg-backed table when renames must be cheap.
    * Partition columns are refused on all backends (their values are
    * encoded under the old name in every log entry and path).
    */
  def renameColumn(oldName: String, newName: String): Unit = log match {
    case ForeignDeltaCommitLog =>
      commitWithRetry("RENAME COLUMN") { snap =>
        if (!snap.schema.fieldNames.contains(oldName))
          throw UnsupportedOperationError(s"RENAME COLUMN: unknown column $oldName")
        if (snap.schema.fieldNames.contains(newName))
          throw graft.catalog.AlreadyExistsError(s"RENAME COLUMN: column $newName already exists")
        if (snap.partitionColumns.contains(oldName))
          throw UnsupportedOperationError(
            s"RENAME COLUMN: $oldName is a partition column")
        checkNotReferenced(snap, oldName, "RENAME COLUMN")
        val (schema1, props1) = DeltaLog.withMappingEnabled(snap.schema, snap.properties)
        val renamed = org.apache.spark.sql.types.StructType(schema1.fields.map(f =>
          if (f.name == oldName) f.copy(name = newName) else f))
        TxTable.Planned(Seq.empty, Seq.empty, renamed, snap.partitionColumns, props1)
      }
    case IcebergCommitLog =>
      val snap = snapshot
      if (snap.partitionColumns.contains(oldName))
        throw UnsupportedOperationError(s"RENAME COLUMN: $oldName is a partition column")
      checkNotReferenced(snap, oldName, "RENAME COLUMN")
      IcebergWriter.renameColumn(spark, location, oldName, newName)
    case _ =>
      commitWithRetry("RENAME COLUMN") { snap =>
        if (!snap.schema.fieldNames.contains(oldName))
          throw UnsupportedOperationError(s"RENAME COLUMN: unknown column $oldName")
        if (snap.schema.fieldNames.contains(newName))
          throw graft.catalog.AlreadyExistsError(s"RENAME COLUMN: column $newName already exists")
        if (snap.partitionColumns.contains(oldName))
          throw UnsupportedOperationError(s"RENAME COLUMN: $oldName is a partition column")
        checkNotReferenced(snap, oldName, "RENAME COLUMN")
        val renamed = org.apache.spark.sql.types.StructType(snap.schema.fields.map(f =>
          if (f.name == oldName) f.copy(name = newName) else f))
        val rewritten = readForRewrite(snap, snap.files)
          .withColumnRenamed(oldName, newName)
        val (added, props) = stageRewrite(
          alignForWrite(rewritten, snap.partitionColumns),
          snap.copy(schema = renamed))
        TxTable.Planned(added, snap.files.map(_.path), renamed,
          snap.partitionColumns, props)
      }
  }

  /** ALTER TABLE ... DROP COLUMN. On Delta and Iceberg: METADATA-ONLY —
    * the field leaves the schema, the physical column stays in existing
    * files and readers stop projecting it (storage reclaims on the next
    * rewrite — Delta's documented deferred contract). Foreign Delta
    * tables are upgraded to column mapping in the same commit: the
    * protocol requires it, because without mapping a later same-named
    * ADD COLUMNS would silently resurrect the old bytes (under mapping
    * the new column gets a fresh UUID physical name, so old data stays
    * invisible). The NATIVE log has no mapping layer, so there the drop
    * is an explicit copy-on-write rewrite (O(table), documented — use a
    * Delta/Iceberg-backed table for metadata-only drops).
    */
  def dropColumn(name: String): Unit = dropColumns(Seq(name))

  /** Drop several columns in ONE commit (one rewrite on the native log) —
    * `ALTER TABLE ... DROP COLUMNS (a, b)` must be atomic: per-column
    * commits would leave the DDL half-applied when a later column's
    * guard fires.
    */
  def dropColumns(names: Seq[String]): Unit = {
    require(names.nonEmpty, "dropColumns needs at least one column")
    require(names.distinct.size == names.size, s"duplicate columns in $names")
    def guards(snap: Snapshot): Unit = {
      names.foreach { name =>
        if (!snap.schema.fieldNames.contains(name))
          throw UnsupportedOperationError(s"DROP COLUMN: unknown column $name")
        if (snap.partitionColumns.contains(name))
          throw UnsupportedOperationError(s"DROP COLUMN: $name is a partition column")
        checkNotReferenced(snap, name, "DROP COLUMN")
      }
      if (snap.schema.fields.length - names.size < 1)
        throw UnsupportedOperationError("DROP COLUMN: cannot drop every column")
    }
    log match {
      case IcebergCommitLog =>
        guards(snapshot)
        IcebergWriter.dropColumns(spark, location, names)
      case ForeignDeltaCommitLog =>
        commitWithRetry("DROP COLUMN") { snap =>
          guards(snap)
          val (schema1, props1) = DeltaLog.withMappingEnabled(snap.schema, snap.properties)
          val dropped = org.apache.spark.sql.types.StructType(
            schema1.fields.filterNot(f => names.contains(f.name)))
          TxTable.Planned(Seq.empty, Seq.empty, dropped, snap.partitionColumns, props1)
        }
      case _ =>
        commitWithRetry("DROP COLUMN") { snap =>
          guards(snap)
          val dropped = org.apache.spark.sql.types.StructType(
            snap.schema.fields.filterNot(f => names.contains(f.name)))
          val rewritten = readForRewrite(snap, snap.files).drop(names: _*)
          val (added, props) = stageRewrite(
            alignForWrite(rewritten, snap.partitionColumns),
            snap.copy(schema = dropped))
          TxTable.Planned(added, snap.files.map(_.path), dropped,
            snap.partitionColumns, props)
        }
    }
  }

  /** ALTER TABLE ADD CONSTRAINT name CHECK (sql): existing rows are
    * validated first (a distributed scan that aborts at the first
    * violation, like Delta), then the constraint lands as a
    * `delta.constraints.name` property — on foreign Delta inside a commit
    * that also upgrades the protocol to writer v3 / the checkConstraints
    * feature when the table lacks it, so other engines start enforcing it
    * too. Every subsequent write through this library enforces the
    * constraint inside the write job (Constraints.enforce).
    */
  def addConstraint(name: String, sql: String): Unit = {
    Constraints.firstViolation(toDF, sql).foreach { row =>
      throw UnsupportedOperationError(
        s"cannot add CHECK constraint $name ($sql): an existing row violates it: $row")
    }
    setProperties(Map(s"${Constraints.PropPrefix}$name" -> sql))
  }

  /** ALTER TABLE DROP CONSTRAINT name (a pure metadata commit). */
  def dropConstraint(name: String): Unit =
    setProperties(Map(s"${Constraints.PropPrefix}$name" -> null))

  /** RESTORE TABLE TO VERSION AS OF `version` (Delta RESTORE / delta-rs
    * `restore`): ONE commit that makes the live state identical to the
    * target version — target files absent from (or carrying a different
    * deletion vector than) the current state are re-added, current files
    * outside the target are removed, and schema / partitioning /
    * properties reset to the target's. History is preserved: the restore
    * is itself a new commit, so time travel to the pre-restore state keeps
    * working. Purely a metadata operation — no data is rewritten, so cost
    * is O(|file manifest|), never O(table bytes).
    */
  def restore(version: Long): Unit = {
    val target = snapshotAt(version)
    // files a restore would resurrect must still exist — vacuum may have
    // collected them (same guard as Delta's RESTORE)
    val f = TxLog.fs(spark, location)
    target.files.foreach { a =>
      if (!f.exists(new Path(TxLog.resolve(location, a.path))))
        throw UnsupportedOperationError(
          s"RESTORE to version $version impossible: data file ${a.path} was vacuumed")
    }
    commitWithRetry("RESTORE") { snap =>
      val curByPath = snap.files.map(x => x.path -> x).toMap
      val tgtPaths = target.files.map(_.path).toSet
      // re-add on any difference, including same path with a different DV
      // (Delta replay: a later add for the same path replaces the entry)
      val readd = target.files.filter(x => !curByPath.get(x.path).contains(x))
      val removed = snap.files.map(_.path).filterNot(tgtPaths.contains)
      // column-mapped Delta: snapshots carry LOGICAL partition keys, but
      // actions must be written with PHYSICAL ones — map back
      val mapping = DeltaLog.columnMappingOf(target.schema)
      val readdPhys =
        if (mapping.isEmpty) readd
        else readd.map(a => a.copy(partitionValues =
          a.partitionValues.map { case (k, v) => mapping.getOrElse(k, k) -> v }))
      TxTable.Planned(readdPhys, removed, target.schema, target.partitionColumns,
        target.properties)
    }
  }

  /** RESTORE TABLE TO TIMESTAMP AS OF `tsMs`. */
  def restoreToTimestamp(tsMs: Long): Unit =
    restore(log.versionAtTimestamp(spark, location, tsMs))

  /** CLONE this table (Delta CLONE): a new independent table at `target`
    * born from this table's state at `version` (default: latest).
    *
    *   - SHALLOW: O(|manifest|) metadata-only — the target's version-0
    *     commit references the SOURCE's data files by absolute path (the
    *     Delta protocol explicitly permits absolute `add.path`s).
    *     Deletion-vector descriptors are rewritten from relative ("u") to
    *     absolute ("p") storage so merge-on-read survives the move. At
    *     100 TB this is the only sane way to fork a table for an
    *     experiment: zero bytes copied, writes to the clone never touch
    *     the source. Caveat (same as every Delta engine): VACUUM on the
    *     source can delete files the clone still references.
    *   - DEEP: the active data files (and live DV files) are copied into
    *     `target` by a distributed Spark job — one task per file, never
    *     through the driver — and the clone keeps relative paths: fully
    *     self-contained, vacuum-safe, O(table bytes) on the cluster.
    *
    * Either way the clone starts a fresh history (version 0) with the
    * source's schema, partitioning, and properties; later commits to
    * either table are invisible to the other — unlike RESTORE, which
    * rewinds in place. Row-tracked sources keep their ids and the target
    * records the id high-watermark so later appends allocate above them.
    */
  def cloneTo(target: String, shallow: Boolean = true,
      version: Option[Long] = None): TxTable = {
    if (log == IcebergCommitLog) {
      if (!shallow)
        throw UnsupportedOperationError(
          "DEEP CLONE of Iceberg-log tables is not supported; use SHALLOW CLONE " +
            "or CREATE TABLE AS SELECT")
      // the clone's snapshot re-lists the source's immutable manifests
      // from new metadata at `target` — zero data bytes move
      IcebergWriter.shallowClone(spark, location, target, version)
      return new TxTable(spark, target, IcebergCommitLog)
    }
    if (TxLog.exists(spark, target) || DeltaLog.isDeltaTable(spark, target) ||
        IcebergLog.isIcebergTable(spark, target))
      throw graft.catalog.AlreadyExistsError(s"CLONE target already has a table: $target")
    val src = version.map(snapshotAt).getOrElse(snapshot)
    val f = TxLog.fs(spark, location)
    // shallow-clone paths must be FULLY QUALIFIED URIs (scheme +
    // authority), not bare paths: a scheme-less absolute path resolves
    // against the READER's default filesystem, so a clone of an
    // s3://bucket-a table read from a cluster defaulting to hdfs:// (or
    // another bucket) would silently point at the wrong store. Delta's
    // protocol expects absolute add.paths as full URIs for the same
    // reason.
    val srcRootUri = f.makeQualified(new Path(location)).toUri.toString
    val srcRoot = f.makeQualified(new Path(location)).toUri.getPath
    // column-mapped Delta: snapshots carry LOGICAL partition keys, actions
    // must carry PHYSICAL ones (same remap as RESTORE)
    val mapping = if (log == ForeignDeltaCommitLog) DeltaLog.columnMappingOf(src.schema)
      else Map.empty[String, String]
    def physicalized(a: AddFile): AddFile =
      if (mapping.isEmpty) a
      else a.copy(partitionValues =
        a.partitionValues.map { case (k, v) => mapping.getOrElse(k, k) -> v })
    val cloned: Seq[AddFile] =
      if (shallow) src.files.map { a =>
        physicalized(a).copy(
          path = TxLog.resolve(srcRootUri, a.path),
          deletionVector = a.deletionVector.map { d =>
            if (d.storageType == "u")
              d.copy(storageType = "p",
                pathOrInlineDv =
                  f.makeQualified(DeletionVectors.absolutePath(location, d)).toUri.toString)
            else d
          })
      } else {
        // deep: relative layout preserved; file copies fan out one task
        // per file (the driver ships only path strings)
        val dvPaths = src.files.flatMap(_.deletionVector).filter(_.storageType == "u")
          .map(d => DeletionVectors.absolutePath(location, d).toUri.getPath
            .stripPrefix(srcRoot + "/")).distinct
        val rels = (src.files.map(_.path).filterNot(TxLog.isAbsolute) ++ dvPaths).distinct
        src.files.filter(a => TxLog.isAbsolute(a.path)).foreach { a =>
          throw UnsupportedOperationError(
            s"DEEP CLONE of a table that itself references external files (${a.path}) is not supported")
        }
        val conf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
        val srcLoc = location
        val n = math.max(1, math.min(rels.size, spark.sparkContext.defaultParallelism))
        spark.sparkContext.parallelize(rels, n).foreach { rel =>
          val from = new Path(srcLoc, rel)
          val to = new Path(target, rel)
          val sfs = from.getFileSystem(conf.value)
          val tfs = to.getFileSystem(conf.value)
          org.apache.hadoop.fs.FileUtil.copy(sfs, from, tfs, to,
            false /* deleteSource */, true /* overwrite */, conf.value)
        }
        src.files.map(physicalized)
      }
    log match {
      case ForeignDeltaCommitLog =>
        // carry the source's stored row-id watermark: live files alone can
        // under-state it after deletes/rewrites of the highest-id files
        val srcHwm =
          if (!RowTracking.enabled(src.properties)) -1L
          else RowTracking.highWaterMark(
            DeltaLog.replayState(spark, location, version)._1.domains)
        DeltaLogWriter.createFromFiles(spark, target, src.schema,
          src.partitionColumns, src.properties, cloned, srcHwm)
      case _ =>
        if (!TxLog.tryCommit(spark, target, TxLog.Commit(0L,
            System.currentTimeMillis(), "CLONE", src.schema.json,
            src.partitionColumns, cloned, Seq.empty, src.properties)))
          throw graft.catalog.AlreadyExistsError(s"concurrent CLONE create at $target")
    }
    new TxTable(spark, target, log)
  }

  /** Constraints currently in force (CHECK properties + column invariants). */
  def constraints: Seq[(String, String)] = {
    val s = snapshot
    Constraints.of(s.properties, s.schema)
  }

  /** DELETE FROM t WHERE predicate — copy-on-write limited to files that
    * can contain matching rows (manifest stats + partition pruning); files
    * provably outside the predicate survive untouched. On a foreign Delta
    * table with `delta.enableDeletionVectors=true`, deletes are
    * merge-on-read instead: a deletion-vector bitmap per touched file
    * (DeltaDvWriter), never a file rewrite. On Iceberg see deleteIceberg.
    */
  def delete(predicate: String): Unit =
    if (log == ForeignDeltaCommitLog && DeltaDvWriter.enabled(snapshot.properties))
      markDeleted(predicate, None)
    else if (log == IcebergCommitLog) deleteIceberg(predicate)
    else deleteCopyOnWrite(predicate)

  /** Merge-on-read DELETE (`set` None) or UPDATE on a foreign Delta table:
    * DeltaDvWriter plans the deletion vectors (and the updated rows)
    * against each attempt's snapshot. Stats that were fresh going in fold
    * exactly like the copy-on-write paths: the marked rows are
    * `candidates ⋂ predicate` over the pre-commit snapshot, and a MoR
    * UPDATE is row-preserving (DV-marked rows come back 1:1 in the
    * appended files), so only the assigned columns' stats unset.
    */
  private def markDeleted(predicate: String, set: Option[Map[String, String]]): Unit = {
    var statsFold: Option[(Long, Seq[String])] = None
    commitWithRetryIf(if (set.isEmpty) "DELETE" else "UPDATE",
      postCommit = v => statsFold.foreach { case (baseV, candidates) =>
        set match {
          case None => ColumnStats.foldDelete(this, v, baseV, candidates, predicate)
          case Some(s) => ColumnStats.foldUpdate(this, v, baseV,
            s.keys.toSeq :+ RowTracking.RowCommitVersionCol)
        }
      }) { snap =>
      val planned = DeltaDvWriter.planMarkDeleted(spark, location, snap, predicate, set)
      statsFold = planned.filter(_ => ColumnStats.isFresh(snap)).map(p => (snap.version, p._2))
      planned.map(_._1)
    }
  }

  /** Iceberg DELETE, planned per attempt. When every live file's
    * partition tuple decides the predicate (TRUE = all its rows match,
    * FALSE/NULL = none do), the matching files are removed metadata-only:
    * no data read, no delete file written. Otherwise the matching live
    * rows become position-delete files (Iceberg v2 merge-on-read, no data
    * file rewritten). Either way a fresh stats stamp folds through the
    * commit. Returns the number of rows deleted.
    */
  private[tables] def deleteIceberg(predicate: String): Long = {
    var deleted = 0L
    var statsFold: Option[(Long, () => Seq[String])] = None
    commitWithRetryIf("DELETE",
      postCommit = v => statsFold.foreach { case (baseV, touched) =>
        ColumnStats.foldDelete(this, v, baseV, touched(), predicate) }) { snap =>
      val parsed = spark.sessionState.sqlParser.parseExpression(predicate)
      val decided = FileStats.partitionTrueEvaluator(spark, parsed, snap)
        .map(ev => snap.files.map(f => f -> ev(f)))
        .filter(_.forall(_._2.isDefined))
      // (the commit, the data files it touches) — None when no row matches
      val planned: Option[(TxTable.Planned, () => Seq[String])] = decided match {
        case Some(ds) =>
          val dropped = ds.collect { case (f, Some(true)) => f }
          deleted = dropped.map(f =>
            math.max(0L, f.rows) - f.deletionVector.map(_.cardinality).getOrElse(0L)).sum
          Option.when(dropped.nonEmpty)(TxTable.Planned(Seq.empty, dropped.map(_.path),
            snap.schema, snap.partitionColumns, snap.properties) -> (() => dropped.map(_.path)))
        case None =>
          val staged =
            if (snap.files.isEmpty) Seq.empty
            else IcebergWriter.stagePositionDeletes(spark, location, snap, predicate)
          deleted = staged.map(_.rows).sum
          // the touched data files are read back from the delete files
          // themselves: O(deleted rows) over tiny parquet, no table scan
          Option.when(staged.nonEmpty)(TxTable.Planned(Seq.empty, Seq.empty, snap.schema,
            snap.partitionColumns, snap.properties, deletes = Some(TxTable.DeleteFiles(staged))) ->
            (() => spark.read.parquet(staged.map(a => TxLog.resolve(location, a.path)): _*)
              .select(col("file_path")).distinct().collect().map(_.getString(0)).toSeq))
      }
      statsFold = planned.filter(_ => ColumnStats.isFresh(snap)).map(p => (snap.version, p._2))
      planned.map(_._1)
    }
    deleted
  }

  /** Iceberg DELETE BY KEY as an equality-delete commit: the distinct key
    * rows become one delete file that applies to every earlier data file
    * (IcebergWriter.equalityDelete). A fresh stats stamp folds through
    * the commit (ColumnStats.foldEqualityDelete). Returns the number of
    * delete-key rows committed.
    */
  private[tables] def equalityDelete(keyCols: Seq[String], keys: DataFrame): Long = {
    var committed = 0L
    var statsFold: Option[(Long, Seq[AddFile])] = None
    commitWithRetryIf("DELETE",
      postCommit = v => statsFold.foreach { case (baseV, staged) =>
        ColumnStats.foldEqualityDelete(this, v, baseV, keyCols,
          spark.read.parquet(staged.map(a => TxLog.resolve(location, a.path)): _*)) }) { snap =>
      val deletes = IcebergWriter.stageEqualityDeletes(spark, location, snap, keyCols, keys)
      committed = deletes.map(_.files.map(_.rows).sum).getOrElse(0L)
      statsFold = deletes.filter(_ => ColumnStats.isFresh(snap)).map(d => (snap.version, d.files))
      deletes.map(d => TxTable.Planned(Seq.empty, Seq.empty, snap.schema,
        snap.partitionColumns, snap.properties, deletes = Some(d)))
    }
    committed
  }

  private def deleteCopyOnWrite(predicate: String): Unit =
    rewriteMatchingFiles("DELETE", predicate,
      cdcOf = Some(affected => DeltaCdf.tagged(
        affected.filter(coalesce(expr(predicate), lit(false))), "delete")),
      // stats that were fresh when the delete was planned FOLD where
      // provable (SUM by subtraction, MIN/MAX when no removed row ties
      // an extreme, NDV honestly invalidates) — ColumnStats.foldDelete
      foldStats = true) { affected =>
      // SQL DELETE removes only rows where the predicate is TRUE; rows
      // where it evaluates to NULL must be kept, so negate under coalesce.
      affected.filter(!coalesce(expr(predicate), lit(false)))
    }

  /** UPDATE t SET col = expr, ... WHERE predicate — copy-on-write with the
    * same file pruning as delete. `set` values are SQL expressions that
    * may reference existing columns. On a foreign Delta table with
    * `delta.enableDeletionVectors=true`, merge-on-read instead: the old
    * rows join the files' DVs and only the updated rows are written.
    */
  def update(predicate: String, set: Map[String, String]): Unit =
    if (log == ForeignDeltaCommitLog && DeltaDvWriter.enabled(snapshot.properties))
      markDeleted(predicate, Some(set))
    else updateCopyOnWrite(predicate, set)

  private def updateCopyOnWrite(predicate: String, set: Map[String, String]): Unit = {
    def applySet(matched: DataFrame): DataFrame =
      matched.select(matched.schema.fieldNames.filterNot(_ == DeltaCdf.ChangeTypeCol).map { c =>
        set.get(c) match {
          case Some(e) => expr(e).cast(matched.schema(c).dataType).as(c)
          case None => col(c)
        }
      }.toIndexedSeq: _*)
    rewriteMatchingFiles("UPDATE", predicate,
      cdcOf = Some { affected =>
        val matched = affected.filter(coalesce(expr(predicate), lit(false)))
        DeltaCdf.tagged(matched, "update_preimage")
          .unionByName(DeltaCdf.tagged(applySet(matched), "update_postimage"))
      },
      // a row-preserving rewrite: unassigned columns' stats survive the
      // update verbatim (ColumnStats.foldUpdate) instead of dying. The
      // materialized row-commit-version column is rewritten for matched
      // rows too, so it rides the assigned set (no-op unless stamped)
      foldUpdateAssigned =
        Some(set.keys.toSeq :+ RowTracking.RowCommitVersionCol)) { affected =>
      val snapSchema = affected.schema
      set.keys.find(k => !snapSchema.fieldNames.contains(k)).foreach { k =>
        throw UnsupportedOperationError(s"UPDATE: unknown column $k")
      }
      // single projection so every SET right-hand side reads the ORIGINAL
      // row (SQL UPDATE semantics: SET a=b, b=a swaps the columns)
      affected.select(snapSchema.fieldNames.map { c =>
        set.get(c) match {
          case Some(e) =>
            when(expr(predicate), expr(e).cast(snapSchema(c).dataType)).otherwise(col(c)).as(c)
          case None if c == RowTracking.RowCommitVersionCol =>
            // a MODIFIED row keeps its id but takes a fresh commit version
            // (null materialized -> the new add's defaultRowCommitVersion)
            when(coalesce(expr(predicate), lit(false)), lit(null).cast("long"))
              .otherwise(col(c)).as(c)
          case None => col(c)
        }
      }.toIndexedSeq: _*)
    }
  }

  /** Shared copy-on-write driver for DELETE/UPDATE: figure out which files
    * might contain predicate-matching rows, rewrite only those.
    * `foldStats` (DELETE only — an UPDATE's value changes are never
    * derivable) folds a fresh column-stats stamp through the removal
    * post-commit instead of letting it die (ColumnStats.foldDelete).
    */
  private def rewriteMatchingFiles(op: String, predicate: String,
      cdcOf: Option[DataFrame => DataFrame] = None,
      foldStats: Boolean = false,
      foldUpdateAssigned: Option[Seq[String]] = None)(
      transform: DataFrame => DataFrame): Unit = {
    // captured from the FINAL (winning) planning iteration, like the
    // append paths' fold
    var statsFold: Option[(Long, Seq[String])] = None
    var updateFold: Option[Long] = None
    commitWithRetryIf(op,
      postCommit = { v =>
        statsFold.foreach { case (baseV, removed) =>
          ColumnStats.foldDelete(this, v, baseV, removed, predicate) }
        updateFold.foreach { baseV =>
          ColumnStats.foldUpdate(this, v, baseV, foldUpdateAssigned.get) }
      }) { snap => Some {
      statsFold = None
      updateFold = None
      val parsed = spark.sessionState.sqlParser.parseExpression(predicate)
      val conjuncts = FileStats.prunableConjuncts(parsed)
      val fieldTypes = snap.schema.fields.map(f => f.name -> f.dataType).toMap
      val partSet = snap.partitionColumns.toSet
      val (maybe, untouched) = snap.files.partition { f =>
        conjuncts.forall { c =>
          fieldTypes.get(c.colName) match {
            case Some(dt) if partSet.contains(c.colName) =>
              val v = f.partitionValues.get(c.colName)
              FileStats.mightMatch(c, dt, v, v)
            case Some(dt) =>
              FileStats.mightMatch(c, dt,
                f.minValues.flatMap(_.get(c.colName)), f.maxValues.flatMap(_.get(c.colName)),
                f.nullCounts.flatMap(_.get(c.colName)), f.rows)
            case None => true
          }
        }
      }
      if (maybe.isEmpty) {
        TxTable.Planned(Seq.empty, Seq.empty, snap.schema, snap.partitionColumns, snap.properties)
      } else {
        // DELETE whole-file fast path: a candidate whose PARTITION
        // values prove the ENTIRE predicate TRUE loses every row, so it
        // drops from the manifest WITHOUT being read — `DELETE WHERE
        // day < X` (the retention shape) on a 100 TB table must not
        // read the dropped bytes just to write nothing back — and one
        // proven FALSE-or-NULL for every row keeps them all, so it
        // stays untouched without being read either. Gated off when CDF
        // is on (the feed must emit the removed rows) and evaluated
        // with Spark's own analyzer/coercion on the partition tuple, so
        // semantics are exactly the scan's.
        val decide: TxLog.AddFile => Option[Boolean] =
          if (op != "DELETE" || cdcOf.isDefined && cdfOn(snap.properties)) _ => None
          else FileStats.partitionTrueEvaluator(spark, parsed, snap)
            .getOrElse((_: TxLog.AddFile) => None)
        val dropped = Seq.newBuilder[TxLog.AddFile]
        val toRewrite = Seq.newBuilder[TxLog.AddFile]
        maybe.foreach { f =>
          decide(f) match {
            case Some(true) => dropped += f
            case Some(false) => () // provably row-free of matches: untouched
            case None => toRewrite += f
          }
        }
        val drop = dropped.result()
        val rewrite = toRewrite.result()
        val removed = (drop ++ rewrite).map(_.path)
        if (foldStats && ColumnStats.isFresh(snap) && removed.nonEmpty)
          statsFold = Some((snap.version, removed))
        if (foldUpdateAssigned.isDefined && ColumnStats.isFresh(snap) &&
            removed.nonEmpty)
          updateFold = Some(snap.version)
        if (removed.isEmpty) {
          TxTable.Planned(Seq.empty, Seq.empty, snap.schema,
            snap.partitionColumns, snap.properties)
        } else if (rewrite.isEmpty) {
          // every touched candidate provably drops whole: pure metadata
          TxTable.Planned(Seq.empty, removed, snap.schema,
            snap.partitionColumns, snap.properties)
        } else {
        val affected = readForRewrite(snap, rewrite)
        val rewritten = transform(affected)
        val (added, props) = stageRewrite(rewritten, snap)
        val cdc = cdcOf.filter(_ => cdfOn(snap.properties))
          .map(c => DeltaCdf.stageCdc(spark, location, c(dropRowIdCols(affected)), snap))
          .getOrElse(Seq.empty)
        TxTable.Planned(added, removed, snap.schema, snap.partitionColumns,
          props, cdc)
        }
      }
    } }
  }

  /** Filtered scan: `toDF.filter(predicate)`. Manifest-level data
    * skipping (partition values, min/max stats, the bloom file-skipping
    * index) happens in the read's LogFileIndex, as for any filter.
    */
  def scan(predicate: String): DataFrame = toDF.filter(expr(predicate))

  /** Number of files the manifest-level pruner (stats + bloom index)
    * would read for a predicate (for tests/inspection).
    */
  def filesAfterPruning(predicate: String): Int = LogFileIndex.filesScanned(scan(predicate))

  /** O(metadata) row count: Σ per-file record counts − Σ deletion-vector
    * cardinalities, straight from the log — at 100 TB a `count(*)` must
    * not scan 100 TB. Files whose writer omitted stats (`rows` unknown,
    * possible on foreign-written Delta) are counted with a distributed
    * scan of JUST those files, so the result is always exact, never a
    * guess.
    */
  def countRows(): Long = {
    val s = snapshot
    val (known, unknown) = s.files.partition(_.rows >= 0L)
    val knownLive = known.iterator
      .map(f => f.rows - f.deletionVector.map(_.cardinality).getOrElse(0L)).sum
    val unknownLive =
      if (unknown.isEmpty) 0L else dfFor(s.copy(files = unknown)).count()
    knownLive + unknownLive
  }

  /** Metadata-only table summary (no data read): live rows, file count,
    * total bytes. Row count follows the countRows contract.
    */
  def describeStats(): TxTable.TableStats = {
    val s = snapshot
    TxTable.TableStats(countRows(), s.files.size, s.files.map(_.sizeBytes).sum)
  }

  /** Per-partition metadata stats — Iceberg's `$partitions` shape for
    * ALL three backends: one entry per partition tuple (live rows, file
    * count, bytes), straight from the log with DV cardinalities
    * subtracted, no data read. Stat-less foreign files fall back to a
    * count job scoped to their tuple (a foreign-writer anomaly, not the
    * steady state).
    */
  def partitionStats(): Seq[(Map[String, String], TxTable.TableStats)] = {
    val s = snapshot
    val byTuple = s.files.groupBy(_.partitionValues).toSeq
    // ONE job covers every stat-less file: per-tuple reads tagged with a
    // literal index and unioned, so no per-tuple job launches and no
    // fragile path-string matching back to AddFile entries
    val unknownByTuple = byTuple
      .map { case (pv, fs) => pv -> fs.filter(_.rows < 0L) }
      .filter(_._2.nonEmpty)
    val unknownLive: Map[Map[String, String], Long] =
      if (unknownByTuple.isEmpty) Map.empty
      else {
        val tagged = unknownByTuple.zipWithIndex.map { case ((_, fs), i) =>
          dfFor(s.copy(files = fs)).select(org.apache.spark.sql.functions.lit(i).as("__t"))
        }.reduce(_ unionAll _)
        val counts = tagged.groupBy(col("__t")).count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        unknownByTuple.zipWithIndex.map { case ((pv, _), i) =>
          pv -> counts.getOrElse(i, 0L)
        }.toMap
      }
    byTuple.map { case (pv, fs) =>
      val knownLive = fs.iterator.filter(_.rows >= 0L)
        .map(f => f.rows - f.deletionVector.map(_.cardinality).getOrElse(0L)).sum
      (pv, TxTable.TableStats(knownLive + unknownLive.getOrElse(pv, 0L),
        fs.size, fs.map(_.sizeBytes).sum))
    }
  }

  /** Incremental compaction: rewrite ONLY files smaller than
    * `minFileBytes`, binned per partition tuple, leaving well-sized files
    * untouched. This is the steady-state maintenance shape at scale — a
    * nightly OPTIMIZE of a 100 TB table must touch the small-file debris
    * of recent commits (O(new data)), not rewrite 100 TB. A partition
    * tuple with fewer than two small files has nothing to gain and is
    * skipped. Returns whether a compaction commit was published (false =
    * nothing qualified, no commit written). Row ids and commit versions
    * survive on row-tracked tables (dataChange=false rewrite path).
    */
  def optimizeCompact(minFileBytes: Long = 16L * 1024 * 1024,
      targetFileBytes: Long = 128L * 1024 * 1024,
      where: Option[String] = None): Boolean =
    commitWithRetryIf("OPTIMIZE") { snap =>
      // OPTIMIZE ... WHERE: scope the compaction to partitions matching a
      // partition-column predicate (Delta's rule — at 100 TB the nightly
      // job compacts the partitions that RECEIVED data, not the table).
      // Restricted to prunable conjuncts over partition columns so the
      // scope is decided from the log alone; anything else is refused
      // rather than silently widened.
      val inScope = where match {
        case None => snap.files
        case Some(p) =>
          // EVERY top-level conjunct must be prunable (a dropped leaf
          // would silently widen the scope — 'p = 1 AND lower(q) = ..'
          // compacting all of p = 1) and over a partition column
          val parsed = spark.sessionState.sqlParser.parseExpression(p)
          def leaves(e: org.apache.spark.sql.catalyst.expressions.Expression)
              : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
            case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
              leaves(l) ++ leaves(r)
            case other => Seq(other)
          }
          val conjuncts = leaves(parsed).map { leaf =>
            FileStats.prunableConjuncts(leaf) match {
              case Seq(c) => c
              case _ => throw UnsupportedOperationError(
                s"OPTIMIZE WHERE: '${leaf.sql}' is not a prunable conjunct " +
                  "(use comparisons/IS [NOT] NULL over partition columns)")
            }
          }
          conjuncts.find(c => !snap.partitionColumns.contains(c.colName)).foreach { c =>
            throw UnsupportedOperationError(
              s"OPTIMIZE WHERE: ${c.colName} is not a partition column " +
                s"(partition columns: ${snap.partitionColumns.mkString(", ")})")
          }
          FileStats.survivingFiles(spark, snap, p)
      }
      val picked = inScope.groupBy(_.partitionValues).valuesIterator.flatMap { fs =>
        val small = fs.filter(_.sizeBytes < minFileBytes)
        if (small.size >= 2) small else Seq.empty
      }.toSeq
      if (picked.isEmpty) None // nothing qualifies (or a racer compacted first)
      else {
        val totalBytes = picked.map(_.sizeBytes).sum
        val targetFiles = math.max(1, math.ceil(
          totalBytes.toDouble / math.max(1L, targetFileBytes)).toInt)
        // partitioned tables must repartition ON the partition columns:
        // a plain hash repartition spreads every tuple across every task
        // and the hive-staged write then emits O(tasks × tuples) files —
        // MORE debris than it removes. Clustering by tuple keeps each
        // tuple in one task → one output file per tuple (its debris is
        // small by selection, so one file is the right size).
        val compacted =
          if (snap.partitionColumns.isEmpty)
            readForRewrite(snap, picked).repartition(targetFiles)
          else {
            val tuples = picked.map(_.partitionValues).distinct.size
            readForRewrite(snap, picked)
              .repartition(math.max(1, math.min(tuples, math.max(targetFiles,
                spark.sessionState.conf.numShufflePartitions))),
                snap.partitionColumns.map(col): _*)
          }
        val (added, props) = stageRewrite(compacted, snap)
        Some(TxTable.Planned(added, picked.map(_.path), snap.schema,
          snap.partitionColumns, props))
      }
    }

  /** REORG ... APPLY (PURGE) (Delta's REORG TABLE shape): physically
    * rewrite ONLY the files carrying soft-deleted rows — deletion vectors
    * on foreign Delta, position deletes folded into DV descriptors on
    * Iceberg — materializing the surviving rows and dropping the rest.
    * Merge-on-read keeps DELETE/UPDATE cheap (a KB bitmap instead of a
    * file rewrite), but the dead rows still occupy the data files: they
    * are re-read and re-filtered on every scan, and they survive VACUUM
    * (the file is live). PURGE is the deferred rewrite — run once, off
    * the write path, touching O(files-with-deletes), so a 100 TB table
    * whose last week of DELETEs hit 2% of files rewrites 2%.
    *
    * Files whose every row is deleted (cardinality == rows) are dropped
    * without a read. Logical data is unchanged, so the commit is a
    * dataChange=false rewrite: row ids and commit versions survive on
    * row-tracked tables, and CDF emits nothing. Returns whether a commit
    * was published (false = no file carries a deletion vector). The
    * vacated data files (and the now-unreferenced DV/delete files)
    * become reclaimable by the next VACUUM / expireSnapshots.
    */
  def reorgPurge(targetFileBytes: Long = 128L * 1024 * 1024): Boolean =
    commitWithRetryIf("REORG") { snap =>
      val picked = snap.files.filter(_.deletionVector.exists(_.cardinality > 0))
      if (picked.isEmpty) None
      else {
        val (dead, toRewrite) = picked.partition(f =>
          f.rows >= 0L && f.deletionVector.exists(_.cardinality >= f.rows))
        val (added, props) =
          if (toRewrite.isEmpty) (Seq.empty[AddFile], snap.properties)
          else {
            // live-byte estimate sizes the output; the DV filter is
            // applied by the read (dfFor), so only survivors are written
            val liveBytes = toRewrite.map { f =>
              val liveFrac =
                if (f.rows <= 0L) 1.0
                else 1.0 - f.deletionVector.map(_.cardinality).getOrElse(0L).toDouble / f.rows
              (f.sizeBytes * liveFrac).toLong
            }.sum
            val targetFiles = math.max(1, math.ceil(
              liveBytes.toDouble / math.max(1L, targetFileBytes)).toInt)
            val survivors =
              if (snap.partitionColumns.isEmpty)
                readForRewrite(snap, toRewrite).repartition(targetFiles)
              else {
                // cluster by tuple (see optimizeCompact): one task — and
                // so one output file — per touched partition tuple
                val tuples = toRewrite.map(_.partitionValues).distinct.size
                readForRewrite(snap, toRewrite)
                  .repartition(math.max(1, math.min(tuples, math.max(targetFiles,
                    spark.sessionState.conf.numShufflePartitions))),
                    snap.partitionColumns.map(col): _*)
              }
            stageRewrite(survivors, snap)
          }
        Some(TxTable.Planned(added, (dead ++ toRewrite).map(_.path), snap.schema,
          snap.partitionColumns, props))
      }
    }

  /** Compaction (OPTIMIZE): rewrite the active file set into
    * ~targetFileBytes files (per partition for partitioned tables). Data
    * is unchanged — one commit swaps the whole file list.
    */
  def optimize(targetFileBytes: Long = 128L * 1024 * 1024): Unit =
    commitWithRetry("OPTIMIZE") { snap =>
      val totalBytes = snap.files.map(_.sizeBytes).sum
      val targetFiles = math.max(1, (totalBytes / math.max(1L, targetFileBytes)).toInt +
        (if (totalBytes % targetFileBytes > 0) 1 else 0))
      // a dataChange=false rewrite preserves BOTH the id and the commit
      // version of every row (readForRewrite carries them; stageRewrite
      // materializes them into the compacted files)
      val compacted = readForRewrite(snap, snap.files).repartition(targetFiles)
      val (added, props) = stageRewrite(compacted, snap)
      TxTable.Planned(added, snap.files.map(_.path), snap.schema, snap.partitionColumns, props)
    }

  /** OPTIMIZE ZORDER BY: rewrite the table clustered on the Morton
    * interleaving of the given columns' quantile-bucket ranks, so each
    * file covers a tight range in EVERY listed dimension and min/max
    * manifest pruning works for multi-column predicates (single-column
    * sort only helps the leading column). Boundaries come from
    * approxQuantile — a sketch aggregation, driver cost O(buckets).
    */
  def optimizeZOrder(zorderCols: Seq[String], targetFileBytes: Long = 128L * 1024 * 1024,
      buckets: Int = 256): Unit =
    optimizeClusteredBy(zorderCols, targetFileBytes, buckets,
      graft.functions.ZOrderFunctions.clusterByZOrder)

  /** The shared clustering-rewrite skeleton behind optimizeZOrder /
    * optimizeHilbert. The commit-log op label stays "ZORDER" for both —
    * all three logs treat it as a dataChange=false full rewrite and
    * external engines have no HILBERT vocabulary.
    */
  private def optimizeClusteredBy(cols: Seq[String], targetFileBytes: Long,
      buckets: Int,
      cluster: (DataFrame, Seq[String], Int, Int) => DataFrame): Unit =
    commitWithRetry("ZORDER") { snap =>
      cols.foreach { c =>
        require(snap.schema.fieldNames.contains(c), s"unknown clustering column $c")
      }
      val totalBytes = snap.files.map(_.sizeBytes).sum
      val targetFiles = math.max(1, math.ceil(
        totalBytes.toDouble / math.max(1L, targetFileBytes)).toInt)
      val clustered = cluster(readForRewrite(snap, snap.files), cols, targetFiles, buckets)
      val (added, props) = stageRewrite(clustered, snap)
      TxTable.Planned(added, snap.files.map(_.path), snap.schema, snap.partitionColumns, props)
    }

  /** OPTIMIZE clustered on the HILBERT curve of the given columns — the
    * same quantile-bucket machinery as optimizeZOrder with the Hilbert
    * distance as the sort key. Hilbert has no Morton diagonal jumps, so
    * per-file min/max ranges are tighter in every dimension and manifest
    * pruning discards more files for multi-column predicates — the layout
    * newer clustering engines default to.
    */
  def optimizeHilbert(cols: Seq[String], targetFileBytes: Long = 128L * 1024 * 1024,
      buckets: Int = 256): Unit =
    optimizeClusteredBy(cols, targetFileBytes, buckets,
      graft.functions.ZOrderFunctions.clusterByHilbert)

  /** Clustering columns another engine declared via the `delta.clustering`
    * metadata domain (liquid clustering / CLUSTER BY). Physical name paths
    * in the domain resolve to logical names on column-mapped tables;
    * nested paths cluster on their root column.
    */
  def clusteringColumns: Seq[String] = log match {
    case ForeignDeltaCommitLog =>
      val (state, _) = DeltaLog.replayState(spark, location, None)
      state.domains.get(DeltaLog.ClusteringDomain).filterNot(_._2).toSeq.flatMap {
        case (conf, _) =>
          implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
          val paths =
            try (org.json4s.jackson.JsonMethods.parse(conf) \ "clusteringColumns")
              .extractOrElse[Seq[Seq[String]]](Seq.empty)
            catch { case scala.util.control.NonFatal(_) => Seq.empty }
          val physToLogical = DeltaLog.columnMappingOf(snapshot.schema).map(_.swap)
          paths.flatMap(_.headOption).map(p => physToLogical.getOrElse(p, p))
      }
    case _ => Seq.empty
  }

  /** OPTIMIZE that honors liquid clustering: when the table declares
    * clustering columns, the rewrite Z-orders on them (multi-dimensional
    * range clustering — the same file-skipping contract CLUSTER BY
    * promises); otherwise plain bin-packing compaction.
    */
  def optimizeClustered(targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    val cols = clusteringColumns
    if (cols.isEmpty) optimize(targetFileBytes)
    else optimizeZOrder(cols, targetFileBytes)
  }

  /** Garbage collection: delete data files that are not part of any of the
    * most recent `retainVersions` snapshots — covers both files removed by
    * old commits and orphans from failed/retried commits. Time travel to
    * vacuumed versions stops working (as in Delta).
    *
    * Concurrent-writer safety: a writer writes its data files in place
    * and names them only in its commit, so between a concurrent
    * stageData and its tryCommit its files are unreferenced; the
    * `retentionMs` window (Delta-style, by modification time) alone
    * protects them. `_staging-*` dirs left by older writers are never
    * touched. The default retention is 7 days, like Delta; a shorter
    * window can delete a concurrent writer's written-but-uncommitted
    * files, so it must be forced explicitly (Delta's
    * retentionDurationCheck.enabled=false equivalent).
    */
  /** GENERATE symlink_format_manifest (Delta's GENERATE command): write
    * `_symlink_format_manifest/[<k>=<v>/...]manifest` text files, each
    * listing the absolute URIs of the CURRENT data files (one per line,
    * partition-scoped for partitioned tables) — the format Presto, Trino
    * and Athena's Hive connectors consume to read Delta tables without a
    * Delta reader. Regenerate after every data change (Delta's contract;
    * the manifest is a snapshot, not a live view). Refused when any live
    * file carries a deletion vector: a symlink reader would resurrect
    * the soft-deleted rows — run REORG APPLY (PURGE) first. Returns the
    * number of manifest files written. O(files) driver metadata work;
    * stale partition manifests from previous generations are removed so
    * dropped partitions do not linger.
    */
  def generateSymlinkManifest(): Int = {
    val snap = snapshot
    if (snap.files.exists(_.deletionVector.exists(_.cardinality > 0)))
      throw UnsupportedOperationError(
        "GENERATE symlink_format_manifest: table has live deletion vectors; " +
          "symlink readers cannot apply them — REORG TABLE ... APPLY (PURGE) first")
    val f = TxLog.fs(spark, location)
    val root = new org.apache.hadoop.fs.Path(location, "_symlink_format_manifest")
    if (f.exists(root)) f.delete(root, true)
    val byTuple = snap.files.groupBy(a =>
      snap.partitionColumns.map(c =>
        s"$c=${TxLog.escapePathName(a.partitionValues.getOrElse(c, "__HIVE_DEFAULT_PARTITION__"))}"))
    // (relative manifest dir, fully-qualified file URIs) — resolved on
    // the driver so executors need no table-layout knowledge
    val work: Seq[(Seq[String], Seq[String])] = byTuple.toSeq.map { case (segs, files) =>
      segs -> files.map(a => f.makeQualified(
        new org.apache.hadoop.fs.Path(TxLog.resolve(location, a.path))).toUri.toString)
    }
    def writeOne(fsys: org.apache.hadoop.fs.FileSystem,
        segs: Seq[String], uris: Seq[String]): Unit = {
      val dir = segs.foldLeft(root)((p, s) => new org.apache.hadoop.fs.Path(p, s))
      fsys.mkdirs(dir)
      val body = uris.sorted.mkString("", "\n", "\n")
      val out = fsys.create(new org.apache.hadoop.fs.Path(dir, "manifest"), true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    if (work.size <= TxTable.SymlinkDriverMaxTuples)
      work.foreach { case (segs, uris) => writeOne(f, segs, uris) }
    else {
      // a 10k-partition table would pay 10k sequential driver round-trips
      // — distribute the writes like Convert's footer pass (each task
      // handles a slice; the payload is metadata-sized path lists)
      val hconf = new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf())
      val rootStr = root.toString
      spark.sparkContext
        .parallelize(work, math.max(1, math.min(work.size, 64)))
        .foreach { case (segs, uris) =>
          val r = new org.apache.hadoop.fs.Path(rootStr)
          val fsys = r.getFileSystem(hconf.value)
          val dir = segs.foldLeft(r)((p, s) => new org.apache.hadoop.fs.Path(p, s))
          fsys.mkdirs(dir)
          val body = uris.sorted.mkString("", "\n", "\n")
          val out = fsys.create(new org.apache.hadoop.fs.Path(dir, "manifest"), true)
          try out.write(body.getBytes("UTF-8")) finally out.close()
        }
    }
    byTuple.size
  }

  def vacuum(retainVersions: Int = 1, retentionMs: Long = TxTable.DefaultVacuumRetentionMs,
      force: Boolean = false): Int =
    vacuumInternal(retainVersions, retentionMs, force, dryRun = false).size

  /** VACUUM ... DRY RUN: the location-relative paths `vacuum` WOULD
    * delete under the same retention rules — nothing is removed. The
    * audit step before reclaiming storage on a table other readers may
    * still be time-traveling.
    */
  def vacuumDryRun(retainVersions: Int = 1,
      retentionMs: Long = TxTable.DefaultVacuumRetentionMs,
      force: Boolean = false): Seq[String] =
    vacuumInternal(retainVersions, retentionMs, force, dryRun = true)

  private def vacuumInternal(retainVersions: Int, retentionMs: Long,
      force: Boolean, dryRun: Boolean): Seq[String] = {
    if (retentionMs < TxTable.DefaultVacuumRetentionMs && !force)
      throw UnsupportedOperationError(
        s"vacuum retention ${retentionMs}ms is below the ${TxTable.DefaultVacuumRetentionMs}ms safety floor; " +
          "pass force=true to override (risks deleting files of in-flight commits)")
    val f = TxLog.fs(spark, location)
    val latest = log.latestVersion(spark, location)
      .getOrElse(throw graft.catalog.DoesNotExistError(s"no log at $location"))
    val keep = scala.collection.mutable.Set.empty[String]
    val base = new Path(location)
    val baseUri = base.toUri.getPath.stripSuffix("/")
    val from = math.max(0L, latest - math.max(1, retainVersions) + 1)
    // Iceberg manifests record ABSOLUTE paths; the survivor set compares
    // location-relative ones
    def relativized(p: String): String = {
      val uri = new Path(p).toUri.getPath
      if (uri.startsWith(baseUri + "/")) uri.stripPrefix(baseUri + "/") else p
    }
    (from to latest).foreach { v =>
      // log-cleaned Delta histories may miss intermediate versions
      try {
        log.snapshot(spark, location, Some(v)).files.foreach { a =>
          keep += relativized(a.path)
          // a live deletion vector keeps its .bin file (which may be shared
          // by several files' DVs — any reference retains it)
          a.deletionVector.filter(d => d.storageType == "u" || d.storageType == "p").foreach { d =>
            keep += DeletionVectors.absolutePath(location, d)
              .toUri.getPath.stripPrefix(baseUri + "/")
          }
        }
        log.auxiliaryLivePaths(spark, location, v).foreach(p => keep += relativized(p))
      }
      catch { case _: graft.catalog.DoesNotExistError => () }
    }
    // ref-pinned files (Iceberg tags/branches — WAP stages live ONLY
    // behind their ref) survive regardless of version retention
    log.refPinnedPaths(spark, location).foreach(p => keep += relativized(p))
    val cutoffMs = System.currentTimeMillis() - math.max(0L, retentionMs)
    val deleted = Seq.newBuilder[String]
    val reserved = log.reservedPrefixes
    // the stats sidecar the CURRENT stamp points to survives; anything
    // else under _graft_stats past retention is an orphan (a failed
    // stamp, or a layer that migrated back inline and left its last
    // sidecar behind — writeSidecar's own sweep never runs again there).
    // Outer None = the pointer couldn't be resolved: don't touch any
    // sidecar (the data-file vacuum proceeds regardless).
    val pointedSidecar: Option[Option[String]] =
      try Some(log.snapshot(spark, location).properties
        .get(ColumnStats.PsidecarProp).map(n => s"_graft_stats/$n"))
      catch { case scala.util.control.NonFatal(_) => None }
    TxLog.leafFiles(f, base).foreach { st =>
      val rel = st.getPath.toUri.getPath.stripPrefix(baseUri + "/")
      // data parquet AND deletion-vector .bin files are vacuumable;
      // everything under the log dir is not
      val isData = (rel.endsWith(".parquet") || rel.endsWith(".bin")) &&
        !reserved.exists(rel.startsWith)
      val isOrphanSidecar = rel.startsWith("_graft_stats/player-") &&
        rel.endsWith(".json") && pointedSidecar.exists(!_.contains(rel))
      if ((isData && !keep.contains(rel) || isOrphanSidecar) &&
          st.getModificationTime < cutoffMs) {
        if (!dryRun) f.delete(st.getPath, false)
        deleted += rel
      }
    }
    deleted.result()
  }

  // ---- internals ----

  /** Files whose partition values satisfy a partition-column predicate.
    * Evaluated on the driver over the (small) file manifest by running the
    * predicate through Spark on a local DataFrame of partition values —
    * same expression semantics as the data path, no bespoke interpreter.
    */
  private def matchingPartitionFiles(snap: Snapshot, pred: Column): Seq[AddFile] = {
    if (snap.files.isEmpty) return Seq.empty
    import scala.jdk.CollectionConverters._
    val partFields = snap.partitionColumns.map(c => snap.schema(c))
    val rows = snap.files.zipWithIndex.map { case (f, i) =>
      org.apache.spark.sql.Row.fromSeq(i.toLong +: snap.partitionColumns.map(c => f.partitionValues.getOrElse(c, null)))
    }
    val schema = StructType(
      org.apache.spark.sql.types.StructField("__file_idx", org.apache.spark.sql.types.LongType) +:
        partFields.map(f => org.apache.spark.sql.types.StructField(f.name, org.apache.spark.sql.types.StringType)))
    val pvDf = spark.createDataFrame(rows.asJava, schema)
    val typed = partFields.foldLeft(pvDf) { (d, f) => d.withColumn(f.name, col(f.name).cast(f.dataType)) }
    val idxs = typed.filter(pred).select("__file_idx").collect().map(_.getLong(0)).toSet
    snap.files.zipWithIndex.collect { case (f, i) if idxs.contains(i.toLong) => f }
  }

  /** Project df to put partition columns where partitionBy expects them and
    * keep a deterministic column order (table columns first, new ones after).
    */
  private def alignForWrite(df: DataFrame, partitionColumns: Seq[String]): DataFrame = df

  private def unionByNameTolerant(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b, allowMissingColumns = true)

  /** Apply a schema-evolution policy (reference dataframe.py:299-352 and
    * SURVEY.md §2.3).
    */
  private def evolveSchema(current: StructType, incoming: StructType,
      evolution: SchemaEvolution, isOverwrite: Boolean): StructType = evolution match {
    case SchemaEvolution.STRICT =>
      SchemaEquality.requireEqual(current, incoming)
      current
    case SchemaEvolution.MERGE =>
      val byName = current.fields.map(f => f.name -> f).toMap
      incoming.fields.foreach { f =>
        byName.get(f.name).foreach { cur =>
          if (!SchemaEquality.equal(StructType(Seq(cur)), StructType(Seq(f.copy(name = cur.name)))))
            throw SchemaMismatchError(
              s"column ${f.name}: incompatible types ${cur.dataType.simpleString} vs ${f.dataType.simpleString}")
        }
      }
      val newFields = incoming.fields.filterNot(f => byName.contains(f.name))
      StructType(current.fields ++ newFields)
    case SchemaEvolution.OVERWRITE =>
      if (!isOverwrite)
        throw UnsupportedOperationError(
          "schema_evolution=OVERWRITE is only valid with mode=OVERWRITE")
      incoming
  }

  /** Post-commit auto-compaction (Delta autoCompact's shape): when the
    * table opts in via `graft.autoCompact.enabled` and a data-writing
    * commit leaves a partition tuple holding >= minFiles sub-threshold
    * files, fold the debris with the incremental compactor in a
    * follow-on commit. Attached to the write path so small files never
    * accumulate between nightly OPTIMIZE runs; cost is O(debris) by
    * construction (optimizeCompact picks only sub-threshold files).
    * Best-effort like every post-commit step (see commitWithRetryIf).
    * Guarded against self-triggering (OPTIMIZE/ZORDER are excluded ops).
    */
  private def maybeAutoCompact(op: String, props: Map[String, String]): Unit =
    if (props.get(TxTable.AutoCompactEnabledProp).contains("true") &&
        op != "OPTIMIZE" && op != "ZORDER") {
      val minFiles = props.get(TxTable.AutoCompactMinFilesProp)
        .flatMap(_.toIntOption).getOrElse(10)
      val minBytes = props.get(TxTable.AutoCompactMinFileBytesProp)
        .flatMap(_.toLongOption).getOrElse(16L * 1024 * 1024)
      val snap = snapshot
      val worth = snap.files.groupBy(_.partitionValues).valuesIterator
        .exists(fs => fs.count(_.sizeBytes < minBytes) >= minFiles)
      if (worth) optimizeCompact(minBytes)
    }

  private def commitWithRetry(op: String)(
      plan: Snapshot => TxTable.Planned): Unit =
    commitWithRetryIf(op)(s => Some(plan(s)))

  /** The one commit loop every table write publishes through: plan
    * against the latest snapshot, `log.tryCommit` at its version + 1, and
    * replan on a lost version race (up to 8 attempts, jittered backoff).
    * The planner may return None to turn the whole operation into a no-op
    * (e.g. an idempotent append discovering its txn watermark already
    * landed — including via a CONCURRENT writer that won a version race
    * mid-retry). Returns whether a commit was published.
    *
    * Once the commit is published, the post-commit steps (checkpoint,
    * stats restamp, the caller's `postCommit` stats fold, auto-compact)
    * are best-effort: each one that fails is skipped and the write still
    * returns normally — a committed write is never reported as failed.
    * A stats step that fails before its own property commit leaves the
    * stamp stale (its fingerprint no longer matches the file set), never
    * fresh and wrong.
    */
  private[tables] def commitWithRetryIf(op: String,
      postCommit: Long => Unit = _ => ())(
      plan: Snapshot => Option[TxTable.Planned]): Boolean = {
    log.checkWritable(spark, location, op)
    def bestEffort(step: => Unit): Unit =
      try step catch { case scala.util.control.NonFatal(_) => () }
    var attempts = 0
    while (true) {
      val snap = snapshot
      val p = plan(snap) match {
        case Some(p) => p
        case None => return false
      }
      if (log.tryCommit(spark, location, snap, op, p.added, p.removedPaths, p.schema,
          p.partitionColumns, p.properties, p.cdc, p.txn, p.deletes)) {
        // periodic checkpoint so snapshot replay stays O(interval)
        bestEffort(log.maybeCheckpoint(spark, location, snap.version + 1))
        // OPTIMIZE/ZORDER/REORG preserve the VISIBLE rows exactly (a
        // compaction re-lays bytes; REORG PURGE materializes deletes
        // already subtracted from every stat) — so a column-stats stamp
        // that was fresh going in stays VALID coming out, and only its
        // file-set fingerprint needs re-issuing. Without this, nightly
        // maintenance would silently kill stats that one nightly COPY
        // INTO just paid an O(batch) fold to keep.
        if (TxTable.StatsPreservingOps.contains(op) && ColumnStats.isFresh(snap))
          bestEffort(ColumnStats.restampFingerprint(this, snap.version + 1))
        // the caller's post-commit step (the append paths' stats FOLD)
        // must land BEFORE auto-compaction: the fold re-freshens the
        // stamp, so the compaction's own OPTIMIZE restamp can then carry
        // it through — reversed, the compaction would see a stale stamp
        // and the fold would stamp a fingerprint the compaction already
        // outdated (an analyzed auto-compacting table losing its stats
        // on every append)
        bestEffort(postCommit(snap.version + 1))
        bestEffort(maybeAutoCompact(op, p.properties))
        return true
      }
      attempts += 1
      if (attempts >= 8)
        throw new java.io.IOException(s"commit conflict at $location after $attempts attempts")
      // brief jittered backoff: losers replan against a fresh snapshot
      // anyway, but desynchronizing the herd keeps N-writer races from
      // consuming attempts in lockstep
      Thread.sleep((1L << math.min(attempts, 4)) *
        (10 + java.util.concurrent.ThreadLocalRandom.current().nextInt(20)))
    }
    false // unreachable
  }
}

object TxTable {
  /** Partition-tuple count above which symlink-manifest writes distribute
    * to executors instead of looping on the driver.
    */
  private[tables] val SymlinkDriverMaxTuples = 64

  /** Commit operations that preserve visible rows exactly — a fresh
    * column-stats stamp survives them via a fingerprint-only restamp.
    */
  private[tables] val StatsPreservingOps = Set("OPTIMIZE", "ZORDER", "REORG")

  /** One planned commit: the file-level outcome a write operation hands to
    * the commit log. `cdc` carries staged change-data files (foreign Delta
    * CDF only); `deletes` carries staged delete files (Iceberg only).
    */
  private[tables] final case class Planned(
      added: Seq[AddFile],
      removedPaths: Seq[String],
      schema: StructType,
      partitionColumns: Seq[String],
      properties: Map[String, String],
      cdc: Seq[AddFile] = Seq.empty,
      txn: Option[TxLog.SetTxn] = None,
      deletes: Option[DeleteFiles] = None)

  /** Iceberg delete files one commit adds: position deletes (rows of
    * `file_path`, `pos`) when `equalityIds` is empty, else equality
    * deletes whose rows are keys over those field ids.
    */
  private[tables] final case class DeleteFiles(files: Seq[AddFile], equalityIds: Seq[Int] = Nil)

  /** Metadata-only table summary (see TxTable.describeStats). */
  final case class TableStats(rowCount: Long, fileCount: Long, sizeBytes: Long)

  /** Delta's default VACUUM retention window (7 days). */
  val DefaultVacuumRetentionMs: Long = 7L * 24 * 3600 * 1000

  /** Opt-in post-write auto-compaction (see maybeAutoCompact). */
  val AutoCompactEnabledProp = "graft.autoCompact.enabled"
  val AutoCompactMinFilesProp = "graft.autoCompact.minFiles"
  val AutoCompactMinFileBytesProp = "graft.autoCompact.minFileBytes"

  def forLocation(spark: SparkSession, location: String): TxTable =
    new TxTable(spark, location)

  /** Handle over a REAL Delta `_delta_log` table: the full write surface
    * (evolution, replaceWhere, MERGE, time travel, ...) committed through
    * the Delta protocol so external engines keep reading the table.
    */
  def forForeignDelta(spark: SparkSession, location: String): TxTable =
    new TxTable(spark, location, ForeignDeltaCommitLog)

  /** Handle over an Apache Iceberg table: the same write surface
    * committed as Iceberg v2 snapshots (IcebergCommitLog), so external
    * Iceberg engines keep reading the table.
    */
  def forIceberg(spark: SparkSession, location: String): TxTable =
    new TxTable(spark, location, IcebergCommitLog)

  /** Auto-dispatch: a native `_graft_log` wins (a table this library
    * created is always driven through its own log); else an existing
    * `_delta_log` gets the Delta backend; else Iceberg `metadata/`; else
    * native (create target).
    */
  def forAnyLocation(spark: SparkSession, location: String): TxTable =
    if (TxLog.exists(spark, location)) forLocation(spark, location)
    else if (DeltaLog.isDeltaTable(spark, location)) forForeignDelta(spark, location)
    else if (IcebergLog.isIcebergTable(spark, location)) forIceberg(spark, location)
    else forLocation(spark, location)
}
