package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.JsonMethods

import TxLog.{AddFile, Snapshot}

/** The commit-log contract TxTable's write surface runs over. Three
  * implementations: the native `_graft_log` (TxLog), the REAL Delta
  * protocol (`_delta_log`, DeltaLog/DeltaLogWriter) and Apache Iceberg
  * (`metadata/`, IcebergLog/IcebergWriter). Abstracting the log lets
  * every table operation — append/overwrite with schema evolution,
  * replaceWhere, selective partition overwrite, MERGE/DELETE/UPDATE
  * (copy-on-write or merge-on-read), OPTIMIZE, time travel by version or
  * timestamp, change feeds — run unchanged against tables written by
  * delta-rs / Delta-Spark / DuckDB / Iceberg engines, which is the
  * reference's primary path (its whole write matrix goes through
  * delta-rs on real Delta tables, uchelper/dataframe.py:299-488).
  *
  * Data writes are shared (TxLog.stageData — one distributed parquet job
  * that writes files in place and reads their footer stats; the commit is
  * the only publish); only the metadata commit differs per log format.
  * Every version after a table's create is written by `tryCommit`, run
  * from TxTable.commitWithRetryIf's one retry loop.
  */
private[graft] sealed trait CommitLog {
  def snapshot(spark: SparkSession, location: String, asOfVersion: Option[Long] = None): Snapshot

  def latestVersion(spark: SparkSession, location: String): Option[Long]

  /** Pre-write gate; throws when the log's protocol refuses this writer
    * (Delta minWriterVersion / writerFeatures / appendOnly / invariants).
    */
  def checkWritable(spark: SparkSession, location: String, op: String): Unit

  /** Attempt an atomic commit at base.version+1 replacing `removedPaths`
    * with `added` — the only writer of a version after the create.
    * Returns false when a concurrent writer won the version race (caller
    * replans against the new snapshot and retries). `cdc` carries staged
    * change-data files for CDF tables (Delta log only); `deletes` carries
    * staged delete files (Iceberg log only).
    */
  def tryCommit(spark: SparkSession, location: String, base: Snapshot, op: String,
      added: Seq[AddFile], removedPaths: Seq[String],
      schema: StructType, partitionColumns: Seq[String],
      properties: Map[String, String], cdc: Seq[AddFile] = Seq.empty,
      txn: Option[TxLog.SetTxn] = None,
      deletes: Option[TxTable.DeleteFiles] = None): Boolean

  /** Refuses delete files on a log whose deletes are not separate files. */
  protected final def refuseDeleteFiles(deletes: Option[TxTable.DeleteFiles]): Unit =
    if (deletes.nonEmpty)
      throw graft.catalog.UnsupportedOperationError(
        "delete files are only supported on Iceberg tables")

  /** Periodic checkpointing so snapshot replay stays O(interval). */
  def maybeCheckpoint(spark: SparkSession, location: String, version: Long): Unit

  /** Latest version committed at or before `tsMs` (timestamp travel). */
  def versionAtTimestamp(spark: SparkSession, location: String, tsMs: Long): Long

  /** (version, files added) per commit in (fromExclusive, toInclusive]. */
  def addsBetween(spark: SparkSession, location: String, fromExclusive: Long,
      toInclusive: Option[Long]): Seq[(Long, Seq[AddFile])]

  /** True iff every commit in (fromExclusive, toInclusive] only ADDED
    * rows — appends, plus content-preserving compactions
    * (OPTIMIZE/ZORDER rearrange bytes, not data) and metadata-only
    * commits. Incremental consumers (materialized-view refresh, change
    * feeds) can then fold `addsBetween` as an EXACT row delta; a false
    * answer means some commit removed or rewrote rows and the consumer
    * must re-sync. Conservative: anything unrecognizable answers false.
    */
  def appendOnlyBetween(spark: SparkSession, location: String, fromExclusive: Long,
      toInclusive: Option[Long]): Boolean

  /** The snapshot's live rows — the one read of all three logs. Files
    * without a deletion vector read as they are; files with one read
    * with their row positions and drop the deleted rows through ONE
    * broadcast of the snapshot's DV descriptors (DvIsRowLive: codegen'd,
    * no join, pushdown intact). The descriptors are the only deletes a
    * read applies: Iceberg position and equality deletes reach it folded
    * into them (IcebergCommitLog.snapshotOf). The broadcast carries
    * descriptors, not bitmap bytes, so driver and broadcast stay
    * O(files); each executor materializes only the bitmaps of files its
    * tasks scan (see DvDescriptorLookup). `withMeta` keeps each row's
    * data-file path and position (DeltaLog.FileMetaCol / RowMetaCol) —
    * the input of the DV, position-delete and MERGE planners.
    */
  final def liveRows(spark: SparkSession, location: String, s: Snapshot,
      withMeta: Boolean = false): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{toCol, toExpr}
    import org.apache.spark.sql.functions.col
    val read = reader(spark, location, s)
    val (dvFiles, plain) = s.files.partition(_.deletionVector.exists(_.cardinality > 0))
    if (dvFiles.isEmpty) return read(s.files, withMeta)
    val conf = spark.sessionState.newHadoopConf()
    val byPath = dvFiles.map(a =>
      DeletionVectors.normalizedAbs(conf, location, a.path) -> a.deletionVector.get).toMap
    val bc = spark.sparkContext.broadcast(
      new DvDescriptorLookup(location, byPath, new SerializableHadoopConf(conf)))
    val marked = read(dvFiles, true)
      .filter(toCol(DvIsRowLive(
        toExpr(col(DeltaLog.FileMetaCol)), toExpr(col(DeltaLog.RowMetaCol)), bc)))
    val live = if (withMeta) marked else marked.drop(DeltaLog.FileMetaCol, DeltaLog.RowMetaCol)
    if (plain.isEmpty) live else read(plain, withMeta).unionAll(live)
  }

  /** The log's physical relation under `liveRows`: (files of `s`,
    * withMeta) → those files at `s.schema`, deletion vectors NOT
    * applied, plus DeltaLog.FileMetaCol / RowMetaCol when withMeta.
    */
  protected def reader(spark: SparkSession, location: String,
      s: Snapshot): (Seq[AddFile], Boolean) => DataFrame

  /** Stage `df`'s parquet files for a commit against `snap` (logical
    * column names in, log-convention files out — the foreign Delta impl
    * physicalizes column-mapped tables before writing).
    */
  def stage(spark: SparkSession, location: String, df: DataFrame, snap: Snapshot): Seq[AddFile]

  /** Prepare a post-evolution schema for this log format: the foreign
    * Delta impl mints column ids / physical names for columns added to a
    * column-mapped table (and advances maxColumnId in the properties);
    * identity elsewhere.
    */
  def evolveMapping(base: StructType, evolved: StructType,
      props: Map[String, String]): (StructType, Map[String, String]) = (evolved, props)

  /** Create the table at `location` with `df` as version 0. */
  def create(spark: SparkSession, location: String, df: DataFrame,
      partitionColumns: Seq[String], properties: Map[String, String]): Unit

  /** Directory prefixes vacuum must never touch (the log itself). */
  def reservedPrefixes: Seq[String]

  /** Live non-data paths a retained version still references (e.g.
    * Iceberg position-delete parquet) — vacuum keeps them.
    */
  def auxiliaryLivePaths(spark: SparkSession, location: String,
      version: Long): Seq[String] = Seq.empty

  /** Paths pinned by named refs regardless of version retention (Iceberg
    * tags and branches — a WAP branch's staged files are referenced by
    * NO retained version's current snapshot, only by the ref). Vacuum
    * keeps them; empty for logs without refs.
    */
  def refPinnedPaths(spark: SparkSession, location: String): Seq[String] = Seq.empty
}

/** Native `_graft_log` backend — thin delegation to TxLog. */
private[graft] object NativeCommitLog extends CommitLog {
  def snapshot(spark: SparkSession, location: String, asOfVersion: Option[Long]): Snapshot =
    TxLog.snapshot(spark, location, asOfVersion)

  def latestVersion(spark: SparkSession, location: String): Option[Long] =
    TxLog.latestVersion(spark, location)

  def checkWritable(spark: SparkSession, location: String, op: String): Unit = ()

  def tryCommit(spark: SparkSession, location: String, base: Snapshot, op: String,
      added: Seq[AddFile], removedPaths: Seq[String],
      schema: StructType, partitionColumns: Seq[String],
      properties: Map[String, String], cdc: Seq[AddFile],
      txn: Option[TxLog.SetTxn], deletes: Option[TxTable.DeleteFiles]): Boolean = {
    refuseDeleteFiles(deletes)
    // cdc is a Delta-protocol concept; the native log's change feed is the
    // append-oriented changesSince
    TxLog.tryCommit(spark, location, TxLog.Commit(base.version + 1,
      System.currentTimeMillis(), op, schema.json, partitionColumns,
      added, removedPaths, properties, txn))
  }

  def maybeCheckpoint(spark: SparkSession, location: String, version: Long): Unit =
    if (version > 0 && version % TxLog.CheckpointInterval == 0)
      TxLog.writeCheckpoint(spark, location, TxLog.snapshot(spark, location))

  def versionAtTimestamp(spark: SparkSession, location: String, tsMs: Long): Long =
    TxLog.versionAtTimestamp(spark, location, tsMs)

  def addsBetween(spark: SparkSession, location: String, fromExclusive: Long,
      toInclusive: Option[Long]): Seq[(Long, Seq[AddFile])] =
    TxLog.commitsBetween(spark, location, fromExclusive, toInclusive)
      // compaction and column-DDL commits rearrange bytes or schema, not
      // rows — surfacing their adds would re-emit the whole table into
      // change feeds / streams
      .filterNot(c => c.operation == "OPTIMIZE" || c.operation == "ZORDER" ||
        c.operation == "REORG" || c.operation == "RENAME COLUMN" ||
        c.operation == "DROP COLUMN")
      .map(c => c.version -> c.added)

  def appendOnlyBetween(spark: SparkSession, location: String, fromExclusive: Long,
      toInclusive: Option[Long]): Boolean =
    TxLog.commitsBetween(spark, location, fromExclusive, toInclusive).forall(c =>
      c.removed.isEmpty || c.operation == "OPTIMIZE" || c.operation == "ZORDER" ||
        c.operation == "REORG" || c.operation == "RENAME COLUMN" ||
        c.operation == "DROP COLUMN")

  protected def reader(spark: SparkSession, location: String,
      s: Snapshot): (Seq[AddFile], Boolean) => DataFrame =
    (files, withMeta) =>
      LogFileIndex.readSnapshot(spark, location, s, files, DeltaLog.rowMeta(withMeta))

  def stage(spark: SparkSession, location: String, df: DataFrame, snap: Snapshot): Seq[AddFile] =
    TxLog.stageData(spark, location,
      Constraints.enforce(GeneratedColumns.validate(df, snap.schema),
        snap.properties, snap.schema), snap.partitionColumns,
      TxLog.writerOptions(snap.properties))

  def create(spark: SparkSession, location: String, df0: DataFrame,
      partitionColumns: Seq[String], properties: Map[String, String]): Unit = {
    if (TxLog.exists(spark, location))
      throw graft.catalog.AlreadyExistsError(s"transaction log already exists at $location")
    val df = IdentityColumns.stampCreate(df0)
    val added = TxLog.stageData(spark, location,
      Constraints.enforce(GeneratedColumns.validate(df, df.schema), properties, df.schema),
      partitionColumns, TxLog.writerOptions(properties))
    val c = TxLog.Commit(0L, System.currentTimeMillis(), "CREATE", df.schema.json,
      partitionColumns, added, Seq.empty, properties)
    if (!TxLog.tryCommit(spark, location, c))
      throw graft.catalog.AlreadyExistsError(s"concurrent create at $location")
  }

  def reservedPrefixes: Seq[String] =
    Seq(TxLog.LogDirName, TxLog.StagingPrefix, BloomIndex.IndexRoot, CopyInto.IngestRoot)
}

/** Real Delta protocol backend: snapshots replayed from `_delta_log`,
  * commits written as spec-compliant newline-JSON actions through
  * DeltaLogWriter — so schema evolution emits a new metaData action,
  * rewrites emit remove+add with per-file stats, and external engines can
  * keep reading the table after every operation.
  */
private[graft] object ForeignDeltaCommitLog extends CommitLog {
  private implicit val formats: Formats = DefaultFormats

  def snapshot(spark: SparkSession, location: String, asOfVersion: Option[Long]): Snapshot =
    DeltaLog.snapshot(spark, location, asOfVersion)

  def latestVersion(spark: SparkSession, location: String): Option[Long] =
    DeltaLog.latestVersion(spark, location)

  def checkWritable(spark: SparkSession, location: String, op: String): Unit =
    DeltaLogWriter.requireWritable(spark, location,
      // appendOnly blocks data removal, not blind appends or pure
      // metadata commits (Delta allows property changes on such tables)
      forOverwrite = op != "APPEND" && op != "SET_TBLPROPERTIES")
    // row-tracked rewrites are supported: TxTable's rewrite paths read the
    // rows' ids (materialized-over-fresh) and materialize them into the
    // replacement files (RowTracking), so lineage survives
    // DELETE/UPDATE/MERGE/OPTIMIZE — no refusal needed anymore

  def tryCommit(spark: SparkSession, location: String, base: Snapshot, op: String,
      added: Seq[AddFile], removedPaths: Seq[String],
      schema: StructType, partitionColumns: Seq[String],
      properties: Map[String, String], cdc: Seq[AddFile],
      txn: Option[TxLog.SetTxn], deletes: Option[TxTable.DeleteFiles]): Boolean = {
    refuseDeleteFiles(deletes)
    // in-commit timestamps: when enabled, commitInfo must carry a
    // MONOTONIC inCommitTimestamp (max of the wall clock and prev + 1) and
    // time travel reads it instead of file mtimes
    def ictOn(p: Map[String, String]): Boolean =
      p.get("delta.enableInCommitTimestamps").exists(_.equalsIgnoreCase("true"))
    val ictValue: Option[Long] =
      if (!ictOn(properties)) None
      else {
        val f = TxLog.fs(spark, location)
        val prev = DeltaLog.latestVersion(spark, location).map { v =>
          DeltaLog.commitTimestamp(f,
            new org.apache.hadoop.fs.Path(DeltaLog.logDir(location), f"$v%020d.json"))
        }.getOrElse(0L)
        Some(math.max(System.currentTimeMillis(), prev + 1))
      }
    val ictField: List[(String, JValue)] =
      ictValue.map(v => "inCommitTimestamp" -> (JLong(v): JValue)).toList
    // the commit that TURNS ICT ON for an existing table must record where
    // the monotonic clock starts (PROTOCOL.md "In-Commit Timestamps"):
    // spec-compliant readers resolve timestamp time travel below the
    // enablement version via file mtimes, at/above it via ICT
    val properties1 =
      if (!ictOn(properties) || ictOn(base.properties)) properties
      else properties ++ Map(
        "delta.inCommitTimestampEnablementVersion" -> (base.version + 1).toString,
        "delta.inCommitTimestampEnablementTimestamp" -> ictValue.get.toString)
    val commitInfo = JsonMethods.compact(JsonMethods.render(JObject("commitInfo" -> JObject(
      List[(String, JValue)](
        "timestamp" -> JLong(System.currentTimeMillis()),
        "operation" -> JString(deltaOperation(op)),
        "operationParameters" -> JObject("mode" -> JString(op))) ++ ictField))))
    // SetTransaction rides in the same atomic commit as the data it marks
    // (PROTOCOL.md "Transaction Identifiers")
    val txnLine = txn.toSeq.map(t => JsonMethods.compact(JsonMethods.render(JObject(
      "txn" -> JObject(
        "appId" -> JString(t.appId),
        "version" -> JLong(t.version),
        "lastUpdated" -> JLong(t.lastUpdated.getOrElse(System.currentTimeMillis())))))))
    // compaction rearranges bytes, not data: its add/remove actions carry
    // dataChange=false so CDF readers and streaming sources skip them
    val dataChange = op != "OPTIMIZE" && op != "ZORDER" && op != "REORG"
    // a metadata change (schema evolution, property update) must be a new
    // metaData action in the same commit, preserving the table's identity
    val metaChanged = schema.json != base.schema.json ||
      partitionColumns != base.partitionColumns || properties1 != base.properties
    val metaLine: Seq[String] = if (!metaChanged) Seq.empty else {
      val (state, _) = DeltaLog.replayState(spark, location, None)
      Seq(JsonMethods.compact(JsonMethods.render(JObject("metaData" -> JObject(
        "id" -> JString(Option(state.metaId).filter(_.nonEmpty)
          .getOrElse(java.util.UUID.randomUUID().toString)),
        "format" -> JObject("provider" -> JString("parquet"), "options" -> JObject()),
        "schemaString" -> JString(schema.json),
        "partitionColumns" -> JArray(partitionColumns.toList.map(JString(_))),
        "configuration" -> JObject(properties1.toList.map { case (k, v) => k -> JString(v) }))))))
    }
    // a commit whose schema or properties newly exercise a feature (CHECK
    // constraint, CDF, ICT, row tracking, generated/identity/NTZ/variant
    // columns) must also oblige OTHER writers to honor it — legacy writer
    // version bump or table features, per protocolUpgradeFor — and so
    // must an add carrying a deletion vector on a table whose protocol
    // lacks the deletionVectors feature
    val protoLine = DeltaLogWriter.protocolUpgradeFor(spark, location,
      base.schema, base.properties, schema, properties1,
      writesDvs = added.exists(_.deletionVector.isDefined))
    // row tracking: stamp each add with its id range and advance the
    // watermark in the SAME commit (domainMetadata action)
    val (added1, rtLine) =
      if (!RowTracking.enabled(properties1)) (added, None)
      else {
        val (state, _) = DeltaLog.replayState(spark, location, None)
        RowTracking.stamp(added, RowTracking.highWaterMark(state.domains), base.version + 1)
      }
    val lines = (commitInfo +: (txnLine ++ rtLine ++ protoLine ++ metaLine)) ++
      removedPaths.map(DeltaLogWriter.removeAction(_, dataChange)) ++
      added1.map(DeltaLogWriter.addAction(schema, _, dataChange)) ++
      cdc.map(DeltaCdf.cdcAction)
    try {
      DeltaLogWriter.writeCommit(spark, location, base.version + 1, lines)
      true
    } catch { case _: graft.catalog.AlreadyExistsError => false }
  }

  private def deltaOperation(op: String): String = op match {
    case "APPEND" | "OVERWRITE" | "REPLACE_WHERE" | "OVERWRITE_PARTITIONS" => "WRITE"
    case "ZORDER" | "OPTIMIZE" => "OPTIMIZE"
    case other => other // MERGE, DELETE, UPDATE match Delta's names already
  }

  def maybeCheckpoint(spark: SparkSession, location: String, version: Long): Unit =
    DeltaLogWriter.maybeCheckpoint(spark, location, version)

  def versionAtTimestamp(spark: SparkSession, location: String, tsMs: Long): Long =
    DeltaLog.versionAtTimestamp(spark, location, tsMs)

  def addsBetween(spark: SparkSession, location: String, fromExclusive: Long,
      toInclusive: Option[Long]): Seq[(Long, Seq[AddFile])] =
    DeltaLog.addsBetween(spark, location, fromExclusive, toInclusive)

  def appendOnlyBetween(spark: SparkSession, location: String, fromExclusive: Long,
      toInclusive: Option[Long]): Boolean =
    DeltaLog.appendOnlyBetween(spark, location, fromExclusive, toInclusive)

  protected def reader(spark: SparkSession, location: String,
      s: Snapshot): (Seq[AddFile], Boolean) => DataFrame =
    (files, withMeta) => DeltaLog.rawRead(spark, location, s.copy(files = files), withMeta)

  def stage(spark: SparkSession, location: String, df: DataFrame, snap: Snapshot): Seq[AddFile] =
    // constraints and generated columns check LOGICAL column names, before
    // any column-mapping physicalization inside stageForDelta
    DeltaLogWriter.stageForDelta(spark, location,
      Constraints.enforce(GeneratedColumns.validate(df, snap.schema),
        snap.properties, snap.schema), snap)

  override def evolveMapping(base: StructType, evolved: StructType,
      props: Map[String, String]): (StructType, Map[String, String]) =
    DeltaLog.evolveMapping(base, evolved, props)

  def create(spark: SparkSession, location: String, df: DataFrame,
      partitionColumns: Seq[String], properties: Map[String, String]): Unit =
    DeltaLogWriter.create(spark, location, df, partitionColumns, properties)

  def reservedPrefixes: Seq[String] =
    Seq(DeltaLog.LogDirName, TxLog.StagingPrefix, BloomIndex.IndexRoot, CopyInto.IngestRoot)
}

/** Apache Iceberg backend: snapshots planned from `metadata/` (manifest
  * lists + manifests), commits written as new metadata versions through
  * IcebergWriter — so the SAME TxTable surface (append/overwrite with
  * schema evolution, replaceWhere, selective partition overwrite,
  * MERGE/DELETE/UPDATE, OPTIMIZE, time travel, streaming source) runs
  * over all THREE log formats, and external Iceberg engines keep reading
  * the table after every operation.
  *
  * Version axis: METADATA versions (`vN.metadata.json`) — this library
  * commits exactly one snapshot per metadata version, and the
  * create-exclusive metadata rename is the optimistic-concurrency point
  * (two racers at v+1: one wins, one replans), exactly like the Delta
  * JSON commit.
  *
  * Live position and equality deletes surface as deletion-vector
  * descriptors on the snapshot's AddFiles (snapshotOf), so `liveRows` and
  * every rewrite see only live rows; the delete FILES themselves are
  * carried forward by path in each commit's manifest list.
  */
private[graft] object IcebergCommitLog extends CommitLog {
  private implicit val formats: Formats = DefaultFormats

  /** Metadata-property prefix encoding SetTransaction watermarks (the
    * Iceberg format has no txn action; the property rides the atomic
    * metadata swap — see tryCommit).
    */
  private[tables] val TxnPropPrefix = "graft.txn."

  def snapshot(spark: SparkSession, location: String, asOfVersion: Option[Long]): Snapshot =
    snapshotOf(spark, location, IcebergLog.stateAt(spark, location, asOfVersion))

  /** `st` as a log snapshot: its delete files folded into the data
    * files' DV descriptors (attachDeletes), so `liveRows` over it is the
    * state's live rows. Every Iceberg read goes through this fold.
    */
  private[tables] def snapshotOf(spark: SparkSession, location: String,
      st: IcebergLog.IceState): Snapshot = {
    val allProps = IcebergLog.propertiesOf(st.meta)
    val (txnProps, userProps) = allProps.partition(_._1.startsWith(TxnPropPrefix))
    Snapshot(st.metadataVersion, st.schema, st.partitionColumns,
      attachDeletes(spark, location, st), userProps,
      transactions = txnProps.flatMap { case (k, v) =>
        v.toLongOption.map(k.stripPrefix(TxnPropPrefix) -> _)
      })
  }

  /** Bounded memo of folded delete descriptors (snapshots are immutable,
    * so a (location, version, snapshot, file-set fingerprint, spilled)
    * key can never go stale); cleared wholesale past the cap.
    */
  private val deleteFoldCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long, Int, Boolean),
      Map[String, DeletionVectors.Descriptor]]()
  private val DeleteFoldCacheMax = 64

  private[tables] def clearDeleteFoldCacheForTest(): Unit = deleteFoldCache.clear()

  /** Delete-file manifest bytes above which the fold's bitmaps spill to
    * DV sidecar files instead of inlining into the driver-held memo —
    * known from the manifests BEFORE any scan. Below it (the common
    * micro-batch shape) the memo holds O(delete bytes) inline Z85;
    * above it (a mass delete over a large table) the memo holds only
    * path→descriptor tuples, O(files), while the bitmap bytes stay in
    * .bin files the executors wrote — a 10^6-file table with pervasive
    * dense deletes no longer parks 100s of MB on the driver across the
    * memo's lifetime. Vacuum keeps live sidecars (its keep-walk follows
    * "u" descriptors) and reclaims retired ones past retention.
    */
  private[graft] val InlineFoldMaxDeleteBytesConf =
    "graft.iceberg.deleteFold.inlineMaxBytes"
  private[graft] val InlineFoldMaxDeleteBytes: Long = 16L << 20

  /** Fold the state's position- and equality-delete files into
    * per-data-file DV descriptors — inline ("i", Z85 in the descriptor,
    * no extra file) up to [[InlineFoldMaxDeleteBytes]] of delete files,
    * deletion-vector sidecar files written by the EXECUTORS ("u",
    * Delta's own large-DV design) above it — so rewrites and reads
    * treat deleted rows uniformly.
    */
  private def attachDeletes(spark: SparkSession, location: String,
      st: IcebergLog.IceState): Seq[AddFile] = {
    if (st.deletes.isEmpty) return st.files
    // bitmaps build on EXECUTORS (one shuffle keyed by data-file path);
    // the driver sees one serialized bitmap (small fold) or one
    // descriptor tuple (spilled fold) per touched file — never the raw
    // delete rows, so a table with billions of deleted positions folds
    // without driver-memory pressure.
    // Equality deletes (content=2, the Flink-upsert shape) are
    // key-matched, not position-matched: ONE sequence-scoped scan
    // locates each victim's (file, position), and those entries union
    // into the same bitmaps — so the whole TxTable surface (reads,
    // MERGE, version) treats both delete shapes uniformly. The fold is
    // memoized per (location, snapshot, file-set fingerprint): snapshots
    // are immutable per the spec, so repeated snapshot() calls (version
    // → read → merge in one flow) pay the victim scan once; REORG or
    // compaction retires it entirely. The inline/spill choice is part of
    // the key: a fold memoized inline never answers a read that must
    // spill, and the reverse.
    val inlineMax = spark.conf.getOption(InlineFoldMaxDeleteBytesConf)
      .map(_.toLong).getOrElse(InlineFoldMaxDeleteBytes)
    val spill = st.deletes.map(_.bytes).sum > inlineMax
    val cacheKey = (location, st.metadataVersion, st.snapshotId.getOrElse(-1L),
      scala.util.hashing.MurmurHash3.orderedHash(
        st.files.map(_.path) ++ st.deletes.map(_.path)), spill)
    val byFile: Map[String, DeletionVectors.Descriptor] = {
      val hit = deleteFoldCache.get(cacheKey)
      if (hit != null) hit
      else {
        import spark.implicits._
        val posDel = st.deletes.filter(_.content == 1)
        val eqDel = st.deletes.filter(_.content == 2)
        val posEntries =
          if (posDel.isEmpty) None
          else Some(spark.read.parquet(posDel.map(_.path): _*)
            .select(org.apache.spark.sql.functions.col("file_path").cast("string"),
              org.apache.spark.sql.functions.col("pos").cast("long"))
            .toDF("file_path", "pos"))
        val eqEntries =
          if (eqDel.isEmpty) None
          else Some(IcebergLog.equalityVictimPositions(spark, st)
            .toDF("file_path", "pos"))
        val grouped =
          (posEntries.toSeq ++ eqEntries.toSeq).reduce(_ unionByName _)
            .as[(String, Long)]
            .groupByKey { case (p, _) => DeletionVectors.normalizedUri(p) }
            .mapGroups { (p, it) =>
              val bm = new DeletionVectors.Bitmap64
              it.foreach { case (_, pos) => bm.add(pos) }
              (p, bm.serialize)
            }
        val computed: Map[String, DeletionVectors.Descriptor] =
          if (!spill)
            grouped.collect().toMap.map { case (p, data) =>
              p -> DeletionVectors.Descriptor(
                storageType = "i",
                pathOrInlineDv = DeletionVectors.encodeData(data),
                offset = None,
                sizeInBytes = data.length,
                cardinality = DeletionVectors.Bitmap64.deserialize(data).cardinality)
            }
          else {
            // spill: each shuffle partition writes its bitmaps into ONE
            // .bin sidecar (executor-side), the driver collects only the
            // descriptor tuples
            val bcConf = spark.sparkContext.broadcast(
              new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
            val tableLoc = location
            grouped.mapPartitions { it =>
              val items = it.map { case (p, data) =>
                (p, DeletionVectors.Bitmap64.deserialize(data))
              }.toSeq
              if (items.isEmpty) Iterator.empty
              else {
                val descs = DeletionVectors.writeDvFile(
                  bcConf.value.value, tableLoc, items.map(_._2))
                items.iterator.zip(descs.iterator).map { case ((p, _), d) =>
                  (p, d.pathOrInlineDv, d.offset.getOrElse(-1), d.sizeInBytes, d.cardinality)
                }
              }
            }.collect().iterator.map { case (p, pd, off, size, card) =>
              p -> DeletionVectors.Descriptor("u", pd,
                if (off < 0) None else Some(off), size, card)
            }.toMap
          }
        if (deleteFoldCache.size >= DeleteFoldCacheMax) deleteFoldCache.clear()
        deleteFoldCache.put(cacheKey, computed)
        computed
      }
    }
    st.files.map { a =>
      byFile.get(DeletionVectors.normalizedUri(a.path)) match {
        case Some(d) => a.copy(deletionVector = Some(d))
        case None => a
      }
    }
  }

  def latestVersion(spark: SparkSession, location: String): Option[Long] =
    IcebergLog.latestMetadataVersion(spark, location)

  def checkWritable(spark: SparkSession, location: String, op: String): Unit = {
    val st = IcebergLog.stateAt(spark, location, None)
    // resolves the default spec — refuses unknown transform strings
    // before any data is staged (`stage` then clusters every add by the
    // full spec, transforms included; survivor rewrites round-trip their
    // stored tuples untouched)
    IcebergWriter.writablePartFields(st)
  }

  def tryCommit(spark: SparkSession, location: String, base: Snapshot, op: String,
      added: Seq[AddFile], removedPaths: Seq[String],
      schema: StructType, partitionColumns: Seq[String],
      properties0: Map[String, String], cdc: Seq[AddFile],
      txn: Option[TxLog.SetTxn], deletes: Option[TxTable.DeleteFiles]): Boolean = {
    if (cdc.nonEmpty)
      throw graft.catalog.UnsupportedOperationError(
        "change data feed is not supported on Iceberg tables")
    if (partitionColumns != base.partitionColumns)
      throw graft.catalog.UnsupportedOperationError(
        "iceberg: changing partition columns requires a new table")
    val f = IcebergLog.fs(spark, location)
    val st = IcebergLog.stateAt(spark, location, Some(base.version))
    // the Iceberg format has no SetTransaction action; watermarks ride
    // the SAME metadata commit as `graft.txn.<appId>` table properties
    // (the document swap is atomic, so idempotence semantics are
    // identical). snapshot() strips them OUT of Snapshot.properties and
    // surfaces them as Snapshot.transactions, so the stored ones are
    // re-read from the metadata here and carried through every commit.
    val storedTxn = IcebergLog.propertiesOf(st.meta)
      .filter(_._1.startsWith(IcebergCommitLog.TxnPropPrefix))
    val properties = properties0 ++ storedTxn ++ txn.map(t =>
      IcebergCommitLog.TxnPropPrefix + t.appId -> t.version.toString).toMap
    val partFields = IcebergWriter.writablePartFields(st)
    val seq = IcebergWriter.lastSeq(st.meta) + 1
    val snapId = IcebergWriter.nextSnapId(st.meta)
    val now = System.currentTimeMillis()
    // schema / properties changes rewrite the metadata fields, with field
    // ids preserved for columns that survive (id-based resolution)
    val schemaChanged = schema.json != base.schema.json
    val propsChanged = properties0 != base.properties || txn.isDefined
    val (schemaFields, topIds) =
      if (schemaChanged) IcebergWriter.evolvedSchemaFields(st.meta, schema)
      else (Map.empty[String, JValue],
        IcebergLog.topFields(st.meta).map { case (id, n, _) => n -> id }.toMap)
    val replaceFields = schemaFields ++
      (if (propsChanged) Map("properties" -> (JObject(properties.toList.map {
        case (k, v) => k -> (JString(v): JValue)
      }): JValue)) else Map.empty)
    val entrySchema = IcebergWriter.entrySchemaFor(partFields)
    val removedSet = removedPaths.toSet
    val priorMl = IcebergWriter.priorManifestRecords(spark, location, st)
    val mlRecords: Seq[org.apache.avro.generic.GenericRecord] =
      if (removedSet.isEmpty) {
        // pure append: prior manifests carry by reference, one new
        // manifest for the adds
        if (added.isEmpty) priorMl
        else {
          val (p, len, rows) = IcebergWriter.writeManifest(f, location, entrySchema,
            added, schema, partFields, topIds, snapId, seq, content = 0)
          priorMl :+ IcebergWriter.mlRecord(p.toString, len, 0, seq, snapId, added.size, rows)
        }
      } else {
        // rewrite: one manifest enumerating the SURVIVING data files
        // (their partition values and bounds re-serialized from the
        // snapshot), one for the adds; delete manifests carry forward —
        // their entries are path-keyed and removed paths match nothing
        val survivors = st.files.filterNot(a => removedSet.contains(a.path))
          .map(_.copy(deletionVector = None))
        val deletesMl = priorMl.filter(r =>
          r.get("content").asInstanceOf[Number].intValue == 1)
        val survivorsMl =
          if (survivors.isEmpty) Seq.empty
          else {
            val (p, len, rows) = IcebergWriter.writeManifest(f, location, entrySchema,
              survivors, schema, partFields, topIds, snapId, seq, content = 0)
            Seq(IcebergWriter.mlRecord(p.toString, len, 0, seq, snapId, survivors.size, rows))
          }
        val addsMl =
          if (added.isEmpty) Seq.empty
          else {
            val (p, len, rows) = IcebergWriter.writeManifest(f, location, entrySchema,
              added, schema, partFields, topIds, snapId, seq, content = 0)
            Seq(IcebergWriter.mlRecord(p.toString, len, 0, seq, snapId, added.size, rows))
          }
        survivorsMl ++ addsMl ++ deletesMl
      }
    // new delete files: one manifest beside the carried ones. Partition
    // and bounds stay empty — a delete file's rows are (file_path, pos)
    // pairs or keys, not table rows, and it applies table-wide
    val newDeletesMl = deletes.map { d =>
      val entries = d.files.map(_.copy(partitionValues = Map.empty,
        minValues = None, maxValues = None))
      val (p, len, rows) = IcebergWriter.writeManifest(f, location, entrySchema, entries,
        schema, partFields, topIds, snapId, seq,
        content = if (d.equalityIds.isEmpty) 1 else 2, equalityIds = d.equalityIds)
      IcebergWriter.mlRecord(p.toString, len, 1, seq, snapId, entries.size, rows)
    }
    val operation = op match {
      case "APPEND" | "CREATE" => "append"
      case "DELETE" => "delete"
      case "OPTIMIZE" | "ZORDER" | "REORG" | "PUBLISH" => "replace"
      case _ => "overwrite" // OVERWRITE, REPLACE_WHERE, MERGE, UPDATE, ...
    }
    val mlPath = IcebergWriter.writeManifestList(f, location, snapId, mlRecords ++ newDeletesMl)
    try {
      IcebergWriter.commitExisting(f, location, st,
        IcebergWriter.snapshotJson(snapId, now, seq, mlPath, operation, st.snapshotId),
        snapId, seq, now, replaceFields)
      true
    } catch { case _: graft.catalog.AlreadyExistsError => false }
  }

  /** Iceberg metadata is already snapshot-complete — nothing to fold. */
  def maybeCheckpoint(spark: SparkSession, location: String, version: Long): Unit = ()

  def versionAtTimestamp(spark: SparkSession, location: String, tsMs: Long): Long = {
    val f = IcebergLog.fs(spark, location)
    val latest = IcebergLog.latestMetadataVersion(spark, location).getOrElse(
      throw graft.catalog.DoesNotExistError(s"no iceberg table at $location"))
    // metadata documents are metadata-sized and few (one per commit);
    // last-updated-ms is the commit's own clock
    val candidates = (1L to latest).flatMap { v =>
      val p = new org.apache.hadoop.fs.Path(IcebergLog.metadataDir(location), s"v$v.metadata.json")
      if (!f.exists(p)) None
      else {
        val ts = (IcebergLog.readJson(f, p) \ "last-updated-ms").extractOrElse[Long](Long.MaxValue)
        if (ts <= tsMs) Some(v) else None
      }
    }
    candidates.maxOption.getOrElse(
      throw graft.catalog.DoesNotExistError(
        s"timestamp $tsMs predates the first iceberg commit at $location"))
  }

  def addsBetween(spark: SparkSession, location: String, fromExclusive: Long,
      toInclusive: Option[Long]): Seq[(Long, Seq[AddFile])] = {
    val latest = IcebergLog.latestMetadataVersion(spark, location).getOrElse(return Seq.empty)
    val to = toInclusive.getOrElse(latest)
    def pathsAt(st: Option[IcebergLog.IceState]): Set[String] =
      st.map(_.files.map(_.path).toSet).getOrElse(Set.empty)
    def stateAt(v: Long): Option[IcebergLog.IceState] =
      if (v < 1) None
      else try Some(IcebergLog.stateAt(spark, location, Some(v)))
      catch { case _: graft.catalog.DoesNotExistError => None }
    // the previous version's paths carry through the fold: one state
    // derivation per version, not two
    var prev = pathsAt(stateAt(fromExclusive))
    ((fromExclusive + 1) to to).map { v =>
      val st = stateAt(v)
      val adds = st match {
        // compaction rearranges bytes, not data — its adds must not
        // re-enter change feeds or streaming sources
        case Some(s) if IcebergLog.currentOperation(s.meta) == "replace" => Seq.empty
        case Some(s) => s.files.filterNot(a => prev.contains(a.path))
        case None => Seq.empty
      }
      prev = pathsAt(st)
      v -> adds
    }
  }

  def appendOnlyBetween(spark: SparkSession, location: String, fromExclusive: Long,
      toInclusive: Option[Long]): Boolean = {
    val latest = IcebergLog.latestMetadataVersion(spark, location).getOrElse(return true)
    val to = toInclusive.getOrElse(latest)
    def snapIdAt(v: Long): Option[Long] =
      if (v < 1) None
      else try (IcebergLog.metaAt(spark, location, v) \ "current-snapshot-id")
        .extractOpt[Long].filter(_ != -1L)
      catch { case _: graft.catalog.DoesNotExistError => None }
    // metadata versions start at 1 — a fresh consumer watermark of -1
    // must not probe a nonexistent v0. The previous version's pointer
    // carries through the fold (one metadata read per version, not two).
    val start = math.max(1L, fromExclusive + 1)
    var prevPtr: Option[Long] = snapIdAt(start - 1)
    (start to to).forall { v =>
      try {
        val meta = IcebergLog.metaAt(spark, location, v)
        // a metadata-only commit (refs, properties) mints no snapshot —
        // the current pointer is unchanged from v-1 and no rows moved
        val cur = (meta \ "current-snapshot-id").extractOpt[Long].filter(_ != -1L)
        val prev = prevPtr
        prevPtr = cur
        cur == prev || {
          // the new current snapshot must be a CHILD of the previous one:
          // a rollback re-points at an older snapshot whose own summary
          // says "append" but whose effect REMOVED rows — lineage, not
          // the operation label, is what proves nothing disappeared
          val parent = (meta \ "snapshots")
            .extractOrElse[Seq[org.json4s.JValue]](Seq.empty)
            .find(s => (s \ "snapshot-id").extractOpt[Long] == cur)
            .flatMap(s => (s \ "parent-snapshot-id").extractOpt[Long])
          val op = IcebergLog.currentOperation(meta)
          parent == prev && (op == "append" || op == "replace")
        }
      } catch {
        // expired/missing metadata: cannot prove append-only
        case _: graft.catalog.DoesNotExistError => false
      }
    }
  }

  /** Iceberg data files carry full rows, read against the snapshot's
    * metadata document (read once per snapshot read); no files read as
    * an empty frame of the same columns (readData needs a file).
    */
  protected def reader(spark: SparkSession, location: String,
      s: Snapshot): (Seq[AddFile], Boolean) => DataFrame = {
    lazy val meta = IcebergLog.metaAt(spark, location, s.version)
    (files, withMeta) =>
      if (files.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(s.schema.fields.toSeq ++ (if (withMeta) DeltaLog.RowMetaFields else Nil)))
      else IcebergLog.readData(spark, meta, s, files, DeltaLog.rowMeta(withMeta))
  }

  def stage(spark: SparkSession, location: String, df: DataFrame, snap: Snapshot): Seq[AddFile] = {
    // stage by the table's FULL default spec (transforms included), so
    // TxTable-routed appends cluster by hidden partitions too; source
    // types resolve through the possibly-evolved snapshot schema
    val meta = IcebergLog.metaAt(spark, location, snap.version)
    val specFields = IcebergWriter.resolvedSpecFields(meta)
      .map(sf => snap.schema.fields.find(_.name == sf.source)
        .map(f => sf.copy(sourceType = f.dataType)).getOrElse(sf))
    // field ids of the schema this commit publishes: an evolved schema
    // gets the ids tryCommit assigns (evolvedSchemaFields over the same
    // base metadata), so a column the commit adds has its id in the
    // files the commit writes
    val schemaJson =
      if (snap.schema.json == IcebergLog.currentSchema(meta).json)
        IcebergLog.currentSchemaJson(meta)
      else IcebergWriter.evolvedSchemaFields(meta, snap.schema)._1("schemas").children.last
    IcebergWriter.stage(spark, location,
      Constraints.enforce(GeneratedColumns.validate(df, snap.schema),
        snap.properties, snap.schema), specFields,
      schemaJson, IcebergLog.sortOrderFields(meta),
      TxLog.writerOptions(snap.properties))
  }

  def create(spark: SparkSession, location: String, df0: DataFrame,
      partitionColumns: Seq[String], properties: Map[String, String]): Unit = {
    val df = IdentityColumns.stampCreate(df0)
    IcebergWriter.create(spark, location,
      Constraints.enforce(GeneratedColumns.validate(df, df.schema), properties, df.schema),
      partitionColumns, properties)
  }

  /** Live paths beyond the data files: position-delete parquet referenced
    * by recent snapshots (vacuum must not reclaim them).
    */
  override def auxiliaryLivePaths(spark: SparkSession, location: String,
      version: Long): Seq[String] =
    try IcebergLog.stateAt(spark, location, Some(version)).deletes.map(_.path)
    catch { case _: graft.catalog.DoesNotExistError => Seq.empty }

  /** Every ref's snapshot pins its data AND delete files: a WAP branch's
    * staged files exist in no retained version's CURRENT snapshot, only
    * behind the branch ref, and must survive vacuum until the ref drops
    * (expireSnapshots already honors the same pins).
    */
  override def refPinnedPaths(spark: SparkSession, location: String): Seq[String] = {
    import org.json4s.JObject
    val st = try IcebergLog.state(spark, location)
      catch { case _: graft.catalog.DoesNotExistError => return Seq.empty }
    val refIds = (st.meta \ "refs") match {
      case JObject(fields) => fields.flatMap { case (_, v) =>
        (v \ "snapshot-id").extractOpt[Long]
      }
      case _ => Nil
    }
    refIds.distinct.flatMap { id =>
      try {
        val s = IcebergLog.state(spark, location, Some(id))
        s.files.map(_.path) ++ s.deletes.map(_.path)
      } catch { case _: graft.catalog.DoesNotExistError => Seq.empty }
    }
  }

  def reservedPrefixes: Seq[String] =
    Seq("metadata", TxLog.StagingPrefix, BloomIndex.IndexRoot, CopyInto.IngestRoot)
}
