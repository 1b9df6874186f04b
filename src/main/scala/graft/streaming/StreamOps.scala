package graft.streaming

import java.sql.Timestamp

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.queries.Tables
import graft.tables.TxTable

/** Structured Streaming operators over event streams — the streaming face
  * of the engine (the reference has no streaming at all; this exceeds
  * parity deliberately, per the build brief).
  *
  * Pipeline shape: `readStream` (file source over an events directory or
  * any user stream) → event-time transforms with watermarks → windowed
  * aggregation / stateful sessionization → sink (console, memory, or a
  * transactional table via foreachBatch).
  *
  * Scale posture: everything is keyed state — windowed counts shuffle by
  * (window, key); sessionization shuffles by user and keeps one small
  * state object per active user with an inactivity timeout, so state size
  * is bounded by active users, not history.
  */
object StreamOps {

  final case class Event(user_id: Long, event_type: String, value: Double, ts: Timestamp)

  final case class SessionState(start: Long, lastSeen: Long, nEvents: Long, totalValue: Double)

  final case class SessionResult(
      user_id: Long,
      session_start: Timestamp,
      session_end: Timestamp,
      n_events: Long,
      total_value: Double)

  /** File-based event stream from parquet drops of the events table shape,
    * normalized to carry a proper `event_time` timestamp column. The `ts`
    * column has shipped as both epoch-ns long and TIMESTAMP(MICROS) across
    * fixture generations (see Tables.events); a streaming schema is fixed up
    * front, so sniff the already-dropped files once at stream construction
    * (through Tables' memoized schema helper — no data scan) and declare
    * the matching schema. Directories with no files yet default to the
    * ns-long shape.
    */
  def eventFileStream(spark: SparkSession, dir: String): DataFrame = {
    // declare the SNIFFED type itself — hardcoding e.g. TimestampNTZType
    // would make the reader reject fixtures whose µs column is
    // UTC-adjusted (inferred TimestampType)
    val tsType: DataType =
      try Tables.schemaOf(spark, dir)("ts").dataType
      catch { case NonFatal(_) => LongType }
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    val raw = spark.readStream.schema(schema).parquet(dir)
    if (tsType == LongType)
      raw.withColumn("event_time",
        timestamp_micros((col("ts") / lit(1000L)).cast(LongType)))
    else raw.withColumn("event_time", col("ts").cast(TimestampType))
  }

  /** Windowed per-type counts with a watermark: late events beyond
    * `lateness` are dropped, state for closed windows is purged.
    */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
      lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("event_time", lateness)
      .groupBy(window(col("event_time"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))

  /** Stateful sessionization via mapGroupsWithState: one state object per
    * user, closed after `gapMinutes` of inactivity (event-time timeout).
    * Emits one row per closed session.
    */
  def sessionize(spark: SparkSession, events: DataFrame, gapMinutes: Int = 30): Dataset[SessionResult] = {
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events
      .select(col("user_id"), col("event_type"), col("value"), col("event_time").as("ts"))
      .withWatermark("ts", s"$gapMinutes minutes")
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionResult](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, events, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionResult(userId, new Timestamp(s.start), new Timestamp(s.lastSeen),
              s.nEvents, s.totalValue))
          } else {
            val sorted = events.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionResult]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastSeen <= gapMs =>
                  cur = Some(s.copy(lastSeen = t, nEvents = s.nEvents + 1,
                    totalValue = s.totalValue + e.value))
                case Some(s) =>
                  closed ::= SessionResult(userId, new Timestamp(s.start),
                    new Timestamp(s.lastSeen), s.nEvents, s.totalValue)
                  cur = Some(SessionState(t, t, 1L, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastSeen + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Streaming exact dedup: drop events whose key was already seen within
    * the watermark horizon (state is purged beyond it — bounded by the
    * horizon's key cardinality, not stream history). The streaming face of
    * NearDup.exactDedup for ingest pipelines.
    */
  def deduplicateStream(events: DataFrame, keyCols: Seq[String],
      eventTimeCol: String = "event_time", horizon: String = "1 hour"): DataFrame =
    events
      .withWatermark(eventTimeCol, horizon)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Continuously maintain an incremental materialized view: the
    * TxTable streaming source delivers the source table's commits as
    * micro-batches, and each trigger runs one
    * `IncrementalView.refresh`. The batch DataFrame is only the COMMIT
    * SIGNAL — its rows are never executed; refresh reads exactly the
    * unapplied version range from the log under its own SetTransaction
    * watermark, so the stream checkpoint and the view can never
    * disagree: a crash-replayed trigger finds the watermark and no-ops,
    * a missed trigger is folded into the next one's range. Per-trigger
    * cost is O(rows committed since the last refresh).
    */
  def maintainView(spark: org.apache.spark.sql.SparkSession, sourceLocation: String,
      viewLocation: String, keys: Seq[String], sumCols: Seq[String],
      checkpointDir: String, trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    spark.readStream
      .format("graft.streaming.TxTableSourceProvider")
      .load(sourceLocation)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.tables.IncrementalView.refresh(
          TxTable.forAnyLocation(batch.sparkSession, sourceLocation),
          viewLocation, keys, sumCols)
        ()
      }
      .start()

  /** Continuous ingest dedup — the full production loop: every incoming
    * micro-batch of documents is (1) checked against the PERSISTED
    * corpus `DedupIndex` (refreshed first, so commits from other writers
    * fold in), (2) deduplicated within itself (LSH pairs, keep the
    * lowest id — greedy but deterministic), (3) appended to the corpus
    * EXACTLY-ONCE via `appendIdempotent`, and (4) folded into the index
    * so the next batch sees it. Per-trigger cost is O(batch) — band
    * join + candidate verification — never O(corpus).
    *
    * Crash-replay: if the corpus append committed but the stream
    * checkpoint did not, the replayed batch finds its documents already
    * indexed (filterNew drops them all) AND its batch watermark already
    * set (the append no-ops) — no duplicates either way.
    */
  def dedupIngest(stream: DataFrame, corpusLocation: String, indexLocation: String,
      checkpointDir: String, idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.8,
      trigger: Trigger = Trigger.AvailableNow(),
      appId: Option[String] = None): StreamingQuery = {
    val id = appId.getOrElse(
      "graft-dedup-ingest-" + java.util.UUID.nameUUIDFromBytes(
        checkpointDir.getBytes("UTF-8")).toString)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.functions.col
        val spark = batch0.sparkSession
        // resolution order mirrors forAnyLocation: an existing Delta or
        // Iceberg corpus must be written INTO, never shadowed by a fresh
        // native log at the same location
        if (!graft.tables.TxLog.exists(spark, corpusLocation) &&
            !graft.tables.DeltaLog.isDeltaTable(spark, corpusLocation) &&
            !graft.tables.IcebergLog.isIcebergTable(spark, corpusLocation))
          new TxTable(spark, corpusLocation).create(batch0.limit(0))
        val corpus = TxTable.forAnyLocation(spark, corpusLocation)
        graft.ext.DedupIndex.refresh(corpus, indexLocation, idCol, textCol)
        // the batch feeds band-signing, the verify universe, the
        // within-batch pair pass, and the final append — persist both it
        // and the corpus-filtered survivors for the trigger
        val batch = batch0.persist()
        try {
          val vsCorpus = graft.ext.DedupIndex.filterNew(
            corpus, indexLocation, batch, idCol, textCol, threshold = threshold)
            .persist()
          try {
            // within-batch near-dups: LSH pairs come ordered id_a < id_b,
            // so dropping every id_b keeps each group's lowest id
            val selfDups = graft.ext.NearDup.minhashDupPairs(
              vsCorpus, idCol, textCol, threshold = threshold)
              .select(col("id_b").as(idCol)).distinct()
            val fresh = vsCorpus.join(selfDups, Seq(idCol), "left_anti")
            // exactly-once on all three logs (Iceberg encodes the
            // SetTransaction watermark as an atomic metadata property)
            corpus.appendIdempotent(fresh, id, batchId)
            graft.ext.DedupIndex.refresh(corpus, indexLocation, idCol, textCol)
          } finally vsCorpus.unpersist()
        } finally batch.unpersist()
        ()
      }
      .start()
  }

  /** Sink a streaming DataFrame into a transactional table (either log
    * format) with EXACTLY-ONCE semantics: each micro-batch lands through
    * `TxTable.appendIdempotent`, which commits the rows and a
    * SetTransaction (appId, batchId) watermark in one atomic commit —
    * the same protocol delta-rs/Delta-Spark streaming sinks use. When a
    * crash between the table commit and the stream-checkpoint advance
    * makes Structured Streaming re-run a batch, the watermark marks it
    * already applied and the re-run is a no-op instead of a duplicate
    * append.
    *
    * `appId` must be stable across restarts of the same logical query
    * (default: derived from the sink's checkpoint directory, which IS the
    * query's identity for recovery purposes).
    */
  def writeToTxTable(stream: DataFrame, location: String,
      checkpointDir: String, trigger: Trigger = Trigger.AvailableNow(),
      appId: Option[String] = None): StreamingQuery = {
    val id = appId.getOrElse(
      "graft-sink-" + java.util.UUID.nameUUIDFromBytes(
        checkpointDir.getBytes("UTF-8")).toString)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val t = TxTable.forAnyLocation(batch.sparkSession, location)
        // first batch: create EMPTY (version 0 has no watermark), then land
        // the rows via the idempotent path — a crash anywhere leaves either
        // nothing, an empty table, or rows+watermark; no re-run duplicates
        if (!graft.tables.TxLog.exists(batch.sparkSession, location) &&
            !graft.tables.DeltaLog.isDeltaTable(batch.sparkSession, location) &&
            !graft.tables.IcebergLog.isIcebergTable(batch.sparkSession, location))
          t.create(batch.limit(0))
        t.appendIdempotent(batch, id, batchId)
        ()
      }
      .start()
  }

  /** Streaming CDC apply — "APPLY CHANGES INTO" for this engine: a
    * change stream (upserts + optional tombstones) continuously MERGEd
    * into a transactional table, one merge commit per microbatch.
    *
    *   - `sequenceCol`: ordering column (CDC batches carry several
    *     versions of one key; only the LATEST may apply — Delta Live
    *     Tables' SEQUENCE BY). Enforced ACROSS microbatches, not just
    *     within one: the last-applied sequence is persisted in the
    *     target as a `__graft_seq` shadow column (DLT keeps the same
    *     bookkeeping internally) and the merge's update/delete clauses
    *     require `s.__graft_seq >= t.__graft_seq`, so a late event
    *     arriving in a LATER microbatch with a LOWER sequence than what
    *     was already applied is a no-op instead of regressing the key.
    *     Two windows remain unguarded by construction: a stale event for
    *     a key whose row was tombstone-deleted re-inserts it (the delete
    *     removed the stored sequence — DLT solves this by retaining
    *     tombstones; callers who need that should model deletes as
    *     soft-delete columns), and a pre-existing target created WITHOUT
    *     the shadow column falls back to batch-internal ordering only.
    *     Absent `sequenceCol`, any batch-internal duplicate key is
    *     arbitrary-but-single via dropDuplicates.
    *   - `deleteCol`: boolean tombstone marker; marked keys are DELETED
    *     from the target, others upserted. The marker itself never lands
    *     in the target: merge update/insert resolve against the TARGET
    *     schema.
    *
    * Restart semantics: an upsert-by-key merge is NATURALLY idempotent —
    * re-applying a batch (the at-least-once replay after a crash) sets
    * the same keys to the same values, deletes already-deleted keys, and
    * inserts nothing new (the `>=` in the sequence guard is what keeps
    * an exact replay applying rather than being skipped) — and Spark
    * replays only the last uncommitted batch, never an older one, so no
    * watermark bookkeeping is needed (unlike the append sink above,
    * where a replayed append would duplicate rows and the SetTransaction
    * watermark is load-bearing).
    *
    * Scale shape: each microbatch is one merge — batch-side broadcast
    * when small, file-pruned copy-on-write on the target, so per-trigger
    * cost is O(touched files), not O(table). The deduped batch is
    * persisted for the trigger (it is read once for the emptiness probe
    * and once per merge side otherwise, so caching halves source reads).
    */
  def upsertToTxTable(stream: DataFrame, location: String, keyCols: Seq[String],
      checkpointDir: String,
      sequenceCol: Option[String] = None,
      deleteCol: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch0: DataFrame, _: Long) =>
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.{col, row_number}
        val seqName = "__graft_seq"
        val batch = sequenceCol match {
          case Some(sc) =>
            val w = Window.partitionBy(keyCols.map(col): _*)
              .orderBy(col(sc).desc)
            batch0.withColumn("__rn", row_number().over(w))
              .filter(col("__rn") === 1).drop("__rn")
              .withColumnRenamed(sc, seqName)
          case None => batch0.dropDuplicates(keyCols)
        }
        batch.persist()
        try {
          if (batch.isEmpty) ()
          else {
            val spark = batch.sparkSession
            if (!graft.tables.TxLog.exists(spark, location) &&
                !graft.tables.DeltaLog.isDeltaTable(spark, location) &&
                !graft.tables.IcebergLog.isIcebergTable(spark, location))
              new TxTable(spark, location).create(
                deleteCol.map(batch.drop(_)).getOrElse(batch).limit(0))
            val t = TxTable.forAnyLocation(spark, location)
            // cross-batch ordering only holds if the target carries the
            // shadow column; a foreign pre-existing table without it
            // degrades to batch-internal ordering (documented above)
            val seqGuard =
              if (sequenceCol.isDefined &&
                  t.snapshot.schema.fieldNames.contains(seqName))
                Some(s"s.`$seqName` >= t.`$seqName`")
              else None
            def and(a: Option[String], b: Option[String]): Option[String] =
              (a, b) match {
                case (Some(x), Some(y)) => Some(s"($x) AND ($y)")
                case (x, y) => x.orElse(y)
              }
            val cond = keyCols.map(k => s"t.`$k` = s.`$k`").mkString(" AND ")
            val m = t.merge(batch, cond, "s", "t")
            deleteCol match {
              case Some(dc) =>
                m.whenMatchedDelete(and(Some(s"s.`$dc`"), seqGuard))
                  .whenMatchedUpdateAll(and(Some(s"NOT s.`$dc`"), seqGuard))
                  .whenNotMatchedInsertAll(Some(s"NOT s.`$dc`"))
              case None =>
                m.whenMatchedUpdateAll(seqGuard)
                  .whenNotMatchedInsertAll()
            }
            m.execute()
          }
        } finally batch.unpersist()
        ()
      }
      .start()
}
