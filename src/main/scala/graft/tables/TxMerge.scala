package graft.tables

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.catalog.UnsupportedOperationError

/** MERGE INTO as a fluent builder — the reference's `merge_table` surface
  * (/root/reference/uchelper/dataframe.py:448-488 and clause usage in
  * tests/test_dataframes.py:733,772-774,813) re-expressed as a Spark
  * join-based copy-on-write rewrite, the same physical shape Delta OSS
  * gives MERGE: full-outer join target↔source on the merge condition, a
  * per-row action decision, then a transactional overwrite commit.
  *
  * Clause parity: whenMatchedUpdateAll / whenMatchedUpdate / whenMatchedDelete,
  * whenNotMatchedInsertAll / whenNotMatchedInsert,
  * whenNotMatchedBySourceUpdate / whenNotMatchedBySourceDelete.
  *
  * Scale posture: the join shuffles both sides by the condition's equi-keys
  * (Catalyst extracts them); AQE handles skew. The cardinality check (one
  * source row per target row, Delta's semantics) is one extra aggregation
  * over the joined keys. At 100 TB the rewrite cost is bounded by target
  * size — a future optimization is pruning untouched files via the join's
  * matched partition values (noted in SURVEY §7.4).
  */
final class TxMerge(
    table: TxTable,
    source: DataFrame,
    condition: String,
    sourceAlias: String,
    targetAlias: String) {

  private sealed trait Clause
  private final case class MatchedUpdate(cond: Option[String], set: Map[String, String]) extends Clause
  private final case class MatchedUpdateAll(cond: Option[String]) extends Clause
  private final case class MatchedDelete(cond: Option[String]) extends Clause
  private final case class NotMatchedInsert(cond: Option[String], values: Map[String, String]) extends Clause
  private final case class NotMatchedInsertAll(cond: Option[String]) extends Clause
  private final case class BySourceUpdate(cond: Option[String], set: Map[String, String]) extends Clause
  private final case class BySourceDelete(cond: Option[String]) extends Clause

  private var matched: Vector[Clause] = Vector.empty
  private var notMatched: Vector[Clause] = Vector.empty
  private var bySource: Vector[Clause] = Vector.empty
  private var txnOpt: Option[TxLog.SetTxn] = None

  /** Attach a SetTransaction (appId, version) watermark to the merge's
    * commit — Delta's idempotent-write contract (`txnAppId`/`txnVersion`)
    * on the MERGE path: the watermark and the row effects land in ONE
    * atomic commit, so an incremental consumer (e.g. materialized-view
    * refresh) can test `latestTxnVersion(appId)` after a crash and know
    * whether this exact batch applied. Not supported on deletion-vector
    * merge-on-read tables.
    */
  def withTransaction(appId: String, version: Long): TxMerge =
    { txnOpt = Some(TxLog.SetTxn(appId, version)); this }

  def whenMatchedUpdateAll(condition: Option[String] = None): TxMerge =
    { matched :+= MatchedUpdateAll(condition); this }
  def whenMatchedUpdate(set: Map[String, String], condition: Option[String] = None): TxMerge =
    { matched :+= MatchedUpdate(condition, set); this }
  def whenMatchedDelete(condition: Option[String] = None): TxMerge =
    { matched :+= MatchedDelete(condition); this }
  def whenNotMatchedInsertAll(condition: Option[String] = None): TxMerge =
    { notMatched :+= NotMatchedInsertAll(condition); this }
  def whenNotMatchedInsert(values: Map[String, String], condition: Option[String] = None): TxMerge =
    { notMatched :+= NotMatchedInsert(condition, values); this }
  def whenNotMatchedBySourceUpdate(set: Map[String, String], condition: Option[String] = None): TxMerge =
    { bySource :+= BySourceUpdate(condition, set); this }
  def whenNotMatchedBySourceDelete(condition: Option[String] = None): TxMerge =
    { bySource :+= BySourceDelete(condition); this }

  /** Run the merge and commit the rewritten table.
    *
    * File pruning (the 100 TB concern): when there are no
    * not-matched-by-source clauses, only data files that actually contain
    * matched target rows need rewriting — a cheap probe join collects the
    * touched file set (Delta's findTouchedFiles shape), the merge itself
    * runs against just those files' rows, and untouched files survive the
    * commit physically unchanged.
    */
  def execute(): Unit = {
    val snap = table.snapshot
    // merge-on-read mode (foreign Delta + delta.enableDeletionVectors):
    // matched target rows join their files' deletion vectors and ONLY the
    // produced rows (updates' new versions, inserts) are written — KEEP
    // rows never move, so merge cost scales with |changes|, not |touched
    // files|. The whole merge is replanned against each attempt's
    // snapshot by the table's commit loop.
    val dvMode = table.log == ForeignDeltaCommitLog && DeltaDvWriter.enabled(snap.properties)
    if (dvMode && txnOpt.isDefined)
      throw UnsupportedOperationError(
        "withTransaction is not supported on deletion-vector merge-on-read " +
          "tables; disable delta.enableDeletionVectors on the target or drop the watermark")
    try {
      if (dvMode) table.commitWithRetryIf("MERGE")(mergeAgainst(_, dvMode = true))
      else mergeAgainst(snap, dvMode = false)
    } catch {
      case NonFatal(e) if cardViolation(e) => throw UnsupportedOperationError(cardCheckMsg)
    }
  }

  private val cardCheckMsg = "MERGE: a target row matched multiple source rows"

  /** The merge planned against `snap`. In merge-on-read mode returns the
    * commit to publish (None: no row changes). In copy-on-write mode
    * commits the rewrite itself through TxTable.commitRewrite, which
    * checks concurrent commits against `snap`, and returns None.
    */
  private def mergeAgainst(snap: TxLog.Snapshot, dvMode: Boolean): Option[TxTable.Planned] = {
    val spark = table.spark
    val targetCols = snap.schema.fieldNames.toSeq

    val tMark = "__graft_t_exists"
    val sMark = "__graft_s_exists"
    val tId = "__graft_t_id"

    // probe: which target files contain matched rows?
    val touchedRelPaths: Option[Seq[String]] =
      if (bySource.isEmpty && snap.files.nonEmpty) {
        val probe = table.toDF(snap)
          .withColumn("__graft_file", input_file_name())
          .alias(targetAlias)
          .join(source.alias(sourceAlias), expr(condition), "inner")
          .select(col("__graft_file")).distinct()
          .collect().map(_.getString(0))
        // Relativize the snapshot's files ONCE into a normalized-URI map —
        // keyed through both the raw resolved string and Hadoop's
        // URL-encoded URI form, since input_file_name() yields whichever
        // the scan's FileSystem produced. O(F + T) instead of the previous
        // O(F × T) endsWith scan (10⁶ files × 10⁵ touched = minutes of
        // driver CPU), and exact matching also removes the
        // suffix-collision false-positive (rel "1.parquet" no longer
        // matches "other/1.parquet").
        val byAbs: Map[String, String] = snap.files.iterator.flatMap { f =>
          val resolved = TxLog.resolve(table.location, f.path)
          val encoded = new org.apache.hadoop.fs.Path(resolved).toUri.toString
          Iterator(DeletionVectors.normalizedUri(resolved) -> f.path,
            DeletionVectors.normalizedUri(encoded) -> f.path)
        }.toMap
        val (hit, miss) = probe.partition(p => byAbs.contains(DeletionVectors.normalizedUri(p)))
        val resolvedHits = hit.map(p => byAbs(DeletionVectors.normalizedUri(p)))
        // a probe path the map can't place means our normalization missed
        // an FS quirk — fall back to the slash-guarded suffix scan for
        // just those paths (correctness-safe; expected empty)
        val fallback =
          if (miss.isEmpty) Seq.empty
          else snap.files.map(_.path).filter(rel => miss.exists(_.endsWith("/" + rel)))
        Some((resolvedHits ++ fallback).distinct.toSeq)
      } else None

    val touchedAddFiles: Seq[TxLog.AddFile] = touchedRelPaths match {
      case Some(touched) => val set = touched.toSet; snap.files.filter(f => set.contains(f.path))
      case None => snap.files
    }
    // row-tracked tables: the target read carries each row's id/commit
    // version so updates keep ids and the rewrite materializes them
    val rtTracked = table.log == ForeignDeltaCommitLog && RowTracking.enabled(snap.properties)
    val (targetDf, removedPaths) =
      if (dvMode)
        ((if (rtTracked) DeltaLog.withRowIds(spark, table.location, snap.copy(files = touchedAddFiles))
          else table.log.liveRows(spark, table.location, snap.copy(files = touchedAddFiles),
            withMeta = true)),
          touchedAddFiles.map(_.path))
      else touchedRelPaths match {
        case Some(touched) =>
          (table.readForRewrite(snap, touchedAddFiles), touched)
        case None =>
          (table.readForRewrite(snap, snap.files), snap.files.map(_.path))
      }

    val t = targetDf
      .withColumn(tMark, lit(true))
      .withColumn(tId, monotonically_increasing_id())
      .alias(targetAlias)
    val s = source.withColumn(sMark, lit(true)).alias(sourceAlias)

    val joined0 = t.join(s, expr(condition), "full_outer")

    val isMatched = col(tMark).isNotNull && col(sMark).isNotNull
    val isInsert = col(tMark).isNull && col(sMark).isNotNull
    val isBySource = col(tMark).isNotNull && col(sMark).isNull

    // Delta semantics: a target row may match at most one source row when
    // update/delete clauses exist. Fused into the single merge pass (the
    // round-1 shape ran the full-outer join twice — once for this check,
    // once for the result): a windowed match-count per target row feeds a
    // raise_error branch in the action column, so the check rides the same
    // job that writes the result. Insert rows (null target id) get unique
    // negative window keys so they don't pile into one window partition.
    val needCardCheck = matched.nonEmpty || bySource.nonEmpty
    val joined =
      if (!needCardCheck) joined0
      else {
        val wKey = "__graft_wkey"
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col(wKey))
        joined0
          .withColumn(wKey, coalesce(col(tId), -(monotonically_increasing_id() + 1)))
          .withColumn("__graft_mcount",
            sum(when(isMatched, 1L).otherwise(0L)).over(w))
      }

    def tCol(c: String): Column = col(s"$targetAlias.$c")
    def sCol(c: String): Column = col(s"$sourceAlias.$c")
    val sourceCols = source.columns.toSet

    def clauseCond(base: Column, c: Option[String]): Column =
      c.map(x => base && expr(x)).getOrElse(base)

    // decide one action per row: first applicable clause wins, else keep/drop
    val keep = lit("KEEP")
    var action: Column = null
    def addAction(cond: Column, tag: String): Unit =
      action = if (action == null) when(cond, lit(tag)) else action.when(cond, lit(tag))

    matched.zipWithIndex.foreach {
      case (MatchedUpdateAll(c), i) => addAction(clauseCond(isMatched, c), s"MU$i")
      case (MatchedUpdate(c, _), i) => addAction(clauseCond(isMatched, c), s"MU$i")
      case (MatchedDelete(c), i) => addAction(clauseCond(isMatched, c), s"MD$i")
      case _ => ()
    }
    notMatched.zipWithIndex.foreach {
      case (NotMatchedInsertAll(c), i) => addAction(clauseCond(isInsert, c), s"NI$i")
      case (NotMatchedInsert(c, _), i) => addAction(clauseCond(isInsert, c), s"NI$i")
      case _ => ()
    }
    bySource.zipWithIndex.foreach {
      case (BySourceUpdate(c, _), i) => addAction(clauseCond(isBySource, c), s"BU$i")
      case (BySourceDelete(c), i) => addAction(clauseCond(isBySource, c), s"BD$i")
      case _ => ()
    }
    // unmatched-source rows with no applicable insert clause are dropped
    val actionCol =
      (if (action == null) keep else action.otherwise(keep))
    val actionOrDrop = when(isInsert && actionCol === "KEEP", lit("DROP")).otherwise(actionCol)
    // the cardinality guard is the action column's first branch, so it is
    // evaluated for every joined row in the result job and cannot be
    // pruned away
    val guardedAction =
      if (!needCardCheck) actionOrDrop
      else when(isMatched && col("__graft_mcount") > 1L,
        raise_error(lit(cardCheckMsg)).cast(org.apache.spark.sql.types.StringType))
        .otherwise(actionOrDrop)
    val withAction = joined.withColumn("__graft_action", guardedAction)

    def valueFor(c: String): Column = {
      var v: Column = null
      def add(cond: Column, value: Column): Unit =
        v = if (v == null) when(cond, value) else v.when(cond, value)
      matched.zipWithIndex.foreach {
        case (MatchedUpdateAll(_), i) =>
          add(col("__graft_action") === s"MU$i",
            if (sourceCols.contains(c)) sCol(c) else tCol(c))
        case (MatchedUpdate(_, set), i) =>
          add(col("__graft_action") === s"MU$i",
            set.get(c).map(expr).getOrElse(tCol(c)))
        case _ => ()
      }
      notMatched.zipWithIndex.foreach {
        case (NotMatchedInsertAll(_), i) =>
          add(col("__graft_action") === s"NI$i",
            if (sourceCols.contains(c)) sCol(c) else lit(null))
        case (NotMatchedInsert(_, values), i) =>
          add(col("__graft_action") === s"NI$i",
            values.get(c).map(expr).getOrElse(lit(null)))
        case _ => ()
      }
      bySource.zipWithIndex.foreach {
        case (BySourceUpdate(_, set), i) =>
          add(col("__graft_action") === s"BU$i",
            set.get(c).map(expr).getOrElse(tCol(c)))
        case _ => ()
      }
      val base = if (v == null) tCol(c) else v.otherwise(tCol(c))
      base.cast(snap.schema(c).dataType).as(c)
    }

    val deletes = matched.zipWithIndex.collect { case (MatchedDelete(_), i) => s"MD$i" } ++
      bySource.zipWithIndex.collect { case (BySourceDelete(_), i) => s"BD$i" } :+ "DROP"

    val allUpdateTags = matched.zipWithIndex.collect {
      case (MatchedUpdate(_, _) | MatchedUpdateAll(_), i) => s"MU$i" } ++
      bySource.zipWithIndex.collect { case (BySourceUpdate(_, _), i) => s"BU$i" }
    val allInsertTags = notMatched.zipWithIndex.collect {
      case (NotMatchedInsert(_, _) | NotMatchedInsertAll(_), i) => s"NI$i" }

    // row-tracking output columns (copy-on-write rewrite): KEEP and
    // update rows keep their id; inserts get null -> fresh from the new
    // add's baseRowId. Commit version survives only on KEEP rows (updates
    // and inserts are (re)written by THIS commit -> null -> default).
    def ridOut: org.apache.spark.sql.Column =
      when(col("__graft_action").isin(allInsertTags: _*), lit(null).cast("long"))
        .otherwise(tCol(RowTracking.RowIdCol)).as(RowTracking.RowIdCol)
    def rcvOut: org.apache.spark.sql.Column =
      when(col("__graft_action").isin(allInsertTags ++ allUpdateTags: _*), lit(null).cast("long"))
        .otherwise(tCol(RowTracking.RowCommitVersionCol)).as(RowTracking.RowCommitVersionCol)
    def rtCols(tracked: Boolean): Seq[org.apache.spark.sql.Column] =
      if (tracked) Seq(ridOut, rcvOut) else Seq.empty

    // CDF (delta.enableChangeDataFeed): change rows derived from the same
    // action column — updates emit pre+postimage, deletes the old row,
    // inserts the new one. Reads the joined set a second time, so callers
    // persist it first.
    val cdfOn = table.cdfOn(snap.properties)
    def cdcRowsOf(actioned: DataFrame): DataFrame = {
      val updateTags = matched.zipWithIndex.collect {
        case (MatchedUpdate(_, _) | MatchedUpdateAll(_), i) => s"MU$i" } ++
        bySource.zipWithIndex.collect { case (BySourceUpdate(_, _), i) => s"BU$i" }
      val deleteTags = deletes.filterNot(_ == "DROP")
      val insertTags = notMatched.zipWithIndex.collect {
        case (NotMatchedInsert(_, _) | NotMatchedInsertAll(_), i) => s"NI$i" }
      val act = col("__graft_action")
      val pre = actioned.filter(act.isin(updateTags ++ deleteTags: _*))
        .select(targetCols.map(c =>
          tCol(c).cast(snap.schema(c).dataType).as(c)).toIndexedSeq :+
          when(act.isin(updateTags: _*), lit("update_preimage"))
            .otherwise(lit("delete")).as(DeltaCdf.ChangeTypeCol): _*)
      val post = actioned.filter(act.isin(updateTags ++ insertTags: _*))
        .select(targetCols.map(valueFor).toIndexedSeq :+
          when(act.isin(insertTags: _*), lit("insert"))
            .otherwise(lit("update_postimage")).as(DeltaCdf.ChangeTypeCol): _*)
      pre.unionByName(post)
    }

    if (dvMode) {
      // two actions read the joined set (bitmap collect + append stage) —
      // persist so the join/cardinality pass runs once
      val cached = withAction.persist()
      try {
        // every non-KEEP action on an existing target row marks it deleted
        // (updates delete the old version; inserts have no target row)
        val dvMarks = cached
          .filter(col(tMark).isNotNull && !col("__graft_action").isin("KEEP", "DROP"))
          .select(col(DeltaLog.FileMetaCol), col(DeltaLog.RowMetaCol))
        val planned = DeltaDvWriter.planDvMarks(spark, table.location, touchedAddFiles, dvMarks)
        val produced = allUpdateTags ++ allInsertTags
        // every produced row is (re)written by THIS commit: updates keep
        // their materialized id, inserts go fresh; commit version fresh
        val newRows0 = cached
          .filter(col("__graft_action").isin(produced: _*))
          .select(targetCols.map(valueFor).toIndexedSeq ++
            (if (rtTracked) Seq(ridOut, lit(null).cast("long")
              .as(RowTracking.RowCommitVersionCol)) else Seq.empty): _*)
        var dvProps = snap.properties
        val newRows =
          if (!rtTracked) newRows0
          else {
            val (p2, ridName, rcvName) = RowTracking.ensureMaterializedNames(dvProps)
            dvProps = p2
            newRows0.withColumnRenamed(RowTracking.RowIdCol, ridName)
              .withColumnRenamed(RowTracking.RowCommitVersionCol, rcvName)
          }
        val newAdds =
          if (produced.isEmpty) Seq.empty
          else DeltaLogWriter.stageForDelta(spark, table.location, newRows,
            snap.copy(properties = dvProps))
        val cdcAdds =
          if (!cdfOn) Seq.empty
          else DeltaCdf.stageCdc(spark, table.location, cdcRowsOf(cached), snap)
        val (dvRemoves, dvAdds) = planned.getOrElse((Seq.empty, Seq.empty))
        Option.when(dvRemoves.nonEmpty || newAdds.nonEmpty)(TxTable.Planned(
          dvAdds ++ newAdds, dvRemoves, snap.schema, snap.partitionColumns, dvProps, cdcAdds))
      } finally cached.unpersist()
    } else {
      // with CDF on, the joined set feeds two jobs (rewrite + cdc) —
      // persist so the join/cardinality pass runs once
      val actioned = if (cdfOn) withAction.persist() else withAction
      val result = actioned
        .filter(!col("__graft_action").isin(deletes: _*))
        .select(targetCols.map(valueFor).toIndexedSeq ++ rtCols(rtTracked): _*)
      // commit: only the touched files are replaced; the rest of the table
      // is untouched (physically and in the manifest)
      try table.commitRewrite(result, removedPaths, snap.version,
        if (cdfOn) Some(cdcRowsOf(actioned)) else None, txn = txnOpt)
      finally if (cdfOn) actioned.unpersist()
      None
    }
  }

  /** The fused cardinality guard surfaces as a raise_error failure inside
    * the write job; unwrap the task-failure nesting to recognize it.
    */
  private def cardViolation(e: Throwable): Boolean = {
    var t: Throwable = e
    while (t != null) {
      if (t.getMessage != null && t.getMessage.contains("matched multiple source rows")) return true
      t = t.getCause
    }
    false
  }
}
