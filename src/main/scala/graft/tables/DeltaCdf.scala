package graft.tables

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Delta Change Data Feed (PROTOCOL.md "Add CDC File" / "Change Data
  * Feed"): when `delta.enableChangeDataFeed=true`, partial-rewrite
  * commits (DELETE / UPDATE / MERGE / replaceWhere) carry `cdc` actions
  * pointing at parquet files under `_change_data/` whose rows are the
  * exact changes, tagged `_change_type` ∈ {insert, delete,
  * update_preimage, update_postimage}. Commits without cdc actions are
  * derivable: `add(dataChange=true)` rows are inserts,
  * `remove(dataChange=true)` rows are deletes (read from the prior
  * snapshot) — which is why OPTIMIZE commits must mark their add/remove
  * actions dataChange=false.
  *
  * Scale posture: cdc files are written by the same distributed in-place
  * write job as data files and sized by |changed rows|, never |table|; the
  * reader plans one distributed scan over the range's derived files and
  * one over its cdc files, tagging rows through partition values — no
  * log-sized collects beyond the action lists Delta readers always hold.
  */
private[graft] object DeltaCdf {
  private implicit val formats: Formats = DefaultFormats

  val ChangeTypeCol = LogFileIndex.ChangeTypeTag.name
  val CommitVersionCol = LogFileIndex.CommitVersionTag.name
  val ChangeDataDir = "_change_data"

  def enabled(props: Map[String, String]): Boolean =
    props.get("delta.enableChangeDataFeed").exists(_.equalsIgnoreCase("true"))

  // ---- write side ----

  /** Stage change rows (the table's data columns + `_change_type`) as
    * parquet under `_change_data/`, hive-partitioned like the data files
    * so other engines' CDF readers recover partition values. Column-mapped
    * tables physicalize data columns exactly like stageForDelta;
    * `_change_type` is never mapped (per spec it is a metadata column).
    */
  def stageCdc(spark: SparkSession, location: String, changes: DataFrame,
      snap: TxLog.Snapshot): Seq[TxLog.AddFile] = {
    val mapping = DeltaLog.columnMappingOf(snap.schema)
    val (projected, physParts) =
      if (mapping.isEmpty) (changes, snap.partitionColumns)
      else {
        val physCols = changes.schema.fieldNames.toSeq.map {
          case ChangeTypeCol => col(ChangeTypeCol)
          case name =>
            val f = snap.schema.fields.find(_.name == name).getOrElse(
              throw new IllegalStateException(
                s"cdc stage: column $name has no mapping metadata in the table schema"))
            val target = DeltaLog.physicalize(f.dataType, withFieldIds = true)
            val meta =
              if (f.metadata.contains(DeltaLog.ColumnIdKey))
                new org.apache.spark.sql.types.MetadataBuilder()
                  .putLong(DeltaLog.ParquetFieldIdKey, f.metadata.getLong(DeltaLog.ColumnIdKey)).build()
              else org.apache.spark.sql.types.Metadata.empty
            col(s"`$name`").cast(target).as(DeltaLog.physicalNameOf(f), meta)
        }
        (changes.select(physCols: _*),
          snap.partitionColumns.map(c => DeltaLog.physicalNameOf(snap.schema(c))))
      }
    TxLog.stageData(spark, s"$location/$ChangeDataDir", projected, physParts)
      .map(a => a.copy(path = s"$ChangeDataDir/${a.path}"))
  }

  /** The `cdc` action line for one staged change file. dataChange is false
    * by definition (cdc files never participate in table-state replay).
    */
  def cdcAction(a: TxLog.AddFile): String =
    JsonMethods.compact(JsonMethods.render(JObject("cdc" -> JObject(
      "path" -> JString(a.path),
      "partitionValues" -> JObject(a.partitionValues.toList.map { case (k, v) => k -> JString(v) }),
      "size" -> JLong(a.sizeBytes),
      "dataChange" -> JBool(false)))))

  /** Tag helper: `df` + a literal `_change_type`. */
  def tagged(df: DataFrame, changeType: String): DataFrame =
    df.withColumn(ChangeTypeCol, lit(changeType))

  // ---- read side ----

  private final case class CommitChanges(
      version: Long,
      timestampMs: Long,
      adds: Seq[TxLog.AddFile],          // dataChange=true only
      removedPaths: Seq[String],         // dataChange=true only
      cdc: Seq[TxLog.AddFile],
      actions: Seq[JValue])              // every action, for state replay

  /** Parse one commit's JSON for CDF purposes. Unlike state replay, this
    * keeps add/remove/cdc separately and honors the dataChange flag.
    */
  private def parseCommit(spark: SparkSession, location: String,
      v: Long, p: Path): CommitChanges = {
    val f = DeltaLog.fs(spark, location)
    var ts = 0L
    val adds = Seq.newBuilder[TxLog.AddFile]
    val removes = Seq.newBuilder[String]
    val cdcs = Seq.newBuilder[TxLog.AddFile]
    val actions = Seq.newBuilder[JValue]
    val in = f.open(p)
    try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines().foreach { ln =>
        val t = ln.trim
        if (t.nonEmpty) {
          val j = JsonMethods.parse(t)
          actions += j
          j \ "commitInfo" \ "timestamp" match {
            case JInt(i) => ts = i.toLong
            case JLong(l) => ts = l
            case _ => ()
          }
          j \ "add" match {
            case JNothing => ()
            case a if (a \ "dataChange").extractOrElse[Boolean](true) =>
              adds += DeltaLog.addFileOf(
                (a \ "path").extract[String],
                (a \ "partitionValues").extractOrElse[Map[String, String]](Map.empty)
                  .filter { case (_, x) => x != null },
                (a \ "size").extractOrElse[Long](0L),
                (a \ "stats").extractOpt[String], DeltaLog.dvOf(a \ "deletionVector"))
            case _ => ()
          }
          j \ "remove" match {
            case JNothing => ()
            case r if (r \ "dataChange").extractOrElse[Boolean](true) =>
              removes += DeltaLog.decodePath((r \ "path").extract[String])
            case _ => ()
          }
          j \ "cdc" match {
            case JNothing => ()
            case c =>
              cdcs += TxLog.AddFile(
                DeltaLog.decodePath((c \ "path").extract[String]),
                (c \ "partitionValues").extractOrElse[Map[String, String]](Map.empty)
                  .filter { case (_, x) => x != null },
                rows = -1L,
                sizeBytes = (c \ "size").extractOrElse[Long](0L),
                minValues = None, maxValues = None)
          }
        }
      }
    } finally in.close()
    if (ts == 0L) ts = f.getFileStatus(p).getModificationTime
    CommitChanges(v, ts, adds.result(), removes.result(), cdcs.result(), actions.result())
  }

  /** Change feed of a real Delta table over commits
    * [fromVersion, toVersion∨latest]: data columns + `_change_type`,
    * `_commit_version`, `_commit_timestamp` — delta-rs `load_cdf` /
    * Delta-Spark `table_changes` shape. Commits with cdc actions use them
    * exclusively; others derive insert/delete from dataChange add/remove
    * actions (reading removed rows as the table held them before the
    * commit, DVs applied). Read with the LATEST schema (older files'
    * missing columns surface as null).
    *
    * Two log reads whatever the commit count: one over every derived
    * entry (change type, version and timestamp are partition values of
    * the read) and one over the cdc files (version and timestamp are).
    */
  def tableChanges(spark: SparkSession, location: String, fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    val snap = DeltaLog.snapshot(spark, location) // protocol gating
    val logical = DeltaLog.logicalKeys(DeltaLog.columnMappingOf(snap.schema).map(_.swap)) _
    val f = DeltaLog.fs(spark, location)
    val derived = Seq.newBuilder[(TxLog.AddFile, Seq[String])]
    val cdc = Seq.newBuilder[(TxLog.AddFile, Seq[String])]
    // the table's entries before each commit, for the rows of removed
    // files: replayed once, at the first commit that removes any, then
    // threaded forward through every later commit's actions
    var prior: Option[DeltaLog.Replay] = None
    DeltaLog.listCommitFiles(f, location)
      .filter { case (v, _) => v >= fromVersion && toVersion.forall(v <= _) }
      .foreach { case (v, p) =>
        val c = parseCommit(spark, location, v, p)
        val tags = Seq(v.toString, LogFileIndex.timestampTag(c.timestampMs))
        // cdc is authoritative for its commit
        if (c.cdc.nonEmpty) cdc ++= c.cdc.map(a => logical(a) -> tags)
        else {
          derived ++= c.adds.map(a => logical(a) -> ("insert" +: tags))
          if (c.removedPaths.nonEmpty) {
            // removed rows as they were when last active: the prior
            // entry (stats, partition values, deletion vector and all)
            val state = prior.getOrElse(DeltaLog.replayState(spark, location, Some(v - 1))._1)
            prior = Some(state)
            derived ++= c.removedPaths.flatMap(state.active.get)
              .map(a => logical(a) -> ("delete" +: tags))
          }
        }
        prior.foreach(state => c.actions.foreach(DeltaLog.applyJsonAction(state, _)))
      }

    val commitTags = Seq(LogFileIndex.CommitVersionTag, LogFileIndex.CommitTimestampTag)
    def read(s: TxLog.Snapshot, tags: Seq[StructField],
        entries: Seq[(TxLog.AddFile, Seq[String])]): Seq[DataFrame] =
      LogFileIndex.tagged(s, tags, entries).map(ForeignDeltaCommitLog.liveRows(spark, location, _))
    val cdcEntries = cdc.result()
    val derivedEntries = derived.result()
    val cdcReads =
      if (cdcEntries.isEmpty) Seq.empty
      else read(snap.copy(schema = StructType(snap.schema.fields :+
        StructField(ChangeTypeCol, StringType))), commitTags, cdcEntries)
    val derivedReads =
      if (derivedEntries.isEmpty && cdcReads.nonEmpty) Seq.empty
      else read(snap, LogFileIndex.ChangeTypeTag +: commitTags, derivedEntries)
    (derivedReads ++ cdcReads).reduce(_ unionByName _)
  }
}
