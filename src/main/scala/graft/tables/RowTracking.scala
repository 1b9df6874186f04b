package graft.tables

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Delta row tracking (PROTOCOL.md "Row Tracking"): every physical row
  * gets a stable row id and the commit version it was last written in.
  * Two representations, exactly as the spec defines:
  *
  *   - FRESH: `baseRowId + position` from the add action, for files whose
  *     rows were written by the commit that added them; the id space is
  *     allocated from a `rowIdHighWaterMark` kept in the
  *     `delta.rowTracking` metadata domain (advanced atomically in the
  *     same commit as the adds).
  *   - MATERIALIZED: rewriting operations (UPDATE/DELETE/MERGE/OPTIMIZE)
  *     must PRESERVE ids, so rewritten files store each surviving row's
  *     original id in a hidden per-table column whose physical name lives
  *     in `delta.rowTracking.materializedRowIdColumnName` (same for the
  *     commit version). Reads take the materialized value when non-null,
  *     else the fresh one — so a file may mix copied rows (materialized)
  *     and newly created rows (null -> fresh from the add's baseRowId).
  *
  * Rows whose content a rewrite MODIFIES (UPDATE/MERGE-update) keep their
  * id but take a fresh commit version (materialized version null -> the
  * add's defaultRowCommitVersion); untouched copies (OPTIMIZE, the
  * unmodified remainder of a copy-on-write file) materialize both.
  */
private[tables] object RowTracking {
  val Domain = "delta.rowTracking"
  val EnableProp = "delta.enableRowTracking"
  val MaterializedRowIdProp = "delta.rowTracking.materializedRowIdColumnName"
  val MaterializedRowCommitVersionProp = "delta.rowTracking.materializedRowCommitVersionColumnName"

  /** In-flight column names rewrite plans carry between the row-id read
    * and the data write (also the public read-surface names).
    */
  val RowIdCol = "_row_id"
  val RowCommitVersionCol = "_row_commit_version"

  private implicit val formats: Formats = DefaultFormats

  def enabled(props: Map[String, String]): Boolean =
    props.get(EnableProp).exists(_.equalsIgnoreCase("true"))

  /** The physical names of the materialized columns, when the table has
    * ever rewritten row-tracked files.
    */
  def materializedNames(props: Map[String, String]): Option[(String, String)] =
    for (rid <- props.get(MaterializedRowIdProp);
         rcv <- props.get(MaterializedRowCommitVersionProp)) yield (rid, rcv)

  /** Materialized column names, minted on first use (the minting commit
    * publishes them in its metaData action, Delta-Spark's convention of
    * `_row-id-col-<uuid>` names that cannot collide with user columns).
    */
  def ensureMaterializedNames(props: Map[String, String])
      : (Map[String, String], String, String) =
    materializedNames(props) match {
      case Some((rid, rcv)) => (props, rid, rcv)
      case None =>
        val rid = s"_row-id-col-${java.util.UUID.randomUUID()}"
        val rcv = s"_row-commit-version-col-${java.util.UUID.randomUUID()}"
        (props + (MaterializedRowIdProp -> rid) + (MaterializedRowCommitVersionProp -> rcv),
          rid, rcv)
    }

  /** Current high watermark from the domain configuration (-1 = none). */
  def highWaterMark(domains: collection.Map[String, (String, Boolean)]): Long =
    domains.get(Domain).filterNot(_._2).flatMap { case (conf, _) =>
      try (JsonMethods.parse(conf) \ "rowIdHighWaterMark").extractOpt[Long]
      catch { case scala.util.control.NonFatal(_) => None }
    }.getOrElse(-1L)

  /** Assign baseRowId/defaultRowCommitVersion to the FRESH adds of
    * `added` starting above `hwm`, landing at `commitVersion`. Adds that
    * already carry a baseRowId (RESTORE re-adds, DV re-adds of existing
    * files) keep it unchanged — restamping them would break the lineage
    * the ids exist for. Returns the stamped adds and the domainMetadata
    * action line advancing the watermark (None when nothing fresh).
    */
  def stamp(added: Seq[TxLog.AddFile], hwm: Long,
      commitVersion: Long): (Seq[TxLog.AddFile], Option[String]) = {
    val fresh = added.filter(_.baseRowId.isEmpty)
    if (fresh.isEmpty) return (added, None)
    require(fresh.forall(_.rows >= 0),
      "row tracking requires per-file row counts on every staged add")
    var next = hwm + 1
    val stamped = added.map { a =>
      if (a.baseRowId.isDefined) a
      else {
        val s = a.copy(baseRowId = Some(next), defaultRowCommitVersion = Some(commitVersion))
        next += a.rows
        s
      }
    }
    val action = JsonMethods.compact(JsonMethods.render(JObject(
      "domainMetadata" -> JObject(
        "domain" -> JString(Domain),
        "configuration" -> JString(s"""{"rowIdHighWaterMark":${next - 1}}"""),
        "removed" -> JBool(false)))))
    (stamped, Some(action))
  }
}
