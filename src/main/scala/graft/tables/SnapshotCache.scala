package graft.tables

import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cross-QUERY snapshot cache: `location → (log-dir signature, parsed
  * latest snapshot)`.
  *
  * Snapshot resolution replays the commit log — list, parse and fold
  * every commit (or checkpoint + tail), then build the file list. That
  * cost is O(files) PER QUERY: a 100k-file table pays it again for every
  * dashboard SELECT even when nothing changed. Delta amortizes it with a
  * shared version-checked DeltaLog cache; this is the same idea over the
  * pluggable [[CommitLog]].
  *
  * Validation is a single cheap probe per resolve: one `listStatus` of
  * the table's LOG directory, hashed over every entry's (name, mtime,
  * length). Any commit — ours or a concurrent external writer's — adds a
  * commit file, so the signature moves and the entry reloads. The
  * mtime/length fold also catches the drop-and-recreate shape where the
  * SAME version number reappears at the same location with different
  * content (same filename, new bytes). Checkpoint writes and log cleanup
  * shift the signature too — a spurious reload, never a stale serve.
  *
  * Consistency layering: this cache only ever serves the LATEST snapshot
  * (or a pinned version that IS the cached latest — pinned history is
  * immutable, so equality by version suffices once the signature proves
  * the location wasn't recreated). Within one query, metadata-only
  * serves read the snapshot instance the read was planned on (the
  * GraftSqlExtensions read-snapshot tag), so all aggregates of one
  * SELECT answer from one snapshot with no second probe; this layer
  * amortizes ACROSS queries, where "latest at probe time" is exactly the
  * contract a new query gets anyway. Returning the SAME Snapshot
  * instance across queries also amortizes its lazily memoized
  * statsFingerprint.
  *
  * Entries hold plain immutable data (Snapshot) plus the dispatched
  * [[CommitLog]] singleton — never a SparkSession — so the cache is safe
  * across session restarts; callers rebuild a TxTable handle on their
  * own session. Bounded LRU (64 locations) keeps driver memory O(1) in
  * the number of tables ever touched.
  */
object SnapshotCache {

  private final case class Entry(log: CommitLog, sig: Long, snapshot: TxLog.Snapshot) {
    /** Per-SESSION memo of the constructed read DataFrame over this
      * snapshot, so a query over an unchanged table skips building and
      * re-analyzing the read plan. A DataFrame over a pinned, immutable
      * file set is deterministic, so it is built once per (location,
      * version, session) and reused — the same reuse Delta's own
      * DeltaLog.createDataFrame provides. Keyed by session (plans embed
      * session state); tiny bound, and the whole memo dies with the
      * entry on any commit.
      */
    val planMemo = new java.util.concurrent.ConcurrentHashMap[org.apache.spark.sql.SparkSession,
      DataFrame](2)
  }

  private val MaxLocations = 64

  private val cache = new java.util.LinkedHashMap[String, Entry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Entry]): Boolean =
      size() > MaxLocations
  }

  /** Genuine log replays (cache misses) — test-visible so a spec can pin
    * "a second query over an unchanged table replays nothing".
    */
  val replayCount = new AtomicLong

  /** Signature probes — test-visible; every cached serve still pays
    * exactly one probe (that is the freshness contract, not a bug).
    */
  val probeCount = new AtomicLong

  /** The log directory whose listing defines the table's logical state:
    * `_graft_log` / `_delta_log` / `metadata`. All three logs put it
    * first in reservedPrefixes; data, bloom and ingest dirs are excluded
    * so in-flight data writes can't thrash the signature.
    */
  private def logDirName(log: CommitLog): String = log.reservedPrefixes.head

  /** One listStatus of the log dir folded to a 64-bit signature. None
    * when the dir is missing/unlistable (→ never cached).
    */
  private def signature(spark: SparkSession, location: String, log: CommitLog): Option[Long] = {
    probeCount.incrementAndGet()
    try {
      val f = TxLog.fs(spark, location)
      val dir = new Path(location, logDirName(log))
      val it = f.listStatus(dir)
      var h = 1125899906842597L // deterministic FNV-ish fold, order-insensitive
      var i = 0
      while (i < it.length) {
        val s = it(i)
        var e = s.getPath.getName.hashCode.toLong * -7046029254386353131L
        e ^= s.getModificationTime * 0x9E3779B97F4A7C15L
        e ^= s.getLen * 0xC2B2AE3D27D4EB4FL
        h += java.lang.Long.rotateLeft(e, (e & 63).toInt) // commutative: listing order is FS-dependent
        i += 1
      }
      Some(h ^ it.length.toLong)
    } catch { case NonFatal(_) => None }
  }

  private def get(location: String): Option[Entry] =
    cache.synchronized(Option(cache.get(location)))

  private def put(location: String, e: Entry): Unit =
    cache.synchronized { cache.put(location, e); () }

  /** Drop one location (or everything) — tests and explicit maintenance
    * paths; normal invalidation is the per-resolve signature probe.
    */
  def invalidate(location: String): Unit =
    cache.synchronized { cache.remove(location); () }
  def invalidateAll(): Unit = cache.synchronized(cache.clear())

  private def loadLatest(spark: SparkSession, location: String): (TxTable, TxLog.Snapshot) = {
    replayCount.incrementAndGet()
    val t = TxTable.forAnyLocation(spark, location)
    // probe BEFORE the replay: if a commit lands mid-replay the stored
    // signature predates it, so the next resolve re-probes and reloads —
    // stale-entry-under-race impossible by construction
    val sig = signature(spark, location, t.log)
    val snap = t.snapshot
    sig.foreach(s => put(location, Entry(t.log, s, snap)))
    (t, snap)
  }

  /** The latest snapshot of `location`, served from cache when the log
    * directory's signature is unchanged. Always probes; never serves
    * without a matching probe.
    */
  def latest(spark: SparkSession, location: String): (TxTable, TxLog.Snapshot) =
    get(location) match {
      case Some(e) if signature(spark, location, e.log).contains(e.sig) =>
        (new TxTable(spark, location, e.log), e.snapshot)
      case _ => loadLatest(spark, location)
    }

  /** The latest snapshot AND its memoized read DataFrame. On a cache
    * hit the per-(version, session) plan memo makes this O(1): plan
    * construction and analysis are paid once per commit, not once per
    * query.
    */
  def latestDF(spark: SparkSession, location: String)
      : (TxTable, TxLog.Snapshot, DataFrame) =
    get(location) match {
      case Some(e) if signature(spark, location, e.log).contains(e.sig) =>
        val t = new TxTable(spark, location, e.log)
        (t, e.snapshot, memoizedDF(e, t))
      case _ =>
        val (t, snap) = loadLatest(spark, location)
        val df = get(location) match {
          // loadLatest stored an entry for exactly this snapshot: seed
          // its memo so the NEXT query reuses this build
          case Some(e2) if e2.snapshot eq snap => memoizedDF(e2, t)
          case _ => t.toDF(snap)
        }
        (t, snap, df)
    }

  /** Snapshot pinned at `version` and its read DataFrame: served from
    * cache (snapshot and plan memo) only when the signature matches AND
    * the cached latest IS that version (committed history is immutable,
    * and the signature rules out a recreate); any other pinned version
    * replays directly — uncached, time travel into history is not the
    * hot path.
    */
  def dfAt(spark: SparkSession, location: String, version: Long)
      : (TxLog.Snapshot, DataFrame) =
    get(location) match {
      case Some(e) if e.snapshot.version == version &&
          signature(spark, location, e.log).contains(e.sig) =>
        (e.snapshot, memoizedDF(e, new TxTable(spark, location, e.log)))
      case Some(e) if e.snapshot.version > version =>
        // pinned history: immutable once the location provably wasn't
        // recreated — but proving that needs the sig match above, so
        // an older pin replays (and leaves the latest entry alone)
        history(TxTable.forAnyLocation(spark, location), version)
      case _ =>
        // miss or future version: resolve latest through the cache
        // first — if v IS the new latest this both serves and primes
        val (t, snap, df) = latestDF(spark, location)
        if (snap.version == version) (snap, df) else history(t, version)
    }

  private def memoizedDF(e: Entry, t: TxTable): DataFrame = {
    // tiny session bound: entries outlive test sessions; don't pin more
    // than a handful of session-tied plans per table version
    if (e.planMemo.size > 4) e.planMemo.clear()
    e.planMemo.computeIfAbsent(t.spark, _ => t.toDF(e.snapshot))
  }

  private def history(t: TxTable, version: Long): (TxLog.Snapshot, DataFrame) = {
    replayCount.incrementAndGet()
    val snap = t.snapshotAt(version)
    (snap, t.toDF(snap))
  }
}
