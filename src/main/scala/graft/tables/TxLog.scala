package graft.tables

import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.{TaskContext, TaskKilledException}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.FileFormatWriter
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization

/** Transactional table log — an ACID-ish commit log over parquet data
  * files, giving this engine the Delta-style capabilities the reference
  * delegates to delta-rs (append/overwrite, replaceWhere, selective
  * partition overwrite, schema evolution, MERGE, time travel) without any
  * Delta dependency. Design follows the published Delta protocol shape
  * (Armbrust et al., VLDB 2020): an ordered log of JSON commits, each
  * holding add/remove file actions plus table metadata; readers replay the
  * log into a snapshot; writers write each data file once, in place under
  * a unique name, then atomically publish a new numbered commit naming
  * them — the commit is the only publish.
  *
  * Scale posture:
  *   - All data I/O goes through the Hadoop FileSystem API, so the same
  *     code runs on HDFS/S3A, not just local disk.
  *   - Commits are O(#files touched) metadata operations; data files are
  *     written, and their footer stats read, by executors in one Spark
  *     job (distributed).
  *   - Atomicity relies on rename-without-overwrite of the commit file —
  *     the same primitive Delta OSS uses on HDFS. Concurrent committers
  *     detect collision by rename failure and retry against the new
  *     snapshot (optimistic concurrency).
  *   - Per-file partition values enable partition pruning without listing
  *     directories; per-file row counts feed commit stats.
  */
object TxLog {
  val LogDirName = "_graft_log"
  // staging dirs of writers that published by rename: reserved, so VACUUM
  // never deletes their leftovers as data
  private[tables] val StagingPrefix = "_staging"

  /** Serializes the outputTimestampType set/write/restore window in
    * stageData (the conf is session-global and has no per-writer option).
    */
  private object TsConfLock

  final case class AddFile(
      path: String,
      partitionValues: Map[String, String],
      rows: Long,
      sizeBytes: Long,
      minValues: Option[Map[String, String]] = None,
      maxValues: Option[Map[String, String]] = None,
      // per-column null counts (top-level primitives): prunes IS NULL
      // (nullCount=0) and IS NOT NULL (nullCount=rows) predicates
      nullCounts: Option[Map[String, Long]] = None,
      // merge-on-read deletes (foreign Delta only): `rows` and min/max then
      // describe the PHYSICAL file, bounds for every live row — conservative
      // for pruning; live count = rows - deletionVector.cardinality
      deletionVector: Option[DeletionVectors.Descriptor] = None,
      // row tracking (foreign Delta only): fresh row id of row i in this
      // file = baseRowId + i; the commit version stamped on unmodified rows
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None)

  /** Delta-protocol SetTransaction (PROTOCOL.md "Transaction
    * Identifiers"): an application-defined (appId, version) watermark
    * committed atomically WITH the data it covers, so an idempotent writer
    * (e.g. a streaming sink re-running a batch after a crash) can detect
    * that a batch already landed and skip it — exactly-once on top of
    * at-least-once retries.
    */
  final case class SetTxn(appId: String, version: Long, lastUpdated: Option[Long] = None)

  final case class Commit(
      version: Long,
      timestampMs: Long,
      operation: String,
      schemaJson: String,
      partitionColumns: Seq[String],
      added: Seq[AddFile],
      removed: Seq[String],
      properties: Map[String, String],
      txn: Option[SetTxn] = None)

  final case class Snapshot(
      version: Long,
      schema: StructType,
      partitionColumns: Seq[String],
      files: Seq[AddFile],
      properties: Map[String, String],
      // latest SetTransaction version per appId (log order wins)
      transactions: Map[String, Long] = Map.empty) {
    def isEmpty: Boolean = files.isEmpty
    // memoized per INSTANCE (lazy val, not part of case equality): the
    // stats serve layer checks the fingerprint once per stamped
    // aggregate, and a 6-aggregate SELECT over a 100k-file table must
    // not hash 600k paths at plan time. Every serve of one SELECT reads
    // the snapshot instance its read was planned on, so this computes
    // once per instance.
    @transient private[graft] lazy val statsFingerprint: Long =
      ColumnStats.computeFingerprint(this)
  }

  private implicit val formats: Formats = DefaultFormats

  def fs(spark: SparkSession, location: String): FileSystem =
    new Path(location).getFileSystem(hadoopConf(spark))

  private def hadoopConf(spark: SparkSession): Configuration =
    spark.sessionState.newHadoopConf()

  def logDir(location: String): Path = new Path(location, LogDirName)

  /** Resolve an AddFile path against the table root. Relative paths (the
    * normal case — files written under the table directory) join the
    * location; absolute paths and full URIs pass through unchanged. The
    * Delta protocol explicitly allows absolute `add.path`s — that is how
    * SHALLOW CLONE references the source table's files without copying
    * them (TxTable.cloneTo).
    */
  def resolve(location: String, p: String): String =
    if (isAbsolute(p)) p else s"$location/$p"

  def isAbsolute(p: String): Boolean = p.contains("://") || p.startsWith("/")

  def exists(spark: SparkSession, location: String): Boolean = {
    val f = fs(spark, location)
    f.exists(logDir(location)) && listCommitFiles(f, location).nonEmpty
  }

  private def commitPath(location: String, version: Long): Path =
    new Path(logDir(location), f"$version%020d.json")

  private def checkpointPath(location: String, version: Long): Path =
    new Path(logDir(location), f"$version%020d.checkpoint.json")

  /** Every N commits a checkpoint persists the full snapshot state so
    * readers replay O(N) tail commits instead of the whole history
    * (Delta-style log checkpointing).
    */
  val CheckpointInterval = 10

  final case class Checkpoint(
      version: Long,
      schemaJson: String,
      partitionColumns: Seq[String],
      files: Seq[AddFile],
      properties: Map[String, String],
      // Option so checkpoints written before txn support still parse
      transactions: Option[Map[String, Long]] = None)

  private def listCheckpoints(f: FileSystem, location: String): Seq[(Long, Path)] = {
    val dir = logDir(location)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".checkpoint.json"))
      .flatMap { s =>
        s.getPath.getName.stripSuffix(".checkpoint.json").toLongOption.map(_ -> s.getPath)
      }
      .sortBy(_._1)
  }

  def writeCheckpoint(spark: SparkSession, location: String, snap: Snapshot): Unit = {
    val f = fs(spark, location)
    val target = checkpointPath(location, snap.version)
    if (f.exists(target)) return
    val tmp = new Path(logDir(location), s".tmpckpt-${UUID.randomUUID()}.json")
    val out = f.create(tmp, false)
    try out.write(Serialization.write(Checkpoint(snap.version, snap.schema.json,
      snap.partitionColumns, snap.files, snap.properties,
      Some(snap.transactions).filter(_.nonEmpty))).getBytes("UTF-8"))
    finally out.close()
    if (!f.rename(tmp, target)) f.delete(tmp, false)
  }

  private def listCommitFiles(f: FileSystem, location: String): Seq[(Long, Path)] = {
    val dir = logDir(location)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".json") && !s.getPath.getName.startsWith("."))
      .flatMap { s =>
        val base = s.getPath.getName.stripSuffix(".json")
        base.toLongOption.map(_ -> s.getPath)
      }
      .sortBy(_._1)
  }

  def readCommit(f: FileSystem, p: Path): Commit = {
    val in = f.open(p)
    try {
      val txt = scala.io.Source.fromInputStream(in, "UTF-8").mkString
      JsonMethods.parse(txt).extract[Commit]
    } finally in.close()
  }

  /** Replay the log into a snapshot (optionally as of a past version).
    * Starts from the newest checkpoint at or below the target version and
    * replays only the tail commits.
    */
  def snapshot(spark: SparkSession, location: String, asOfVersion: Option[Long] = None): Snapshot = {
    val f = fs(spark, location)
    val commits0 = listCommitFiles(f, location)
    val commits1 = asOfVersion match {
      case Some(v) =>
        if (!commits0.exists(_._1 == v))
          throw graft.catalog.DoesNotExistError(s"version $v does not exist at $location")
        commits0.filter(_._1 <= v)
      case None => commits0
    }
    if (commits1.isEmpty)
      throw graft.catalog.DoesNotExistError(s"no transaction log at $location")
    val maxV = commits1.last._1
    val ckpt = listCheckpoints(f, location).filter(_._1 <= maxV).lastOption.map { case (_, p) =>
      val in = f.open(p)
      try {
        val txt = scala.io.Source.fromInputStream(in, "UTF-8").mkString
        JsonMethods.parse(txt).extract[Checkpoint]
      } finally in.close()
    }
    var active = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    val txns = scala.collection.mutable.Map.empty[String, Long]
    var schemaJson: String = null
    var partCols: Seq[String] = Seq.empty
    var props: Map[String, String] = Map.empty
    var lastV: Long = -1L
    ckpt.foreach { c =>
      c.files.foreach(a => active(a.path) = a)
      c.transactions.foreach(txns ++= _)
      schemaJson = c.schemaJson; partCols = c.partitionColumns; props = c.properties
      lastV = c.version
    }
    val tail = commits1.filter(_._1 > lastV)
    tail.foreach { case (_, p) =>
      val c = readCommit(f, p)
      c.removed.foreach(active.remove)
      c.added.foreach(a => active(a.path) = a)
      c.txn.foreach(t => txns(t.appId) = t.version)
      schemaJson = c.schemaJson; partCols = c.partitionColumns; props = c.properties
      lastV = c.version
    }
    Snapshot(
      version = lastV,
      schema = DataType.fromJson(schemaJson).asInstanceOf[StructType],
      partitionColumns = partCols,
      files = active.values.toSeq,
      properties = props,
      transactions = txns.toMap)
  }

  def latestVersion(spark: SparkSession, location: String): Option[Long] = {
    val f = fs(spark, location)
    listCommitFiles(f, location).lastOption.map(_._1)
  }

  /** Commits with fromExclusive < version <= toInclusive (or all newer),
    * oldest first — the raw material for incremental change feeds.
    */
  def commitsBetween(spark: SparkSession, location: String, fromExclusive: Long,
      toInclusive: Option[Long] = None): Seq[Commit] = {
    val f = fs(spark, location)
    listCommitFiles(f, location)
      .filter { case (v, _) => v > fromExclusive && toInclusive.forall(v <= _) }
      .map { case (_, p) => readCommit(f, p) }
  }

  /** Latest version whose commit timestamp is <= `tsMs` (Delta's
    * timestamp-travel rule: you see the table as of that wall-clock
    * moment). Errors if the timestamp predates the first commit.
    */
  def versionAtTimestamp(spark: SparkSession, location: String, tsMs: Long): Long = {
    val f = fs(spark, location)
    val commits = listCommitFiles(f, location)
    if (commits.isEmpty)
      throw graft.catalog.DoesNotExistError(s"no transaction log at $location")
    // commit timestamps are monotone in practice (single log, sequential
    // versions); scan newest-first and take the first at-or-before tsMs
    val at = commits.reverseIterator.find { case (_, p) => readCommit(f, p).timestampMs <= tsMs }
    at match {
      case Some((v, _)) => v
      case None =>
        val first = readCommit(f, commits.head._2)
        throw graft.catalog.DoesNotExistError(
          s"timestamp $tsMs predates the first commit (${first.timestampMs}) at $location")
    }
  }

  /** Atomically publish a commit at `version`. Returns false if that
    * version already exists (concurrent writer won the race).
    */
  /** Atomically publish `tmp` as `target` iff `target` does not already
    * exist; `tmp` is consumed either way. HDFS-like FileSystems get this
    * from rename (atomic, refuses to replace a file). The LOCAL
    * FileSystem inherits POSIX rename(2), which silently REPLACES an
    * existing target — two optimistic committers racing for the same
    * version would then both "succeed" and one commit would vanish — so
    * on file: schemes publish via link(2), which is atomic no-replace.
    */
  def atomicPublishNoOverwrite(f: FileSystem, tmp: Path, target: Path): Boolean = {
    val isLocal = Option(f.getUri).flatMap(u => Option(u.getScheme)).contains("file")
    val ok =
      if (isLocal) {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(target.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          // hard links can be unavailable on file: mounts that aren't
          // plain POSIX (FUSE, some network filesystems) — fall back to
          // the exists+rename publish used for non-local schemes rather
          // than failing every commit
          case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
            !f.exists(target) && f.rename(tmp, target)
        }
      } else !f.exists(target) && f.rename(tmp, target)
    try f.delete(tmp, false) catch { case NonFatal(_) => () }
    ok
  }

  def tryCommit(spark: SparkSession, location: String, c: Commit): Boolean = {
    val f = fs(spark, location)
    val dir = logDir(location)
    if (!f.exists(dir)) f.mkdirs(dir)
    val target = commitPath(location, c.version)
    if (f.exists(target)) return false
    val tmp = new Path(dir, s".tmp-${UUID.randomUUID()}.json")
    val out = f.create(tmp, false)
    try out.write(Serialization.write(c).getBytes("UTF-8"))
    finally out.close()
    try atomicPublishNoOverwrite(f, tmp, target)
    catch {
      case NonFatal(_) => try f.delete(tmp, false) catch { case NonFatal(_) => () }; false
    }
  }

  /** Table property naming the columns to build parquet-NATIVE bloom
    * filters for on write (format-spec split-block blooms, readable by
    * any parquet engine): point lookups on high-cardinality non-sort
    * columns skip row groups that min/max stats can't — at 100 TB an
    * `id = ?` probe against an unsorted column reads bloom bytes, not
    * data pages.
    */
  val BloomFilterColumnsProp = "graft.bloomFilter.columns"
  val BloomFilterNdvProp = "graft.bloomFilter.expectedDistinctItems"

  /** Parquet writer options derived from table properties. `rename` maps
    * logical to physical column names (column-mapped Delta tables store
    * physical names in the footers).
    */
  def writerOptions(properties: Map[String, String],
      rename: String => String = identity): Map[String, String] = {
    val cols = properties.get(BloomFilterColumnsProp).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val ndv = properties.get(BloomFilterNdvProp)
    cols.flatMap { c =>
      val phys = rename(c)
      Seq(s"parquet.bloom.filter.enabled#$phys" -> "true") ++
        ndv.map(n => s"parquet.bloom.filter.expected.ndv#$phys" -> n)
    }.toMap
  }

  /** Write `df` as parquet files straight into the table directory (hive
    * partition dirs for `partitionColumns`) and return their AddFile
    * actions; the caller's log commit is their only publish. One Spark
    * job (`FileFormatWriter` under `InPlaceCommit`): each task writes
    * every file once, at its final path under a unique name, and reads
    * its just-closed footer for rows, min/max and null counts before it
    * commits. A failed write deletes the files it wrote. Until the commit
    * lands, the files are unreferenced and only VACUUM's retention window
    * keeps them.
    */
  def stageData(
      spark: SparkSession,
      location: String,
      df: org.apache.spark.sql.DataFrame,
      partitionColumns: Seq[String],
      writerOptions: Map[String, String] = Map.empty): Seq[AddFile] = {
    val session = spark.asInstanceOf[ClassicSparkSession]
    val qe = df.queryExecution
    val output = qe.analyzed.output
    val resolver = session.sessionState.conf.resolver
    val partAttrs = partitionColumns.map(c => output.find(a => resolver(a.name, c)).getOrElse(
      throw new IllegalArgumentException(
        s"partition column $c is not among ${output.map(_.name).mkString(", ")}")))
    val committer = new InPlaceCommit(location)
    def write(): Unit = SQLExecution.withNewExecutionId(qe, Some("graft write")) {
      FileFormatWriter.write(session, qe.executedPlan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(location, Map.empty, output),
        session.sessionState.newHadoopConfWithOptions(writerOptions), partAttrs,
        bucketSpec = None, statsTrackers = Seq.empty, options = writerOptions)
    }
    // Spark's default INT96 timestamps carry no parquet footer statistics,
    // which silences data skipping on timestamp columns; write the modern
    // (and stats-bearing) TIMESTAMP_MICROS physical type instead. The
    // setting is SQLConf-only (no per-writer option exists), so the
    // set/write/restore window is serialized under a JVM-wide lock —
    // concurrent library writers on the same session can no longer
    // interleave set/restore and clobber each other's value. Schemas with
    // no TimestampType skip the conf dance (and the lock) entirely.
    def hasTimestamp(dt: DataType): Boolean = dt match {
      case org.apache.spark.sql.types.TimestampType => true
      case s: StructType => s.fields.exists(x => hasTimestamp(x.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hasTimestamp(a.elementType)
      case m: org.apache.spark.sql.types.MapType =>
        hasTimestamp(m.keyType) || hasTimestamp(m.valueType)
      case _ => false
    }
    if (!df.schema.fields.exists(x => hasTimestamp(x.dataType))) write()
    else TsConfLock.synchronized {
      val tsTypeKey = "spark.sql.parquet.outputTimestampType"
      val prevTsType = spark.conf.getOption(tsTypeKey)
      spark.conf.set(tsTypeKey, "TIMESTAMP_MICROS")
      try write()
      finally prevTsType match {
        case Some(v) => spark.conf.set(tsTypeKey, v)
        case None => spark.conf.unset(tsTypeKey)
      }
    }
    committer.added
  }

  /** stageData's commit protocol. Tasks write each file at its final path
    * and commit it with its footer stats; the driver gathers the
    * AddFiles. A failed task deletes its own files, a failed job those of
    * its committed tasks. A task whose commit races its job's abort can
    * still leave a file that no snapshot names; VACUUM removes it once
    * the retention window has passed.
    */
  private final class InPlaceCommit(location: String)
      extends FileCommitProtocol with Serializable {
    // driver: files of the tasks committed so far, and the job's result
    @transient private var committed = Vector.empty[String]
    @transient var added: Seq[AddFile] = Seq.empty
    // task: location-relative paths this attempt has opened
    @transient private var written: Vector[String] = _

    override def setupJob(job: JobContext): Unit = ()

    override def setupTask(task: TaskAttemptContext): Unit = written = Vector.empty

    override def newTaskTempFile(task: TaskAttemptContext, dir: Option[String],
        spec: FileNameSpec): String = {
      val split = task.getTaskAttemptID.getTaskID.getId
      val name = f"${spec.prefix}part-$split%05d-${UUID.randomUUID()}${spec.suffix}"
      val rel = dir.fold(name)(d => s"$d/$name")
      written :+= rel
      new Path(location, rel).toString
    }

    override def newTaskTempFileAbsPath(task: TaskAttemptContext, absoluteDir: String,
        spec: FileNameSpec): String =
      throw new UnsupportedOperationException("graft writes no custom partition locations")

    override def commitTask(task: TaskAttemptContext): TaskCommitMessage = {
      val conf = task.getConfiguration
      val adds = written.map { rel =>
        val p = new Path(location, rel)
        val (rows, mins, maxs, nulls) = FileStats.fromParquetFooter(conf, p)
        AddFile(rel, partitionValuesOf(rel), rows, p.getFileSystem(conf).getFileStatus(p).getLen,
          Some(mins).filter(_.nonEmpty), Some(maxs).filter(_.nonEmpty),
          Some(nulls).filter(_.nonEmpty))
      }
      // a task its failed job has killed goes through abortTask instead
      if (Option(TaskContext.get()).exists(_.isInterrupted()))
        throw new TaskKilledException("write job aborted")
      new TaskCommitMessage(adds)
    }

    override def abortTask(task: TaskAttemptContext): Unit =
      deleteAll(task.getConfiguration, written)

    override def onTaskCommit(msg: TaskCommitMessage): Unit =
      committed ++= msg.obj.asInstanceOf[Seq[AddFile]].map(_.path)

    override def commitJob(job: JobContext, msgs: Seq[TaskCommitMessage]): Unit =
      added = msgs.flatMap(_.obj.asInstanceOf[Seq[AddFile]])

    override def abortJob(job: JobContext): Unit = deleteAll(job.getConfiguration, committed)

    private def deleteAll(conf: Configuration, rels: Seq[String]): Unit = rels.foreach { rel =>
      val p = new Path(location, rel)
      try p.getFileSystem(conf).delete(p, false) catch { case NonFatal(_) => () }
    }
  }

  /** Every file under `path` (`path` itself when it is a file), depth
    * first in listing order, listed lazily. Walks `listStatus`, not
    * `listFiles`: each `LocatedFileStatus` copies its file's permission,
    * which the local file system reads by forking a process per file.
    */
  private[graft] def leafFiles(f: FileSystem, path: Path): Iterator[FileStatus] =
    f.listStatus(path).iterator.flatMap { st =>
      if (st.isDirectory) leafFiles(f, st.getPath) else Iterator.single(st)
    }

  /** Parse hive-style partition values from a relative file path. */
  def partitionValuesOf(relPath: String): Map[String, String] = {
    relPath.split("/").dropRight(1).flatMap { seg =>
      seg.split("=", 2) match {
        case Array(k, v) => Some(k -> unescapePathName(v))
        case _ => None
      }
    }.toMap
  }

  /** Hive-style %xx escaping for partition path segments — the inverse
    * of unescapePathName, matching Spark's ExternalCatalogUtils charset
    * (control chars, path separators, glob metacharacters, '%').
    */
  private[graft] def escapePathName(s: String): String = {
    def needs(c: Char): Boolean =
      c < ' ' || c == 0x7f.toChar || c == '"' || c == '#' || c == '%' ||
        c == '\'' || c == '*' || c == '/' || c == ':' || c == '=' ||
        c == '?' || c == '\\' || c == '{' || c == '[' || c == ']' || c == '^'
    val sb = new StringBuilder
    s.foreach { c =>
      if (needs(c)) sb.append(f"%%${c.toInt}%02X") else sb.append(c)
    }
    sb.toString
  }

  private[graft] def unescapePathName(s: String): String = {
    // hive-style %xx unescaping, as Spark's ExternalCatalogUtils does
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
