package graft.tables

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{AlreadyExistsError, SchemaEvolution, UnsupportedOperationError}

/** COPY INTO — idempotent bulk file ingestion (Delta's `COPY INTO`
  * statement shape; the reference's write surface has no ingest-dedup
  * story, so re-running a load script double-loads — this is the
  * standard lakehouse answer).
  *
  * Semantics: load every data file under a source directory into the
  * target table EXACTLY ONCE across any number of invocations — the
  * nightly "pick up whatever landed in the drop zone" job can simply
  * re-run after any failure. Files are keyed by PATH: a re-dropped
  * file whose content changed (size/mtime differ) is still skipped —
  * the drop-zone contract is immutable files under fresh names. The
  * recorded size/mtime make the skip auditable in the ingest log, and
  * `force = true` (SQL `FORCE = TRUE`) escapes the dedup entirely:
  * every listed file loads again as a new batch (possible duplicates,
  * exactly Delta's documented FORCE semantics).
  *
  * Exactly-once protocol (write-ahead intent + transactional confirm):
  *  1. `newFiles` = source listing ∖ files already recorded in the
  *     INGEST LOG — itself a native TxTable under
  *     `<target>/_graft_ingest/log`, one row per loaded source file
  *     carrying (path, size, mtime, batch, format, pattern).
  *  2. Record the INTENT: append `newFiles` rows to the ingest log
  *     stamped with batch number B, committed idempotently
  *     (SetTransaction appId `graft.copyInto.intent`, version B) — a
  *     concurrent runner racing to the same B loses the commit and
  *     retries against the refreshed log.
  *  3. Load the data: read exactly the intent's files and append to the
  *     target with SetTransaction (`graft.copyInto`, B) — Delta's own
  *     idempotent-writer mechanism, atomic with the data.
  * A crash between 2 and 3 leaves a recorded intent whose batch never
  * confirmed on the target: the next run detects
  * `target.transactions(appId) < maxBatch(ingest log)` and REPLAYS step
  * 3 for exactly the recorded file list — with the FILEFORMAT the
  * intent RECORDED, not whatever format the recovering invocation was
  * asked for (a csv intent recovered by a parquet run must replay as
  * csv). Every step is an atomic commit on one of the two logs, so any
  * interleaving of crashes and re-runs loads each file once.
  *
  * Scale shape: the source listing is driver-held file METADATA (the
  * same order as the table's own snapshot); dedup against the ingest
  * log is an executor-side anti-join (driver sees only the NEW paths);
  * the data read is a normal distributed scan of just the new files.
  * Nothing driver-side scales with rows.
  */
object CopyInto {
  val TxnAppId = "graft.copyInto"
  private val IntentAppId = "graft.copyInto.intent"

  /** Reserved ingest-state root under the table location (vacuum must
    * never touch it). */
  val IngestRoot = "_graft_ingest"

  final case class Result(filesLoaded: Long, rowsLoaded: Long, batch: Long)

  private def logLocation(target: TxTable): String =
    s"${target.location}/$IngestRoot/log"

  private[tables] def supportedFormat(f: String): Boolean =
    Seq("parquet", "csv", "json", "avro").contains(f.toLowerCase(java.util.Locale.ROOT))

  /** Test hook: invoked after the intent commit wins and before the
    * confirming target append — throwing here simulates the crash
    * window the replay protocol exists for. */
  private[graft] var onIntentRecorded: () => Unit = () => ()

  /** (absolute URI, size, mtime) of every visible data file of `format`
    * under `sourceDir` (hidden `_`/`.` segments skipped, hadoop
    * convention), optionally filtered by a glob over the relative path
    * (hadoop GlobPattern — the same syntax FileSystem.globStatus uses,
    * matched against the full relative path string).
    */
  private def listSource(spark: SparkSession, sourceDir: String, format: String,
      pattern: Option[String]): Seq[(String, Long, Long)] = {
    val p = new Path(sourceDir)
    val fs = TxLog.fs(spark, sourceDir)
    if (!fs.exists(p))
      throw UnsupportedOperationError(s"COPY INTO: source '$sourceDir' does not exist")
    val ext = "." + format.toLowerCase(java.util.Locale.ROOT)
    val matcher = pattern.map(g => new org.apache.hadoop.fs.GlobPattern(g))
    val baseUri = p.toUri.getPath
    TxLog.leafFiles(fs, p).flatMap { st =>
      val rel = st.getPath.toUri.getPath.stripPrefix(baseUri).stripPrefix("/")
      val hidden = rel.split('/').exists(s => s.startsWith("_") || s.startsWith("."))
      val wanted = matcher.forall(_.matches(rel))
      if (!hidden && wanted && rel.toLowerCase(java.util.Locale.ROOT).endsWith(ext))
        Some((st.getPath.toUri.toString, st.getLen, st.getModificationTime))
      else None
    }.toSeq
  }

  /** Split a SELECT projection list on TOP-LEVEL commas (parens and
    * quoted strings/backticks tracked) — `cast(a as int), concat(b, c)`
    * is two expressions, not three. */
  private[tables] def splitProjection(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var quote: Char = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        cur.append(c)
        // a backslash escapes the NEXT char inside string literals
        // (Spark SQL rules: 'it\'s' stays one literal) — without this a
        // \' would close the quote early and a later top-level comma
        // would mis-split, with the bad split RECORDED in the intent
        if (c == '\\' && quote != '`' && i + 1 < s.length) {
          cur.append(s.charAt(i + 1)); i += 1
        } else if (c == quote) quote = 0
      } else c match {
        case '\'' | '"' | '`' => quote = c; cur.append(c)
        case '(' => depth += 1; cur.append(c)
        case ')' => depth -= 1; cur.append(c)
        case ',' if depth == 0 => out += cur.toString.trim; cur.clear()
        case _ => cur.append(c)
      }
      i += 1
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString.trim
    out.result().filter(_.nonEmpty)
  }

  /** Read `paths` as `format` aligned to the target's columns — parquet
    * resolves by name; csv/json read with the target schema declared
    * (csv headers are required and matched by name); avro through the
    * engine's own container codec (io/AvroIO).
    *
    * With `transform` (the `FROM (SELECT exprs FROM 'dir')` surface),
    * the raw files read with their OWN shape (csv as header-named
    * strings, json/parquet/avro inferred) and the projection runs
    * before alignment — casts/renames/computed columns happen at load,
    * Databricks-style — then every target column casts to its declared
    * type. With `mergeSchema`, transformed columns beyond the target
    * schema EVOLVE it (MERGE policy) instead of being dropped.
    */
  private def readFiles(spark: SparkSession, target: TxTable, format: String,
      paths: Seq[String], transform: Option[String] = None,
      mergeSchema: Boolean = false): DataFrame = {
    val schema = target.snapshot.schema
    // mergeSchema must SEE source columns beyond the target's: csv/json/
    // avro read with the target schema DECLARED would silently drop
    // them (no column ever surfaces to evolve the target), so read raw
    // — exactly like the transform path — and cast the known target
    // columns below. Extra csv columns evolve as strings (the header
    // carries no types), matching the transform surface.
    val declared =
      if (transform.isDefined || mergeSchema) None else Some(schema)
    val base = format.toLowerCase(java.util.Locale.ROOT) match {
      case "parquet" => spark.read.parquet(paths: _*)
      case "csv" =>
        val r = declared.map(spark.read.schema).getOrElse(spark.read)
        r.option("header", "true").csv(paths: _*)
      case "json" =>
        declared.map(spark.read.schema).getOrElse(spark.read).json(paths: _*)
      case "avro" => graft.io.AvroIO.read(spark, paths.mkString(","), declared)
      case other => throw UnsupportedOperationError(
        s"COPY INTO: FILEFORMAT $other not supported (parquet, csv, json, avro)")
    }
    val projected = transform match {
      case None => base
      case Some(t) =>
        val exprs = splitProjection(t)
        if (exprs.isEmpty)
          throw UnsupportedOperationError("COPY INTO: empty SELECT projection")
        base.selectExpr(exprs: _*)
    }
    val missing = schema.fieldNames.filterNot(projected.columns.contains)
    if (missing.nonEmpty)
      throw UnsupportedOperationError(
        s"COPY INTO: source lacks target columns ${missing.mkString(", ")}")
    if (mergeSchema) {
      // keep extra columns (schema evolution at append); still cast the
      // KNOWN target columns to their declared types
      val known = schema.fields.map(f => f.name -> f.dataType).toMap
      projected.select(projected.columns.toIndexedSeq.map(c =>
        known.get(c).map(dt => col(s"`$c`").cast(dt).as(c))
          .getOrElse(col(s"`$c`"))): _*)
    } else if (transform.isDefined)
      projected.select(schema.fields.toIndexedSeq.map(f =>
        col(s"`${f.name}`").cast(f.dataType).as(f.name)): _*)
    else
      projected.select(schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Replay the confirming append for every recorded-but-unconfirmed
    * intent batch in (confirmed, maxBatch], each with the FILEFORMAT
    * its intent row recorded. An ingest log written before formats were
    * recorded (no `format` column, or null values) cannot be replayed
    * safely — a parquet intent replayed as csv with a declared schema
    * appends garbage — so that is a hard error, not a guess.
    */
  private def replayUnconfirmed(spark: SparkSession, target: TxTable,
      recorded: DataFrame, confirmed: Long, maxBatch: Long): Unit = {
    import spark.implicits._
    def opt(name: String): org.apache.spark.sql.Column =
      if (recorded.columns.contains(name)) col(name)
      else lit(null).cast("string")
    ((confirmed + 1) to maxBatch).foreach { b =>
      val inBatch = recorded.where(col("batch") === lit(b))
      val batchRows = inBatch
        .select(col("source_path"), opt("format"), opt("transform"),
          opt("merge_schema").cast("string"))
        .as[(String, String, String, String)].collect()
      if (batchRows.nonEmpty) {
        val metas = batchRows.map(r => (r._2, r._3, r._4)).distinct
        if (metas.length != 1 || metas(0)._1 == null)
          throw UnsupportedOperationError(
            s"COPY INTO: cannot replay intent batch $b — the ingest log predates " +
              "format recording (or holds mixed formats); confirm the batch " +
              "manually or re-create the ingest log")
        val (fmt, transform, ms) = metas(0)
        target.appendIdempotent(
          readFiles(spark, target, fmt, batchRows.map(_._1).toSeq,
            Option(transform), ms == "true"),
          TxnAppId, b,
          evolution = if (ms == "true") SchemaEvolution.MERGE else SchemaEvolution.STRICT)
      }
    }
  }

  /** @param transform the projection list of a `FROM (SELECT exprs
    *   FROM 'dir')` source — applied to the raw files before
    *   target-schema alignment, and RECORDED in the intent so crash
    *   replay transforms identically
    * @param mergeSchema evolve the target with transformed columns
    *   beyond its schema (Databricks `COPY_OPTIONS ('mergeSchema')`)
    */
  def run(target: TxTable, sourceDir: String, format: String = "parquet",
      pattern: Option[String] = None, force: Boolean = false,
      transform: Option[String] = None, mergeSchema: Boolean = false): Result = {
    if (!supportedFormat(format))
      throw UnsupportedOperationError(
        s"COPY INTO: FILEFORMAT $format not supported (parquet, csv, json, avro)")
    val fmt = format.toLowerCase(java.util.Locale.ROOT)
    val spark = target.spark
    val listing = listSource(spark, sourceDir, fmt, pattern)
    val ingest = new TxTable(spark, logLocation(target))

    var attempts = 0
    while (true) {
      attempts += 1
      if (attempts > 5)
        throw UnsupportedOperationError(
          "COPY INTO: lost the intent-batch race 5 times; concurrent runners?")
      val recorded: Option[DataFrame] =
        if (NativeCommitLog.latestVersion(spark, ingest.location).isDefined)
          Some(ingest.toDF)
        else None
      val maxBatch: Long = recorded
        .map(_.agg(max(col("batch"))).head() match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0)
        }).getOrElse(0L)

      // crash recovery: an intent whose batch never confirmed on the
      // target replays EXACTLY its recorded files with its recorded
      // format (idempotent: the SetTransaction guard makes a double
      // replay a no-op). A target watermark AHEAD of the ingest log
      // means the log was deleted/recreated out from under the table —
      // recording new intents against it would silently skip their
      // appends, so refuse loudly instead.
      val confirmed = target.snapshot.transactions.getOrElse(TxnAppId, 0L)
      if (confirmed > maxBatch)
        throw UnsupportedOperationError(
          s"COPY INTO: target already confirmed batch $confirmed but the ingest " +
            s"log only records up to $maxBatch — was ${ingest.location} deleted? " +
            "Restore it (or drop the graft.copyInto transaction watermark) first")
      if (confirmed < maxBatch)
        replayUnconfirmed(spark, target, recorded.get, confirmed, maxBatch)

      // dedup: executor-side anti-join — the driver sees only NEW paths.
      // FORCE skips the dedup: every listed file loads again (possible
      // duplicates — Delta's documented FORCE contract).
      import spark.implicits._
      val newFiles: Seq[(String, Long, Long)] = recorded match {
        case _ if force => listing
        case None => listing
        case Some(df) =>
          val listDf = listing.toDF("source_path", "size_bytes", "mtime")
          listDf.join(df.select("source_path"), Seq("source_path"), "left_anti")
            .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      }
      if (newFiles.isEmpty) return Result(0L, 0L, maxBatch)

      val batch = maxBatch + 1
      val records = newFiles.toDF("source_path", "size_bytes", "mtime")
        .withColumn("batch", lit(batch))
        .withColumn("format", lit(fmt))
        .withColumn("pattern", lit(pattern.orNull).cast("string"))
        .withColumn("transform", lit(transform.orNull).cast("string"))
        .withColumn("merge_schema", lit(mergeSchema))
      // write-ahead intent, idempotent per batch number: a concurrent
      // runner racing to the same batch loses and retries (two
      // concurrent FIRST runs race on the log's create commit instead)
      val won =
        if (recorded.isEmpty)
          try { ingest.create(records); true }
          catch { case _: AlreadyExistsError => false }
        else ingest.appendIdempotent(records, IntentAppId, batch,
          evolution = SchemaEvolution.MERGE)
      if (won) {
        onIntentRecorded()
        val df = readFiles(spark, target, fmt, newFiles.map(_._1),
          transform, mergeSchema)
        // None here means a concurrent runner found our intent
        // unconfirmed and replayed it for us — either way batch is now
        // confirmed, and the rows belong to this call's listing
        val added = target.appendIdempotentDetailed(df, TxnAppId, batch,
          evolution = if (mergeSchema) SchemaEvolution.MERGE else SchemaEvolution.STRICT)
        // rows of the ingested batch itself straight from the commit's
        // per-file stats (never a table-level count diff, which a
        // concurrent writer would skew; never a second read of the
        // batch) — a stat-less file or the replayed-by-peer path pays
        // the one fallback count
        val rows = added match {
          case Some(files) if files.forall(_.rows >= 0L) => files.map(_.rows).sum
          case _ => df.count()
        }
        return Result(newFiles.size.toLong, rows, batch)
      }
      // lost the race: refreshed state next iteration
    }
    throw new IllegalStateException("unreachable")
  }
}
