package graft.tables

import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization

import graft.catalog.UnsupportedOperationError

/** Interop with the REAL Delta Lake protocol (`_delta_log`), so tables
  * written by delta-rs / Delta-Spark / DuckDB are readable here without any
  * Delta dependency. This is the reference's primary table format — every
  * Delta test in its suite goes through delta-rs
  * (reference uchelper/dataframe.py:198-199, 305-354).
  *
  * Implements the published protocol (github.com/delta-io/delta PROTOCOL.md;
  * Armbrust et al., VLDB 2020), read side:
  *   - newline-delimited JSON commits `NNN…N.json` with
  *     add/remove/metaData/protocol actions,
  *   - `_last_checkpoint` + single- or multi-part parquet checkpoints,
  *   - per-file stats (numRecords/minValues/maxValues) mapped into the
  *     same AddFile shape the native TxLog uses, so manifest-level data
  *     skipping works identically on foreign tables,
  *   - protocol gating: minReaderVersion ≤ 2, or 3 with only benign
  *     reader features (no column mapping, no deletion vectors).
  *
  * Scale posture: snapshot state is file metadata only — the same driver-
  * side O(#files) cost Delta OSS pays; data reads are distributed parquet
  * scans planned from the manifest (no directory listing).
  */
object DeltaLog {
  val LogDirName = "_delta_log"

  private implicit val formats: Formats = DefaultFormats

  /** Reader features this implementation actually honors when a table
    * declares protocol v3.
    * Column mapping is honored in BOTH modes: physical column names from
    * the schema metadata drive the parquet read and the stats /
    * partition-value keys (see columnMappingOf / mappedRead); id mode
    * additionally matches parquet columns by field id
    * (spark.sql.parquet.fieldId.read.enabled). Deletion vectors ARE
    * honored: add actions carry their descriptor and every read applies
    * the DV row filter (see DeletionVectors).
    */
  private val SupportedReaderFeatures =
    Set("timestampNtz", "vacuumProtocolCheck", "columnMapping", "deletionVectors", "v2Checkpoint",
      // every scan reads its files with the SNAPSHOT schema, so pre-widening
      // files upcast inside the parquet reader (TypeWideningSpec pins it);
      // "-preview" is the pre-GA name Delta-Spark 3.x tables carry
      "typeWidening", "typeWidening-preview",
      // Spark 4 carries VariantType natively: schemaString round-trips it
      // and the scan reads the physical two-binary struct (VariantTypeSpec)
      "variantType", "variantType-preview")

  private[tables] val PhysicalNameKey = "delta.columnMapping.physicalName"
  private[tables] val ColumnIdKey = "delta.columnMapping.id"
  /** Spark's parquet reader/writer field-id metadata key. */
  private[tables] val ParquetFieldIdKey = "parquet.field.id"

  /** logical -> physical top-level column names, when the schema carries
    * column-mapping metadata (empty map = unmapped table).
    */
  private[tables] def columnMappingOf(schema: StructType): Map[String, String] =
    schema.fields.flatMap { f =>
      if (f.metadata.contains(PhysicalNameKey)) Some(f.name -> f.metadata.getString(PhysicalNameKey))
      else None
    }.toMap

  private[tables] def physicalNameOf(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalNameKey)) f.metadata.getString(PhysicalNameKey) else f.name

  private[tables] def stripMappingMeta(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      org.apache.spark.sql.types.StructField(f.name, stripMappingMeta(f.dataType), f.nullable)))
    case a: org.apache.spark.sql.types.ArrayType => a.copy(elementType = stripMappingMeta(a.elementType))
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(keyType = stripMappingMeta(m.keyType), valueType = stripMappingMeta(m.valueType))
    case other => other
  }

  private def maxColumnIdIn(dt: DataType): Long = dt match {
    case st: StructType => (0L +: st.fields.toSeq.map { f =>
      math.max(if (f.metadata.contains(ColumnIdKey)) f.metadata.getLong(ColumnIdKey) else 0L,
        maxColumnIdIn(f.dataType))
    }).max
    case a: org.apache.spark.sql.types.ArrayType => maxColumnIdIn(a.elementType)
    case m: org.apache.spark.sql.types.MapType =>
      math.max(maxColumnIdIn(m.keyType), maxColumnIdIn(m.valueType))
    case _ => 0L
  }

  /** Schema evolution on a column-mapped table: every NEW column (and each
    * of its nested struct fields) gets a freshly minted column id and a
    * UUID physical name, and `delta.columnMapping.maxColumnId` advances —
    * the spec's requirements for adding columns under mapping. Columns
    * already present in `base` keep their identity (same id + physical
    * name), so existing data files stay addressable. No-op for unmapped
    * tables and when nothing was added.
    */
  private[tables] def evolveMapping(base: StructType, evolved: StructType,
      props: Map[String, String]): (StructType, Map[String, String]) = {
    if (columnMappingOf(base).isEmpty) return (evolved, props)
    var maxId = math.max(
      props.get("delta.columnMapping.maxColumnId").flatMap(_.toLongOption).getOrElse(0L),
      maxColumnIdIn(base))
    var minted = false
    def mintMeta(): org.apache.spark.sql.types.Metadata = {
      maxId += 1; minted = true
      new org.apache.spark.sql.types.MetadataBuilder()
        .putString(PhysicalNameKey, s"col-${UUID.randomUUID()}")
        .putLong(ColumnIdKey, maxId).build()
    }
    def mintType(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map(f =>
        org.apache.spark.sql.types.StructField(f.name, mintType(f.dataType), f.nullable, mintMeta())))
      case a: org.apache.spark.sql.types.ArrayType => a.copy(elementType = mintType(a.elementType))
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(keyType = mintType(m.keyType), valueType = mintType(m.valueType))
      case other => other
    }
    val byName = base.fields.map(f => f.name -> f).toMap
    val fields = evolved.fields.map { f =>
      if (f.metadata.contains(PhysicalNameKey)) f
      else byName.get(f.name) match {
        // same column, same shape: keep its mapping identity
        case Some(b) if stripMappingMeta(b.dataType) == stripMappingMeta(f.dataType) => b
        case _ =>
          org.apache.spark.sql.types.StructField(f.name, mintType(f.dataType), f.nullable, mintMeta())
      }
    }
    val outProps =
      if (minted) props + ("delta.columnMapping.maxColumnId" -> maxId.toString) else props
    (StructType(fields), outProps)
  }

  /** Upgrade a table to `name`-mode column mapping IN PLACE (the
    * precondition for metadata-only RENAME/DROP COLUMN): every field
    * lacking mapping metadata keeps its CURRENT name as the physical
    * name and gets a sequential column id — existing files stay
    * readable verbatim because their parquet columns already carry
    * those names. Nested struct fields are mapped the same way (their
    * physical path equals their current path). Idempotent: a table
    * already in name/id mode returns unchanged.
    */
  private[tables] def withMappingEnabled(schema: StructType,
      props: Map[String, String]): (StructType, Map[String, String]) = {
    if (props.get("delta.columnMapping.mode").exists(m => m == "name" || m == "id"))
      return (schema, props)
    var maxId = maxColumnIdIn(schema)
    def meta(f: org.apache.spark.sql.types.StructField): org.apache.spark.sql.types.Metadata =
      if (f.metadata.contains(PhysicalNameKey)) f.metadata
      else {
        maxId += 1
        new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
          .putString(PhysicalNameKey, f.name)
          .putLong(ColumnIdKey, maxId).build()
      }
    def mapType(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map(f =>
        org.apache.spark.sql.types.StructField(f.name, mapType(f.dataType), f.nullable, meta(f))))
      case a: org.apache.spark.sql.types.ArrayType => a.copy(elementType = mapType(a.elementType))
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(keyType = mapType(m.keyType), valueType = mapType(m.valueType))
      case other => other
    }
    val mapped = StructType(schema.fields.map(f =>
      org.apache.spark.sql.types.StructField(f.name, mapType(f.dataType), f.nullable, meta(f))))
    (mapped, props +
      ("delta.columnMapping.mode" -> "name") +
      ("delta.columnMapping.maxColumnId" -> maxId.toString))
  }

  /** Recursively rename a type's struct fields to their physical names
    * (nested structs carry their own mapping metadata). With
    * `withFieldIds`, each renamed field also carries the spec's column id
    * as `parquet.field.id` metadata, which Spark's parquet layer maps to
    * the parquet field_id attribute — how id-mode readers/writers match
    * columns independent of names.
    */
  private[tables] def physicalize(dt: DataType, withFieldIds: Boolean = false): DataType = dt match {
    case s: StructType => StructType(s.fields.map { f =>
      val nm = physicalNameOf(f)
      val meta =
        if (withFieldIds && f.metadata.contains(ColumnIdKey))
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong(ParquetFieldIdKey, f.metadata.getLong(ColumnIdKey)).build()
        else org.apache.spark.sql.types.Metadata.empty
      org.apache.spark.sql.types.StructField(nm, physicalize(f.dataType, withFieldIds), f.nullable, meta)
    })
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = physicalize(a.elementType, withFieldIds))
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(keyType = physicalize(m.keyType, withFieldIds),
        valueType = physicalize(m.valueType, withFieldIds))
    case other => other
  }

  private[tables] def fs(spark: SparkSession, location: String): FileSystem =
    new Path(location).getFileSystem(spark.sessionState.newHadoopConf())

  def logDir(location: String): Path = new Path(location, LogDirName)

  /** The liquid-clustering metadata domain (Delta CLUSTER BY). */
  val ClusteringDomain = "delta.clustering"

  /** A directory is a Delta table if `_delta_log` holds commit files or a
    * checkpoint (log-cleaned tables may have no JSON commits left).
    */
  def isDeltaTable(spark: SparkSession, location: String): Boolean = {
    val f = fs(spark, location)
    f.exists(logDir(location)) &&
      (listCommitFiles(f, location).nonEmpty || readLastCheckpoint(f, location).isDefined)
  }

  /** Latest version, from commit filenames and `_last_checkpoint` only. */
  def latestVersion(spark: SparkSession, location: String): Option[Long] = {
    val f = fs(spark, location)
    val c = listCommitFiles(f, location).lastOption.map(_._1)
    val k = readLastCheckpoint(f, location).map(_.version)
    (c ++ k).maxOption
  }

  private[tables] def listCommitFiles(f: FileSystem, location: String): Seq[(Long, Path)] = {
    val dir = logDir(location)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".json") &&
        !s.getPath.getName.startsWith(".") && !s.getPath.getName.contains("checkpoint"))
      .flatMap(s => s.getPath.getName.stripSuffix(".json").toLongOption.map(_ -> s.getPath))
      .sortBy(_._1)
  }

  private final case class LastCheckpoint(version: Long, size: Option[Long], parts: Option[Int])

  private def readLastCheckpoint(f: FileSystem, location: String): Option[LastCheckpoint] = {
    val p = new Path(logDir(location), "_last_checkpoint")
    if (!f.exists(p)) return None
    val in = f.open(p)
    try {
      val txt = scala.io.Source.fromInputStream(in, "UTF-8").mkString
      Some(JsonMethods.parse(txt).extract[LastCheckpoint])
    } catch { case NonFatal(_) => None } finally in.close()
  }

  /** Checkpoint files for `c.version`, by listing — the only robust
    * discovery across the three published layouts (PROTOCOL.md
    * "Checkpoints"):
    *   classic     `v.checkpoint.parquet`
    *   multi-part  `v.checkpoint.iiiiiiiiii.nnnnnnnnnn.parquet`
    *   v2          `v.checkpoint.<unique>.parquet` or `.json`
    *                (UUID-named; actions may live in _sidecars/ files)
    */
  private def checkpointFiles(f: FileSystem, location: String, c: LastCheckpoint): Seq[String] = {
    val dir = logDir(location)
    val prefix = f"${c.version}%020d.checkpoint."
    val names = f.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith(prefix))
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") || n.endsWith(".json"))
    def segs(n: String) = n.split('.').length
    val classic = prefix + "parquet"
    val multi = names.filter(n => segs(n) == 5 && n.endsWith(".parquet") &&
      n.stripPrefix(prefix).split('.').take(2).forall(_.forall(_.isDigit)))
    val chosen =
      if (names.contains(classic)) Seq(classic)
      else if (multi.nonEmpty) multi.sorted
      else names.sorted.take(1) // v2: one UUID-named manifest
    if (chosen.isEmpty)
      throw graft.catalog.DoesNotExistError(
        s"_last_checkpoint names version ${c.version} but no checkpoint file exists at $dir")
    chosen.map(n => new Path(dir, n).toString)
  }

  /** Mutable replay state shared by the checkpoint and JSON paths. Tracks
    * the full protocol action (reader AND writer sides) plus the
    * metaData id, so checkpoints this library writes preserve the table's
    * identity and protocol instead of inventing them.
    */
  private[tables] final class Replay {
    val active = scala.collection.mutable.LinkedHashMap.empty[String, TxLog.AddFile]
    var schemaJson: String = _
    var metaId: String = _
    var partCols: Seq[String] = Seq.empty
    var props: Map[String, String] = Map.empty
    var minReader: Int = 1
    var minWriter: Int = 1
    var readerFeatures: Set[String] = Set.empty
    var writerFeatures: Set[String] = Set.empty

    def metaData(id: String, schemaString: String, partitionColumns: Seq[String],
        configuration: Map[String, String]): Unit = {
      metaId = id; schemaJson = schemaString; partCols = partitionColumns; props = configuration
    }
    def protocol(minReaderVersion: Int, minWriterVersion: Int,
        rFeatures: Seq[String], wFeatures: Seq[String]): Unit = {
      minReader = minReaderVersion; minWriter = minWriterVersion
      readerFeatures = rFeatures.toSet; writerFeatures = wFeatures.toSet
    }
    def add(a: TxLog.AddFile): Unit = active(a.path) = a
    def remove(path: String): Unit = active.remove(path)
    // latest SetTransaction watermark per appId, log order winning
    // (PROTOCOL.md "Transaction Identifiers")
    val txns = scala.collection.mutable.Map.empty[String, Long]
    def txn(appId: String, version: Long): Unit = txns(appId) = version
    // latest domainMetadata per domain, log order winning (PROTOCOL.md
    // "Domain Metadata"); removed=true entries are retained as tombstones
    // so checkpoints keep signalling the removal to other writers
    val domains = scala.collection.mutable.LinkedHashMap.empty[String, (String, Boolean)]
    def domain(name: String, configuration: String, removed: Boolean): Unit =
      domains(name) = (configuration, removed)
  }

  /** Delta add.path values are percent-encoded relative URIs (PROTOCOL.md
    * "Add File and Remove File"); decode to a filesystem-relative path.
    */
  private[tables] def decodePath(p: String): String =
    try {
      val u = new java.net.URI(p)
      Option(u.getPath).filter(_.nonEmpty).getOrElse(p)
    } catch { case _: java.net.URISyntaxException => p }

  /** Flatten a Delta stats JSON object's top-level primitive values into
    * the TxLog string-map convention (nested struct stats are skipped —
    * only top-level columns prune, matching FileStats.fromParquetFooter).
    */
  private def statsMap(v: JValue): Map[String, String] = v match {
    case JObject(fields) => fields.collect {
      case (k, JString(s)) => k -> s
      case (k, JInt(i)) => k -> i.toString
      case (k, JLong(l)) => k -> l.toString
      case (k, JDouble(d)) => k -> d.toString
      case (k, JDecimal(d)) => k -> d.toString
      case (k, JBool(b)) => k -> b.toString
    }.toMap
    case _ => Map.empty
  }

  private[tables] def addFileOf(path: String, partitionValues: Map[String, String],
      size: Long, stats: Option[String],
      dv: Option[DeletionVectors.Descriptor] = None,
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None): TxLog.AddFile = {
    val parsedStats = stats.filter(_.nonEmpty).flatMap { s =>
      try Some(JsonMethods.parse(s)) catch { case NonFatal(_) => None }
    }
    val rows = parsedStats.flatMap(s => (s \ "numRecords") match {
      case JInt(i) => Some(i.toLong)
      case JLong(l) => Some(l)
      case _ => None
    }).getOrElse(-1L)
    val mins = parsedStats.map(s => statsMap(s \ "minValues")).filter(_.nonEmpty)
    val maxs = parsedStats.map(s => statsMap(s \ "maxValues")).filter(_.nonEmpty)
    val nulls = parsedStats.map(s => (s \ "nullCount") match {
      case JObject(fields) => fields.collect {
        case (k, JInt(i)) => k -> i.toLong
        case (k, JLong(l)) => k -> l
      }.toMap
      case _ => Map.empty[String, Long]
    }).filter(_.nonEmpty)
    TxLog.AddFile(decodePath(path), partitionValues, rows, size, mins, maxs, nulls,
      dv, baseRowId, defaultRowCommitVersion)
  }

  /** Parse a deletionVector descriptor (JSON action form). */
  private[tables] def dvOf(v: JValue): Option[DeletionVectors.Descriptor] = v match {
    case JNothing | JNull => None
    case d => Some(DeletionVectors.Descriptor(
      (d \ "storageType").extract[String],
      (d \ "pathOrInlineDv").extract[String],
      (d \ "offset").extractOpt[Int],
      (d \ "sizeInBytes").extract[Int],
      (d \ "cardinality").extract[Long]))
  }

  private[tables] def applyJsonAction(state: Replay, line: JValue): Unit = {
    line \ "metaData" match {
      case JNothing => ()
      case m =>
        (m \ "format" \ "provider") match {
          case JString(p) if p.toLowerCase != "parquet" =>
            throw UnsupportedOperationError(s"Delta format.provider '$p' is not supported (parquet only)")
          case _ => ()
        }
        state.metaData(
          (m \ "id").extractOrElse[String](""),
          (m \ "schemaString").extract[String],
          (m \ "partitionColumns").extract[Seq[String]],
          (m \ "configuration").extractOrElse[Map[String, String]](Map.empty))
    }
    line \ "protocol" match {
      case JNothing => ()
      case p => state.protocol(
        (p \ "minReaderVersion").extract[Int],
        (p \ "minWriterVersion").extractOrElse[Int](2),
        (p \ "readerFeatures").extractOrElse[Seq[String]](Seq.empty),
        (p \ "writerFeatures").extractOrElse[Seq[String]](Seq.empty))
    }
    line \ "add" match {
      case JNothing => ()
      case a => state.add(addFileOf(
        (a \ "path").extract[String],
        (a \ "partitionValues").extractOrElse[Map[String, String]](Map.empty)
          .filter { case (_, v) => v != null },
        (a \ "size").extractOrElse[Long](0L),
        (a \ "stats").extractOpt[String],
        dvOf(a \ "deletionVector"),
        (a \ "baseRowId").extractOpt[Long],
        (a \ "defaultRowCommitVersion").extractOpt[Long]))
    }
    line \ "remove" match {
      case JNothing => ()
      case r => state.remove(decodePath((r \ "path").extract[String]))
    }
    line \ "txn" match {
      case JNothing => ()
      case t => state.txn((t \ "appId").extract[String], (t \ "version").extract[Long])
    }
    line \ "domainMetadata" match {
      case JNothing => ()
      case d => state.domain((d \ "domain").extract[String],
        (d \ "configuration").extractOrElse[String](""),
        (d \ "removed").extractOrElse[Boolean](false))
    }
  }

  private def replayJsonCommit(f: FileSystem, p: Path, state: Replay): Unit = {
    val in = f.open(p)
    try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines().foreach { ln =>
        val t = ln.trim
        if (t.nonEmpty) applyJsonAction(state, JsonMethods.parse(t))
      }
    } finally in.close()
  }

  /** Load a checkpoint into the replay state — classic, multi-part, or V2
    * (PROTOCOL.md "V2 Checkpoints"): a V2 manifest (parquet or json)
    * carries protocol/metaData plus either inline file actions or
    * `sidecar` references to parquet files under `_delta_log/_sidecars/`
    * that hold the add state; sidecars are replayed with the same parser.
    */
  private def replayCheckpoint(spark: SparkSession, location: String,
      paths: Seq[String], state: Replay): Unit = {
    val (jsonPaths, parquetPaths) = paths.partition(_.endsWith(".json"))
    val sidecars = scala.collection.mutable.ArrayBuffer.empty[String]
    jsonPaths.foreach { p =>
      val f = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
      val in = f.open(new Path(p))
      try {
        scala.io.Source.fromInputStream(in, "UTF-8").getLines().foreach { ln =>
          val t = ln.trim
          if (t.nonEmpty) {
            val v = JsonMethods.parse(t)
            applyJsonAction(state, v)
            v \ "sidecar" \ "path" match {
              case JString(s) => sidecars += s
              case _ => ()
            }
          }
        }
      } finally in.close()
    }
    if (parquetPaths.nonEmpty) sidecars ++= replayCheckpointParquet(spark, parquetPaths, state)
    if (sidecars.nonEmpty) {
      val dir = new Path(logDir(location), "_sidecars")
      val resolved = sidecars.toSeq.map { s =>
        if (s.contains("://") || s.startsWith("/")) s else new Path(dir, decodePath(s)).toString
      }
      // sidecar files hold only file actions; same column parser applies
      val more = replayCheckpointParquet(spark, resolved, state)
      if (more.nonEmpty)
        throw UnsupportedOperationError("nested checkpoint sidecars are not supported")
    }
  }

  /** Parquet checkpoint/sidecar reader: one action per row in
    * add/remove/metaData/protocol struct columns (removes are expired
    * tombstones, not pending deletes); returns referenced sidecar paths.
    */
  private def replayCheckpointParquet(spark: SparkSession, paths: Seq[String],
      state: Replay): Seq[String] = {
    val df = spark.read.parquet(paths: _*)
    val cols = df.schema.fieldNames.toSet
    def has(c: String) = cols.contains(c)
    import org.apache.spark.sql.Row
    if (has("protocol")) {
      val pFields = df.select(col("protocol.*")).schema.fieldNames.toSet
      def pCol(n: String) = if (pFields.contains(n)) col(s"protocol.$n") else lit(null).as(n)
      df.select(col("protocol.minReaderVersion"), pCol("minWriterVersion"),
          pCol("readerFeatures"), pCol("writerFeatures"))
        .filter(col("minReaderVersion").isNotNull)
        .collect().foreach { r =>
          val minW = if (r.isNullAt(1)) 2 else r.getInt(1)
          val rFeats = if (r.isNullAt(2)) Seq.empty[String] else r.getSeq[String](2).toSeq
          val wFeats = if (r.isNullAt(3)) Seq.empty[String] else r.getSeq[String](3).toSeq
          state.protocol(r.getInt(0), minW, rFeats, wFeats)
        }
    }
    if (has("metaData")) {
      val mFields = df.select(col("metaData.*")).schema.fieldNames.toSet
      val idCol = if (mFields.contains("id")) col("metaData.id") else lit(null).cast("string").as("id")
      df.select(col("metaData.schemaString"), col("metaData.partitionColumns"),
        col("metaData.configuration"), col("metaData.format.provider"), idCol)
        .filter(col("schemaString").isNotNull)
        .collect().foreach { r =>
          val provider = Option(r.getString(3)).getOrElse("parquet")
          if (provider.toLowerCase != "parquet")
            throw UnsupportedOperationError(s"Delta format.provider '$provider' is not supported")
          state.metaData(Option(r.getString(4)).getOrElse(""), r.getString(0),
            Option(r.getSeq[String](1)).getOrElse(Seq.empty),
            Option(r.getMap[String, String](2)).map(_.toMap).getOrElse(Map.empty))
        }
    }
    if (has("add")) {
      val addFields = df.select(col("add.*")).schema.fieldNames.toSet
      val dvCol =
        if (addFields.contains("deletionVector")) col("add.deletionVector.storageType") :: col("add.deletionVector.pathOrInlineDv") ::
          col("add.deletionVector.offset") :: col("add.deletionVector.sizeInBytes") :: col("add.deletionVector.cardinality") :: Nil
        else lit(null).cast("string") :: lit(null).cast("string") ::
          lit(null).cast("int") :: lit(null).cast("int") :: lit(null).cast("long") :: Nil
      def rtCol(n: String) =
        if (addFields.contains(n)) col(s"add.$n") else lit(null).cast("long").as(n)
      df.select(col("add.path") :: col("add.partitionValues") :: col("add.size") ::
        (if (addFields.contains("stats")) col("add.stats") else lit(null).cast("string").as("stats")) ::
        dvCol ::: rtCol("baseRowId") :: rtCol("defaultRowCommitVersion") :: Nil: _*)
        .filter(col("path").isNotNull)
        .collect().foreach { r =>
          val pv = Option(r.getMap[String, String](1)).map(_.toMap).getOrElse(Map.empty)
            .filter { case (_, v) => v != null }
          val dv = Option(r.getString(4)).map { st =>
            DeletionVectors.Descriptor(st, r.getString(5),
              if (r.isNullAt(6)) None else Some(r.getInt(6)), r.getInt(7), r.getLong(8))
          }
          state.add(addFileOf(r.getString(0), pv, r.getLong(2), Option(r.getString(3)), dv,
            if (r.isNullAt(9)) None else Some(r.getLong(9)),
            if (r.isNullAt(10)) None else Some(r.getLong(10))))
        }
    }
    if (has("txn"))
      df.select(col("txn.appId"), col("txn.version")).filter(col("appId").isNotNull)
        .collect().foreach(r => state.txn(r.getString(0), r.getLong(1)))
    if (has("domainMetadata"))
      df.select(col("domainMetadata.domain"), col("domainMetadata.configuration"),
          col("domainMetadata.removed")).filter(col("domain").isNotNull)
        .collect().foreach(r => state.domain(r.getString(0),
          Option(r.getString(1)).getOrElse(""), r.getBoolean(2)))
    if (has("sidecar"))
      df.select(col("sidecar.path")).filter(col("path").isNotNull)
        .collect().map(_.getString(0)).toSeq
    else Seq.empty
  }

  /** Replay the log into a Replay state at `asOfVersion` (or latest).
    * Tolerates log-cleaned tables: when all JSON commits at or below the
    * checkpoint were removed by retention cleanup (and none landed since),
    * the checkpoint alone reconstructs the table, as other Delta readers
    * do.
    */
  private[tables] def replayState(spark: SparkSession, location: String,
      asOfVersion: Option[Long]): (Replay, Long) = {
    val f = fs(spark, location)
    val commits = listCommitFiles(f, location)
    val lastCkpt = readLastCheckpoint(f, location)
    if (commits.isEmpty && lastCkpt.isEmpty)
      throw graft.catalog.DoesNotExistError(s"no _delta_log at $location")
    val latest = math.max(commits.lastOption.map(_._1).getOrElse(-1L),
      lastCkpt.map(_.version).getOrElse(-1L))
    val target = asOfVersion match {
      case Some(v) =>
        if (!commits.exists(_._1 == v) && !lastCkpt.exists(_.version == v))
          throw graft.catalog.DoesNotExistError(s"Delta version $v does not exist at $location")
        v
      case None => latest
    }
    val state = new Replay
    val ckpt = lastCkpt.filter(_.version <= target)
    ckpt.foreach(c => replayCheckpoint(spark, location, checkpointFiles(f, location, c), state))
    val from = ckpt.map(_.version).getOrElse(-1L)
    commits.filter { case (v, _) => v > from && v <= target }
      .foreach { case (_, p) => replayJsonCommit(f, p, state) }
    (state, target)
  }

  /** Replay a real Delta log into the native Snapshot shape (checkpoint +
    * JSON tail; full JSON replay for time travel before the checkpoint).
    */
  def snapshot(spark: SparkSession, location: String, asOfVersion: Option[Long] = None): TxLog.Snapshot = {
    val (state, target) = replayState(spark, location, asOfVersion)

    if (state.minReader > 3 ||
        (state.minReader == 3 && !(state.readerFeatures -- SupportedReaderFeatures).isEmpty))
      throw UnsupportedOperationError(
        s"Delta table at $location requires reader version ${state.minReader} " +
          s"with features ${state.readerFeatures.mkString(",")}; " +
          s"supported: version <= 2 or features within ${SupportedReaderFeatures.mkString(",")}")
    if (state.props.get("delta.columnMapping.mode").exists(m => m != "none" && m != "name" && m != "id"))
      throw UnsupportedOperationError(
        s"Delta column mapping mode '${state.props("delta.columnMapping.mode")}' is not supported")
    if (state.schemaJson == null)
      throw UnsupportedOperationError(s"Delta log at $location has no metaData action")

    val schema = DataType.fromJson(state.schemaJson).asInstanceOf[StructType]
    // name-mode column mapping: the log's stats and partitionValues are
    // keyed by PHYSICAL names (PROTOCOL.md "Column Mapping") — remap them
    // to logical names so pruning and partition handling work in the same
    // logical terms as unmapped tables. The schema keeps its mapping
    // metadata; rawRead uses it to read the physical columns.
    val files = state.active.values.toSeq.map(logicalKeys(columnMappingOf(schema).map(_.swap)))

    TxLog.Snapshot(
      version = target,
      schema = schema,
      partitionColumns = state.partCols,
      files = files,
      properties = state.props,
      transactions = state.txns.toMap)
  }

  /** `a` with its partition values and stats keyed by logical column
    * names (`physToLogical` from a column-mapped schema; identity when
    * empty).
    */
  private[tables] def logicalKeys(physToLogical: Map[String, String])(
      a: TxLog.AddFile): TxLog.AddFile =
    if (physToLogical.isEmpty) a
    else {
      def remap[V](m: Map[String, V]) = m.map { case (k, v) => physToLogical.getOrElse(k, k) -> v }
      a.copy(partitionValues = remap(a.partitionValues),
        minValues = a.minValues.map(remap), maxValues = a.maxValues.map(remap),
        nullCounts = a.nullCounts.map(remap))
    }

  /** Current (or time-traveled) contents of a real Delta table. */
  def toDF(spark: SparkSession, location: String, asOfVersion: Option[Long] = None): DataFrame =
    ForeignDeltaCommitLog.liveRows(spark, location, snapshot(spark, location, asOfVersion))

  /** Row-tracking read: the table plus `_row_id` and
    * `_row_commit_version` (PROTOCOL.md "Row Tracking"): the MATERIALIZED
    * value when the row came through a rewrite (stored in the table's
    * hidden materialized columns), else the FRESH one — baseRowId +
    * physical position / the add's defaultRowCommitVersion. Positions come
    * from the parquet scan's `_metadata.row_index`; the per-file base ids
    * broadcast-join on the scan's normalized FULL file path (the protocol
    * only guarantees full-relative-path uniqueness, not basename
    * uniqueness) — map-side, no shuffle of the data.
    */
  def toDFWithRowIds(spark: SparkSession, location: String): DataFrame = {
    val s = snapshot(spark, location)
    if (!RowTracking.enabled(s.properties))
      throw UnsupportedOperationError(s"row tracking is not enabled at $location")
    withRowIds(spark, location, s).drop(FileMetaCol, RowMetaCol)
  }

  /** The snapshot's rows + RowTracking.RowIdCol/RowCommitVersionCol
    * (materialized-over-fresh, see toDFWithRowIds) + the provenance
    * columns FileMetaCol/RowMetaCol (callers drop what they don't need).
    * DVs are applied — rewrites planned over this never see dead rows.
    */
  private[tables] def withRowIds(spark: SparkSession, location: String,
      s: TxLog.Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, when}
    import spark.implicits._
    val mat = RowTracking.materializedNames(s.properties)
    // read schema additionally exposes the materialized columns: files
    // that never materialized them (or predate them) read as null
    val schemaPlus = StructType(s.schema.fields.toSeq ++ mat.toSeq.flatMap { case (rid, rcv) =>
      Seq(org.apache.spark.sql.types.StructField(rid, org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(rcv, org.apache.spark.sql.types.LongType))
    })
    val df = ForeignDeltaCommitLog.liveRows(spark, location, s.copy(schema = schemaPlus),
      withMeta = true)
    val conf = spark.sessionState.newHadoopConf()
    val base = s.files.map { a =>
      (DeletionVectors.normalizedAbs(conf, location, a.path),
        a.baseRowId.getOrElse(
          throw UnsupportedOperationError(
            s"file ${a.path} has no baseRowId; the table's history predates row tracking")),
        a.defaultRowCommitVersion.getOrElse(-1L))
    }.toDF("__rt_abs", "__rt_base", "__rt_cv")
    import org.apache.spark.sql.GraftColumnBridge.{toCol, toExpr}
    val norm = toCol(NormalizedPath(toExpr(col(FileMetaCol))))
    val freshId = col("__rt_base") + col(RowMetaCol)
    val freshCv = when(col("__rt_cv") >= 0, col("__rt_cv"))
    val rid = mat.fold(freshId) { case (r, _) => coalesce(col(s"`$r`"), freshId) }
    val rcv = mat.fold(freshCv) { case (_, c) => coalesce(col(s"`$c`"), freshCv) }
    df.join(org.apache.spark.sql.functions.broadcast(base), norm === col("__rt_abs"))
      .withColumn(RowTracking.RowIdCol, rid)
      .withColumn(RowTracking.RowCommitVersionCol, rcv)
      .drop(Seq("__rt_abs", "__rt_base", "__rt_cv") ++
        mat.toSeq.flatMap { case (r, c) => Seq(r, c) }: _*)
  }

  /** Predicate scan: `toDF.filter(predicate)`; the read's LogFileIndex
    * prunes files on the log's partition values and per-file stats.
    */
  def scan(spark: SparkSession, location: String, predicate: String): DataFrame =
    toDF(spark, location).filter(org.apache.spark.sql.functions.expr(predicate))

  /** Files the pruner would read for a predicate (tests/inspection). */
  def filesAfterPruning(spark: SparkSession, location: String, predicate: String): Int =
    LogFileIndex.filesScanned(scan(spark, location, predicate))

  /** Files ADDED per commit in (fromExclusive, toInclusive], oldest first —
    * the raw material for change feeds over a real Delta log. Only the JSON
    * tail is visible (checkpoint-only history carries no per-commit adds).
    */
  private[tables] def addsBetween(spark: SparkSession, location: String,
      fromExclusive: Long, toInclusive: Option[Long] = None): Seq[(Long, Seq[TxLog.AddFile])] = {
    val f = fs(spark, location)
    listCommitFiles(f, location)
      .filter { case (v, _) => v > fromExclusive && toInclusive.forall(v <= _) }
      .map { case (v, p) =>
        // parsed directly (not via Replay) so the dataChange flag is
        // honored: OPTIMIZE/compaction adds rearrange bytes, not data, and
        // must not re-enter change feeds or streaming sources
        val adds = Seq.newBuilder[TxLog.AddFile]
        val in = f.open(p)
        try {
          scala.io.Source.fromInputStream(in, "UTF-8").getLines().foreach { ln =>
            val t = ln.trim
            if (t.nonEmpty) JsonMethods.parse(t) \ "add" match {
              case JNothing => ()
              case a if (a \ "dataChange").extractOrElse[Boolean](true) =>
                adds += addFileOf(
                  (a \ "path").extract[String],
                  (a \ "partitionValues").extractOrElse[Map[String, String]](Map.empty)
                    .filter { case (_, x) => x != null },
                  (a \ "size").extractOrElse[Long](0L),
                  (a \ "stats").extractOpt[String],
                  dvOf(a \ "deletionVector"))
              case _ => ()
            }
          }
        } finally in.close()
        v -> adds.result()
      }
  }

  /** Timestamp of a commit: its commitInfo.timestamp when present (what
    * delta-rs / Delta-Spark / this writer emit), else the log file's
    * modification time — Delta OSS's default history source.
    */
  private[tables] def commitTimestamp(f: FileSystem, p: Path): Long = {
    val in = f.open(p)
    def long(v: JValue): Option[Long] = v match {
      case JInt(i) => Some(i.toLong)
      case JLong(l) => Some(l)
      case _ => None
    }
    val fromInfo =
      try {
        scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .map(_.trim).filter(_.nonEmpty)
          .flatMap { t =>
            try {
              val ci = JsonMethods.parse(t) \ "commitInfo"
              // inCommitTimestamp (monotonic, the required source when the
              // table enables the ICT feature) wins over the wall clock
              long(ci \ "inCommitTimestamp").orElse(long(ci \ "timestamp"))
            } catch { case NonFatal(_) => None }
          }.nextOption()
      } finally in.close()
    fromInfo.getOrElse(f.getFileStatus(p).getModificationTime)
  }

  /** Per-commit history line: (version, timestampMs, operation, files
    * added, files removed) — DESCRIBE HISTORY's source. Operation comes
    * from commitInfo when present (optional in the protocol; foreign
    * writers may omit it — then "WRITE"); timestamps follow the same
    * ICT-first rule as time travel.
    */
  private[tables] def historyInfo(spark: SparkSession, location: String)
      : Seq[(Long, Long, String, Int, Int)] = {
    val f = fs(spark, location)
    listCommitFiles(f, location).map { case (v, p) =>
      var op: Option[String] = None
      var adds = 0
      var removes = 0
      val in = f.open(p)
      try {
        scala.io.Source.fromInputStream(in, "UTF-8").getLines().foreach { ln =>
          val t = ln.trim
          if (t.nonEmpty) try {
            val j = JsonMethods.parse(t)
            if ((j \ "add") != JNothing) adds += 1
            if ((j \ "remove") != JNothing) removes += 1
            if (op.isEmpty)
              op = (j \ "commitInfo" \ "operation").extractOpt[String]
          } catch { case NonFatal(_) => () }
        }
      } finally in.close()
      (v, commitTimestamp(f, p), op.getOrElse("WRITE"), adds, removes)
    }
  }

  /** Latest version whose commit timestamp is <= `tsMs` (Delta's
    * `timestampAsOf` rule). Only versions still present as JSON commits are
    * reachable — same limitation as Delta after log cleanup.
    */
  def versionAtTimestamp(spark: SparkSession, location: String, tsMs: Long): Long = {
    val f = fs(spark, location)
    val commits = listCommitFiles(f, location)
    if (commits.isEmpty)
      throw graft.catalog.DoesNotExistError(s"no _delta_log commits at $location")
    commits.reverseIterator.find { case (_, p) => commitTimestamp(f, p) <= tsMs } match {
      case Some((v, _)) => v
      case None =>
        throw graft.catalog.DoesNotExistError(
          s"timestamp $tsMs predates the first commit (${commitTimestamp(f, commits.head._2)}) at $location")
    }
  }

  /** True iff no commit in (fromExclusive, toInclusive] carries a
    * data-changing remove action (protocol `dataChange`: compaction's
    * removes are false and preserve contents) or a DV re-assignment on
    * an add. Action-level rather than commitInfo.operation because
    * commitInfo is OPTIONAL in the protocol — foreign writers may omit
    * it, and actions never lie about what moved.
    */
  private[tables] def appendOnlyBetween(spark: SparkSession, location: String,
      fromExclusive: Long, toInclusive: Option[Long] = None): Boolean = try {
    val f = fs(spark, location)
    val inRange = listCommitFiles(f, location)
      .filter { case (v, _) => v > fromExclusive && toInclusive.forall(v <= _) }
    // every version in the range must still EXIST as a JSON commit: after
    // log cleanup (checkpointed tables delete old commits) the range
    // replays incompletely, and an incomplete replay can never prove
    // append-only — answer false and let the consumer re-sync from the
    // snapshot
    val hi = toInclusive.orElse(inRange.map(_._1).maxOption).getOrElse(fromExclusive)
    inRange.map(_._1).sorted == ((fromExclusive + 1) to hi) &&
    inRange.forall { case (_, p) =>
        val in = f.open(p)
        try {
          scala.io.Source.fromInputStream(in, "UTF-8").getLines().forall { ln =>
            val t = ln.trim
            if (t.isEmpty) true
            else {
              val j = JsonMethods.parse(t)
              val removeChanged = (j \ "remove") match {
                case JNothing => false
                case r => (r \ "dataChange").extractOrElse[Boolean](true)
              }
              // a merge-on-read delete re-adds the file with a DV and
              // dataChange=true: rows vanished without a remove action
              val dvChanged = (j \ "add") match {
                case JNothing => false
                case a => (a \ "dataChange").extractOrElse[Boolean](true) &&
                  (a \ "deletionVector") != JNothing
              }
              !removeChanged && !dvChanged
            }
          }
        } finally in.close()
      }
  } catch {
    // unparseable/unreadable commits cannot prove append-only —
    // conservative false, the consumer re-syncs instead of crashing
    case NonFatal(_) => false
  }

  /** Physical row provenance columns a DV-aware read threads through the
    * plan: the file's path URI and the row's 0-based physical position in
    * it (parquet `_metadata`, the position Delta DVs are defined over).
    */
  private[tables] val FileMetaCol = "__gr_dv_file"
  private[tables] val RowMetaCol = "__gr_dv_row"

  /** The provenance columns as a read's `_metadata` selection (empty
    * unless `withMeta`), and their schema.
    */
  private[tables] def rowMeta(withMeta: Boolean): Seq[org.apache.spark.sql.Column] =
    if (withMeta) Seq(col("_metadata.file_path").as(FileMetaCol),
      col("_metadata.row_index").as(RowMetaCol))
    else Seq.empty
  private[tables] val RowMetaFields = Seq(
    org.apache.spark.sql.types.StructField(FileMetaCol, org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField(RowMetaCol, org.apache.spark.sql.types.LongType))

  /** Plan a distributed read over a snapshot's active files, deletion
    * vectors not applied (CommitLog.liveRows applies them): one
    * LogFileIndex relation, partition values from the log (the layout
    * of the files is irrelevant — absolute SHALLOW CLONE paths and
    * directories that disagree with the log read alike).
    */
  private[tables] def rawRead(spark: SparkSession, location: String, s: TxLog.Snapshot,
      withMeta: Boolean): DataFrame = {
    val metaSel = rowMeta(withMeta)
    val mapping = columnMappingOf(s.schema)
    if (mapping.isEmpty) LogFileIndex.readSnapshot(spark, location, s, s.files, metaSel)
    else mappedRead(spark, location, s, mapping, metaSel)
  }

  /** Read a column-mapped table: data files store PHYSICAL column names
    * (top-level and nested), so the relation reads the physicalized
    * schema and one select casts each top-level column back to its
    * logical name and type — struct casts rename nested fields
    * positionally. In id mode the physicalized schema additionally
    * carries `parquet.field.id`s and the parquet reader matches columns
    * BY ID (spark.sql.parquet.fieldId.read.enabled), the mode's defining
    * semantics; files without ids fall back to physical names
    * (ignoreMissing). Partition values come from the (already
    * logical-keyed) log.
    */
  private def mappedRead(spark: SparkSession, location: String,
      s: TxLog.Snapshot, mapping: Map[String, String],
      metaSel: Seq[org.apache.spark.sql.Column]): DataFrame = {
    def stripMeta(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map(f =>
        org.apache.spark.sql.types.StructField(f.name, stripMeta(f.dataType), f.nullable)))
      case a: org.apache.spark.sql.types.ArrayType => a.copy(elementType = stripMeta(a.elementType))
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(keyType = stripMeta(m.keyType), valueType = stripMeta(m.valueType))
      case other => other
    }
    val idMode = s.properties.get("delta.columnMapping.mode").contains("id")
    if (idMode) {
      // session-level switches, default-off; they only change behavior for
      // read schemas that actually carry field ids (exactly this scan)
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
      spark.conf.set("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
    }
    val (partFields, dataFields) =
      s.schema.fields.toSeq.partition(f => s.partitionColumns.contains(f.name))
    val physSchema = StructType(dataFields.map { f =>
      val meta =
        if (idMode && f.metadata.contains(ColumnIdKey))
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong(ParquetFieldIdKey, f.metadata.getLong(ColumnIdKey)).build()
        else org.apache.spark.sql.types.Metadata.empty
      org.apache.spark.sql.types.StructField(
        mapping.getOrElse(f.name, f.name),
        physicalize(f.dataType, withFieldIds = idMode).asInstanceOf[DataType], f.nullable, meta)
    })
    val partSchema = StructType(partFields.map(f =>
      org.apache.spark.sql.types.StructField(f.name, stripMeta(f.dataType))))
    LogFileIndex.read(spark, location, s, s.files, physSchema, partSchema,
        logicalNames = dataFields.map(f => mapping.getOrElse(f.name, f.name) -> f.name).toMap)
      .select(s.schema.fields.toIndexedSeq.map { f =>
        if (s.partitionColumns.contains(f.name)) col(s"`${f.name}`")
        else col(s"`${mapping.getOrElse(f.name, f.name)}`").cast(stripMeta(f.dataType)).as(f.name)
      } ++ metaSel: _*)
  }
}

/** Minimal spec-compliant Delta WRITER (create + append, protocol 1/2, no
  * advanced features) — enough for round-trip tests here and for external
  * engines (delta-rs, DuckDB delta, Delta-Spark) to read what this library
  * writes. Data files are staged by the same distributed parquet job the
  * native TxLog uses; only the JSON commit differs.
  */
object DeltaLogWriter {

  private implicit val formats: Formats = DefaultFormats

  /** Writer features this writer actually honors under protocol v7.
    * appendOnly is honored (the delta.appendOnly property is checked
    * below); invariants and checkConstraints are ENFORCED — every staged
    * write wraps the data in Constraints.enforce, so a violating row
    * aborts the job before any commit; columnMapping is honored
    * (stageForDelta writes physical names + field ids); deletionVectors is
    * honored: reads apply DVs, rewrites drop superseded DVs with their
    * files, and DELETE can write them (DeltaDvWriter). Anything else
    * (generatedColumns, changeDataFeed, ...) would make our commits
    * violate invariants other engines rely on — honored "by refusal":
    * legacy writer versions 4-6 imply those features, so such tables are
    * writable only when the feature is not actually exercised (CDF off,
    * no generated/identity columns).
    */
  private val SupportedWriterFeatures =
    Set("appendOnly", "timestampNtz", "vacuumProtocolCheck", "invariants",
      "checkConstraints", "changeDataFeed", "deletionVectors", "columnMapping",
      "v2Checkpoint", "generatedColumns", "identityColumns", "domainMetadata",
      "rowTracking", "inCommitTimestamp", "variantType", "variantType-preview")

  /** The Delta spec requires writers to refuse tables whose
    * minWriterVersion / writerFeatures they do not implement.
    */
  private[tables] def requireWritable(spark: SparkSession, location: String, forOverwrite: Boolean): Unit = {
    val (state, _) = DeltaLog.replayState(spark, location, None)
    val versionOk = state.minWriter <= 6 ||
      (state.minWriter == 7 && (state.writerFeatures -- SupportedWriterFeatures).isEmpty)
    if (!versionOk)
      throw UnsupportedOperationError(
        s"Delta table at $location requires writer version ${state.minWriter} " +
          s"with features ${state.writerFeatures.mkString(",")}; " +
          s"supported: version <= 6 or features within ${SupportedWriterFeatures.mkString(",")}")
    // every legacy-implied writer obligation is now honored: v2 invariants
    // and v3 CHECK constraints are ENFORCED (Constraints.enforce wraps
    // every staged write); v4 change data feed is PRODUCED (cdc actions via
    // DeltaCdf; OPTIMIZE marks dataChange=false); v4 generated columns are
    // COMPUTED when omitted and VALIDATED when provided (GeneratedColumns);
    // v6 identity columns are ALLOCATED above the high watermark with the
    // advanced watermark published in the same commit (IdentityColumns,
    // through the TxTable write surface).
    if (forOverwrite && state.props.get("delta.appendOnly").exists(_.equalsIgnoreCase("true")))
      throw UnsupportedOperationError(
        s"Delta table at $location is append-only (delta.appendOnly=true)")
    // column-mapped tables (name and id mode) are writable: stageForDelta
    // renames columns to their physical names and attaches parquet field
    // ids before staging, so the files this writer publishes look exactly
    // like a mapped writer's. Schema EVOLUTION on mapped tables is also
    // supported: DeltaLog.evolveMapping mints fresh column ids + UUID
    // physical names for added columns and advances maxColumnId
    // (DeltaInteropSpec pins both modes).
  }

  /** Does any type inside `dt` satisfy `pred`? (feature detection for
    * timestampNtz / variantType, which are protocol table features).
    */
  private def typeExists(dt: DataType)(pred: DataType => Boolean): Boolean = dt match {
    case s: StructType => pred(s) || s.fields.exists(f => typeExists(f.dataType)(pred))
    case a: org.apache.spark.sql.types.ArrayType => pred(a) || typeExists(a.elementType)(pred)
    case m: org.apache.spark.sql.types.MapType =>
      pred(m) || typeExists(m.keyType)(pred) || typeExists(m.valueType)(pred)
    case other => pred(other)
  }

  /** The protocol obligations a table's schema + properties impose on
    * writers, per PROTOCOL.md "Table Features": each entry is
    * (writerFeature, legacy minWriterVersion that implies it — None means
    * the feature exists only under writer v7, needsReaderFeature — the
    * same-named reader feature under reader v3; columnMapping alone is
    * also expressible as legacy minReaderVersion 2).
    */
  private[tables] def requiredFeatures(schema: StructType,
      props: Map[String, String]): Seq[(String, Option[Int], Boolean)] = {
    def ict = props.get("delta.enableInCommitTimestamps").exists(_.equalsIgnoreCase("true"))
    def mapped = props.get("delta.columnMapping.mode").exists(m => m == "name" || m == "id")
    def ntz = typeExists(schema)(_.typeName == "timestamp_ntz")
    def variant = typeExists(schema)(_.typeName == "variant")
    val b = Seq.newBuilder[(String, Option[Int], Boolean)]
    if (props.keys.exists(_.startsWith(Constraints.PropPrefix)))
      b += (("checkConstraints", Some(3), false))
    if (DeltaCdf.enabled(props)) b += (("changeDataFeed", Some(4), false))
    if (GeneratedColumns.of(schema).nonEmpty) b += (("generatedColumns", Some(4), false))
    if (mapped) b += (("columnMapping", Some(5), true))
    if (IdentityColumns.of(schema).nonEmpty) b += (("identityColumns", Some(6), false))
    if (DeltaDvWriter.enabled(props)) b += (("deletionVectors", None, true))
    if (RowTracking.enabled(props)) {
      b += (("rowTracking", None, false))
      b += (("domainMetadata", None, false))
    }
    if (ict) b += (("inCommitTimestamp", None, false))
    if (ntz) b += (("timestampNtz", None, true))
    if (variant) b += (("variantType", None, true))
    b.result()
  }

  /** Writer features a legacy minWriterVersion implies (PROTOCOL.md table
    * of legacy version -> features); an upgrade to writer v7 must carry
    * them forward explicitly.
    */
  private[tables] def legacyWriterImplied(v: Int): Set[String] = {
    var s = Set.empty[String]
    if (v >= 2) s ++= Set("appendOnly", "invariants")
    if (v >= 3) s += "checkConstraints"
    if (v >= 4) s ++= Set("changeDataFeed", "generatedColumns")
    if (v >= 5) s += "columnMapping"
    if (v >= 6) s += "identityColumns"
    s
  }

  /** The protocol action a CREATE must emit so that every feature the new
    * table exercises is an obligation on other writers: legacy versions
    * when they suffice, writer v7 + explicit writerFeatures (and reader 3
    * + readerFeatures) when any v7-only feature (row tracking, ICT, DVs,
    * NTZ, variant) is present.
    */
  private[tables] def protocolActionFor(schema: StructType,
      props: Map[String, String]): String = {
    val feats = requiredFeatures(schema, props)
    val needsV7 = feats.exists(_._2.isEmpty)
    if (!needsV7) {
      val minWriter = (2 +: feats.flatMap(_._2)).max
      val minReader = if (feats.exists(_._1 == "columnMapping")) 2 else 1
      s"""{"protocol":{"minReaderVersion":$minReader,"minWriterVersion":$minWriter}}"""
    } else {
      val writerFeats = (Set("appendOnly", "invariants") ++ feats.map(_._1)).toList.sorted
      // reader v3 is needed when any reader-side feature is v7-only;
      // columnMapping alone stays expressible as legacy reader 2
      val needReader3 = feats.exists(f => f._3 && f._2.isEmpty)
      val minReader = if (needReader3) 3 else if (feats.exists(_._1 == "columnMapping")) 2 else 1
      val readerFeats: List[(String, JValue)] =
        if (minReader >= 3)
          List("readerFeatures" -> JArray(feats.filter(_._3).map(_._1).sorted.toList.map(JString(_))))
        else Nil
      JsonMethods.compact(JsonMethods.render(JObject("protocol" -> JObject(
        List[(String, JValue)](
          "minReaderVersion" -> JInt(minReader),
          "minWriterVersion" -> JInt(7)) ++ readerFeats ++
          List("writerFeatures" -> JArray(writerFeats.map(JString(_))))))))
    }
  }

  /** Stage `df`'s data for a foreign Delta table: on a column-mapped table
    * the parquet files must carry PHYSICAL column names (and field ids —
    * id-mode readers match by them; Spark writes `parquet.field.id`
    * metadata into the footer by default), and hive partition directories
    * the physical partition names. Stats and partitionValues of the
    * returned AddFiles come out physical-keyed — the log's convention for
    * mapped tables (the snapshot remaps them to logical on read).
    */
  private[tables] def stageForDelta(spark: SparkSession, location: String,
      df: DataFrame, snap: TxLog.Snapshot): Seq[TxLog.AddFile] = {
    val mapping = DeltaLog.columnMappingOf(snap.schema)
    if (mapping.isEmpty)
      return TxLog.stageData(spark, location, df, snap.partitionColumns,
        TxLog.writerOptions(snap.properties))
    import org.apache.spark.sql.functions.col
    // driven by the DATAFRAME's columns (a MERGE-evolution append may omit
    // old table columns); mapping metadata comes from the table schema.
    // Materialized row-tracking columns are already physical names outside
    // the logical schema — pass through unmapped.
    val matNames = RowTracking.materializedNames(snap.properties)
      .map { case (a, b) => Set(a, b) }.getOrElse(Set.empty[String])
    val physCols = df.schema.fieldNames.toSeq.map { name =>
      if (matNames.contains(name)) col(s"`$name`")
      else {
      val f = snap.schema.fields.find(_.name == name).getOrElse(
        throw new IllegalStateException(
          s"stage: column $name has no mapping metadata in the table schema"))
      val target = DeltaLog.physicalize(f.dataType, withFieldIds = true)
      val meta =
        if (f.metadata.contains(DeltaLog.ColumnIdKey))
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong(DeltaLog.ParquetFieldIdKey, f.metadata.getLong(DeltaLog.ColumnIdKey)).build()
        else org.apache.spark.sql.types.Metadata.empty
      col(s"`$name`").cast(target).as(DeltaLog.physicalNameOf(f), meta)
      }
    }
    val physPartCols = snap.partitionColumns.map(c => DeltaLog.physicalNameOf(snap.schema(c)))
    // bloom options key on the PHYSICAL names the footers will carry
    val bloomOpts = TxLog.writerOptions(snap.properties,
      rename = c => snap.schema.fields.find(_.name == c)
        .map(DeltaLog.physicalNameOf).getOrElse(c))
    TxLog.stageData(spark, location, df.select(physCols: _*), physPartCols, bloomOpts)
  }

  /** Render per-file stats in Delta's typed-JSON convention (numbers as
    * JSON numbers, everything else as strings), from the string maps
    * FileStats collects.
    */
  private def statsJson(schema: StructType, a: TxLog.AddFile): String = {
    // stats of a column-mapped table are keyed by PHYSICAL names — resolve
    // the field's type through either name so values stay typed
    def typed(m: Map[String, String]): JObject = JObject(m.toList.flatMap { case (k, v) =>
      schema.fields.find(f => f.name == k || DeltaLog.physicalNameOf(f) == k).map { f =>
        val jv: JValue = f.dataType match {
          case t if t.typeName == "integer" || t.typeName == "long" || t.typeName == "short" || t.typeName == "byte" =>
            v.toLongOption.map(JLong(_)).getOrElse(JString(v))
          case t if t.typeName == "double" || t.typeName == "float" =>
            v.toDoubleOption.map(JDouble(_)).getOrElse(JString(v))
          // parquet footers carry timestamps as epoch micros and dates as
          // epoch days; Delta stats are ISO strings — convert so external
          // engines can use the stats (our own reader parses both forms)
          case t if t.typeName == "timestamp" || t.typeName == "timestamp_ntz" =>
            JString(v.toLongOption.map { us =>
              java.time.LocalDateTime.ofEpochSecond(
                Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000L).toInt,
                java.time.ZoneOffset.UTC).toString
            }.getOrElse(v))
          case t if t.typeName == "date" =>
            JString(v.toLongOption.map(d => java.time.LocalDate.ofEpochDay(d).toString).getOrElse(v))
          case _ => JString(v)
        }
        k -> jv
      }
    })
    // rows < 0 means UNKNOWN (a CONVERTed file no one has counted yet):
    // numRecords must be ABSENT, not clamped to 0 — a written zero reads
    // back as a known-empty file and every stats consumer (countRows,
    // SHOW PARTITIONS, external engines' stats-based count(*)) lies
    val base = (if (a.rows < 0) Nil
      else List[(String, JValue)]("numRecords" -> JLong(a.rows))) ++
      List[(String, JValue)](
      "minValues" -> typed(a.minValues.getOrElse(Map.empty)),
      "maxValues" -> typed(a.maxValues.getOrElse(Map.empty)),
      "nullCount" -> JObject(a.nullCounts.getOrElse(Map.empty).toList.map {
        case (k, v) => k -> (JLong(v): JValue)
      }))
    // with a DV, numRecords stays the PHYSICAL row count and min/max bound
    // every physical row — mark the stats non-tight per the spec
    val withTight =
      if (a.deletionVector.isDefined) base :+ ("tightBounds" -> (JBool(false): JValue)) else base
    JsonMethods.compact(JsonMethods.render(JObject(withTight)))
  }

  private def dvJson(d: DeletionVectors.Descriptor): JObject = {
    val base = List[(String, JValue)](
      "storageType" -> JString(d.storageType),
      "pathOrInlineDv" -> JString(d.pathOrInlineDv),
      "sizeInBytes" -> JInt(BigInt(d.sizeInBytes)),
      "cardinality" -> JLong(d.cardinality))
    JObject(d.offset.fold(base)(o => base :+ ("offset" -> (JInt(BigInt(o)): JValue))))
  }

  private[tables] def addAction(schema: StructType, a: TxLog.AddFile,
      dataChange: Boolean = true): String = {
    val base = List[(String, JValue)](
      "path" -> JString(a.path),
      "partitionValues" -> JObject(a.partitionValues.toList.map { case (k, v) => k -> JString(v) }),
      "size" -> JLong(a.sizeBytes),
      "modificationTime" -> JLong(System.currentTimeMillis()),
      "dataChange" -> JBool(dataChange),
      "stats" -> JString(statsJson(schema, a)))
    val withDv = a.deletionVector.fold(base)(d => base :+ ("deletionVector" -> (dvJson(d): JValue)))
    val withRt = withDv ++
      a.baseRowId.map(v => "baseRowId" -> (JLong(v): JValue)).toList ++
      a.defaultRowCommitVersion.map(v => "defaultRowCommitVersion" -> (JLong(v): JValue)).toList
    JsonMethods.compact(JsonMethods.render(JObject("add" -> JObject(withRt))))
  }

  private[tables] def writeCommit(spark: SparkSession, location: String, version: Long, lines: Seq[String]): Unit = {
    val f = new Path(location).getFileSystem(spark.sessionState.newHadoopConf())
    val dir = DeltaLog.logDir(location)
    if (!f.exists(dir)) f.mkdirs(dir)
    val target = new Path(dir, f"$version%020d.json")
    if (f.exists(target))
      throw graft.catalog.AlreadyExistsError(s"Delta commit $version already exists at $location")
    val tmp = new Path(dir, s".tmp-${UUID.randomUUID()}.json")
    val out = f.create(tmp, false)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    if (!TxLog.atomicPublishNoOverwrite(f, tmp, target))
      throw graft.catalog.AlreadyExistsError(s"concurrent Delta commit $version at $location")
  }

  /** Every N commits, persist a parquet checkpoint + `_last_checkpoint`
    * so readers (ours and real Delta engines) replay O(N) JSON tail
    * commits instead of the whole history.
    */
  val CheckpointInterval = 10

  /** A checkpoint larger than this many actions is written MULTI-PART
    * (the legacy `N.checkpoint.i.of.k.parquet` form every Delta reader
    * supports, including this library's): at 100 TB a manifest holds
    * millions of AddFiles, and a single coalesce(1) checkpoint file would
    * serialize the whole write through one task and one giant object.
    */
  val CheckpointPartActions = 100000

  private[tables] def maybeCheckpoint(spark: SparkSession, location: String, version: Long): Unit = {
    if (version <= 0 || version % CheckpointInterval != 0) return
    // a v2Checkpoint table expects UUID-named V2 checkpoints (a classic
    // file there would violate the layout other readers assume)
    val (state, _) = DeltaLog.replayState(spark, location, None)
    if (state.writerFeatures.contains("v2Checkpoint"))
      writeCheckpointV2(spark, location, version, CheckpointPartActions)
    else writeCheckpoint(spark, location, version, CheckpointPartActions)
  }

  /** Write a V2 checkpoint (PROTOCOL.md "V2 Checkpoints"): a UUID-named
    * manifest holding checkpointMetadata + protocol + metaData + sidecar
    * references, with the add state sharded across parquet sidecar files
    * under `_delta_log/_sidecars/` — one distributed write produces the
    * shards, so a 100 TB manifest never serializes through one task.
    */
  private[tables] def writeCheckpointV2(spark: SparkSession, location: String, version: Long,
      maxActionsPerPart: Int): Unit = {
    val (state, _) = DeltaLog.replayState(spark, location, Some(version))
    val snap = DeltaLog.snapshot(spark, location, Some(version))
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val addType = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      StructField("deletionVector", StructType(Seq(
        StructField("storageType", StringType),
        StructField("pathOrInlineDv", StringType),
        StructField("offset", IntegerType),
        StructField("sizeInBytes", IntegerType),
        StructField("cardinality", LongType)))),
      StructField("baseRowId", LongType),
      StructField("defaultRowCommitVersion", LongType)))
    val sidecarSchema = StructType(Seq(StructField("add", addType)))
    val f = new Path(location).getFileSystem(spark.sessionState.newHadoopConf())
    val logD = DeltaLog.logDir(location)
    val sidecarDir = new Path(logD, "_sidecars")
    if (!f.exists(sidecarDir)) f.mkdirs(sidecarDir)

    // shard the add state: distributed write, each part becomes a sidecar
    val addRows = new java.util.ArrayList[Row]()
    snap.files.foreach { a =>
      val dvRow = a.deletionVector.map(d =>
        Row(d.storageType, d.pathOrInlineDv, d.offset.map(Int.box).orNull,
          d.sizeInBytes, d.cardinality)).orNull
      addRows.add(Row(Row(a.path, a.partitionValues, a.sizeBytes,
        System.currentTimeMillis(), false, statsJson(snap.schema, a), dvRow,
        a.baseRowId.map(Long.box).orNull,
        a.defaultRowCommitVersion.map(Long.box).orNull)))
    }
    val k = math.max(1, (addRows.size() + maxActionsPerPart - 1) / maxActionsPerPart)
    val tmpDir = new Path(logD, s".v2ckpt-tmp-${UUID.randomUUID()}")
    val sidecars =
      try {
        spark.createDataFrame(addRows, sidecarSchema).repartition(k).write.parquet(tmpDir.toString)
        val parts = f.listStatus(tmpDir).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
        if (parts.isEmpty && addRows.size() > 0)
          throw new java.io.IOException(s"no sidecar part under $tmpDir")
        parts.map { p =>
          val name = s"${UUID.randomUUID()}.parquet"
          val dest = new Path(sidecarDir, name)
          if (!f.rename(p, dest))
            throw new java.io.IOException(s"failed to publish sidecar $p -> $dest")
          (name, f.getFileStatus(dest).getLen)
        }
      } finally f.delete(tmpDir, true)

    // the manifest: checkpointMetadata + protocol + metaData + sidecar refs
    val manifestSchema = StructType(Seq(
      StructField("checkpointMetadata", StructType(Seq(
        StructField("version", LongType),
        StructField("tags", MapType(StringType, StringType))))),
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType)),
        StructField("format", StructType(Seq(StructField("provider", StringType))))))),
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType),
        StructField("modificationTime", LongType)))),
      // non-file actions live in the manifest: SetTransaction watermarks
      // must survive checkpointing for idempotent writers
      StructField("txn", StructType(Seq(
        StructField("appId", StringType),
        StructField("version", LongType),
        StructField("lastUpdated", LongType)))),
      StructField("domainMetadata", StructType(Seq(
        StructField("domain", StringType),
        StructField("configuration", StringType),
        StructField("removed", BooleanType))))))
    val manifestRows = new java.util.ArrayList[Row]()
    manifestRows.add(Row(Row(version, Map.empty[String, String]), null, null, null, null, null))
    manifestRows.add(Row(null, Row(state.minReader, state.minWriter,
      if (state.readerFeatures.isEmpty) null else state.readerFeatures.toSeq,
      if (state.writerFeatures.isEmpty) null else state.writerFeatures.toSeq), null, null, null, null))
    manifestRows.add(Row(null, null, Row(Option(state.metaId).filter(_.nonEmpty)
      .getOrElse(UUID.randomUUID().toString), snap.schema.json,
      snap.partitionColumns, snap.properties, Row("parquet")), null, null, null))
    sidecars.foreach { case (name, len) =>
      manifestRows.add(Row(null, null, null, Row(name, len, System.currentTimeMillis()), null, null))
    }
    state.txns.toSeq.sortBy(_._1).foreach { case (appId, v) =>
      manifestRows.add(Row(null, null, null, null, Row(appId, v, System.currentTimeMillis()), null))
    }
    state.domains.toSeq.sortBy(_._1).foreach { case (d, (conf, removed)) =>
      manifestRows.add(Row(null, null, null, null, null, Row(d, conf, removed)))
    }
    val mTmp = new Path(logD, s".v2mani-tmp-${UUID.randomUUID()}")
    spark.createDataFrame(manifestRows, manifestSchema).coalesce(1).write.parquet(mTmp.toString)
    try {
      val part = f.listStatus(mTmp).map(_.getPath).find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new java.io.IOException(s"no manifest part under $mTmp"))
      val target = new Path(logD, f"$version%020d.checkpoint.${UUID.randomUUID()}.parquet")
      // lost the checkpoint race for this version -> another writer owns it
      val already = f.listStatus(logD).exists(s =>
        s.getPath.getName.startsWith(f"$version%020d.checkpoint."))
      if (!already && f.rename(part, target)) {
        val n = manifestRows.size() + addRows.size()
        val lc = new Path(logD, "_last_checkpoint")
        val out = f.create(lc, true)
        try out.write(s"""{"version":$version,"size":$n}""".getBytes("UTF-8"))
        finally out.close()
      }
    } finally f.delete(mTmp, true)
  }

  private[tables] def writeCheckpoint(spark: SparkSession, location: String, version: Long,
      maxActionsPerPart: Int): Unit = {
    // replay the ACTUAL protocol + metaData id: a checkpoint that invented
    // protocol (1,2) or a fresh table id would downgrade feature gating
    // and break readers that track table identity
    val (state, _) = DeltaLog.replayState(spark, location, Some(version))
    val snap = DeltaLog.snapshot(spark, location, Some(version))
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType)),
        StructField("format", StructType(Seq(StructField("provider", StringType))))))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        StructField("stats", StringType),
        StructField("deletionVector", StructType(Seq(
          StructField("storageType", StringType),
          StructField("pathOrInlineDv", StringType),
          StructField("offset", IntegerType),
          StructField("sizeInBytes", IntegerType),
          StructField("cardinality", LongType)))),
        StructField("baseRowId", LongType),
        StructField("defaultRowCommitVersion", LongType)))),
      // SetTransaction watermarks MUST survive checkpointing (PROTOCOL.md:
      // a checkpoint contains the latest txn action per appId) — dropping
      // them would break idempotent writers once the JSON tail is cleaned
      StructField("txn", StructType(Seq(
        StructField("appId", StringType),
        StructField("version", LongType),
        StructField("lastUpdated", LongType)))),
      // domain metadata must survive checkpointing (PROTOCOL.md "Domain
      // Metadata": a checkpoint contains the latest action per domain,
      // including removal tombstones)
      StructField("domainMetadata", StructType(Seq(
        StructField("domain", StringType),
        StructField("configuration", StringType),
        StructField("removed", BooleanType))))))
    val rows = new java.util.ArrayList[Row]()
    rows.add(Row(Row(state.minReader, state.minWriter,
      if (state.readerFeatures.isEmpty) null else state.readerFeatures.toSeq,
      if (state.writerFeatures.isEmpty) null else state.writerFeatures.toSeq), null, null, null, null))
    rows.add(Row(null, Row(Option(state.metaId).filter(_.nonEmpty)
      .getOrElse(UUID.randomUUID().toString), snap.schema.json,
      snap.partitionColumns, snap.properties, Row("parquet")), null, null, null))
    snap.files.foreach { a =>
      val dvRow = a.deletionVector.map(d =>
        Row(d.storageType, d.pathOrInlineDv, d.offset.map(Int.box).orNull,
          d.sizeInBytes, d.cardinality)).orNull
      rows.add(Row(null, null, Row(a.path, a.partitionValues, a.sizeBytes,
        System.currentTimeMillis(), false, statsJson(snap.schema, a), dvRow,
        a.baseRowId.map(Long.box).orNull,
        a.defaultRowCommitVersion.map(Long.box).orNull), null, null))
    }
    state.txns.toSeq.sortBy(_._1).foreach { case (appId, v) =>
      rows.add(Row(null, null, null, Row(appId, v, System.currentTimeMillis()), null))
    }
    state.domains.toSeq.sortBy(_._1).foreach { case (d, (conf, removed)) =>
      rows.add(Row(null, null, null, null, Row(d, conf, removed)))
    }
    val f = new Path(location).getFileSystem(spark.sessionState.newHadoopConf())
    val dir = DeltaLog.logDir(location)
    val tmpDir = new Path(dir, s".ckpt-tmp-${UUID.randomUUID()}")
    val n = rows.size()
    val k = math.max(1, (n + maxActionsPerPart - 1) / maxActionsPerPart)
    try {
      // one distributed write produces all parts; action placement across
      // parts is arbitrary (readers union every part). A failed write
      // leaves no temp dir behind either (the finally below)
      spark.createDataFrame(rows, schema).repartition(k).write.parquet(tmpDir.toString)
      val parts = f.listStatus(tmpDir).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
      if (parts.isEmpty) throw new java.io.IOException(s"no checkpoint part under $tmpDir")
      val targets =
        if (parts.length == 1) Seq(new Path(dir, f"$version%020d.checkpoint.parquet"))
        else parts.indices.map(i => new Path(dir,
          f"$version%020d.checkpoint.${i + 1}%010d.${parts.length}%010d.parquet"))
      // lost the checkpoint race -> another writer owns this version; skip
      if (targets.forall(t => !f.exists(t)) &&
          parts.zip(targets).forall { case (p, t) => f.rename(p, t) }) {
        val partsJson = if (targets.length > 1) s""","parts":${targets.length}""" else ""
        val lc = new Path(dir, "_last_checkpoint")
        val out = f.create(lc, true)
        try out.write(s"""{"version":$version,"size":$n$partsJson}""".getBytes("UTF-8"))
        finally out.close()
      }
    } finally f.delete(tmpDir, true)
  }

  /** Create a Delta table at `location` with `df` as version 0. */
  def create(spark: SparkSession, location: String, df0: DataFrame,
      partitionColumns: Seq[String] = Seq.empty,
      properties: Map[String, String] = Map.empty): Unit = {
    if (DeltaLog.isDeltaTable(spark, location))
      throw graft.catalog.AlreadyExistsError(s"Delta table already exists at $location")
    val df = IdentityColumns.stampCreate(df0)
    val added = TxLog.stageData(spark, location,
      Constraints.enforce(GeneratedColumns.validate(df, df.schema), properties, df.schema),
      partitionColumns, TxLog.writerOptions(properties))
    val meta = JsonMethods.compact(JsonMethods.render(JObject("metaData" -> JObject(
      "id" -> JString(UUID.randomUUID().toString),
      "format" -> JObject("provider" -> JString("parquet"), "options" -> JObject()),
      "schemaString" -> JString(df.schema.json),
      "partitionColumns" -> JArray(partitionColumns.toList.map(JString(_))),
      "configuration" -> JObject(properties.toList.map { case (k, v) => k -> JString(v) }),
      "createdTime" -> JLong(System.currentTimeMillis())))))
    // a table born with CHECK constraints / CDF / row tracking / ICT /
    // identity / generated / NTZ / variant columns must oblige other
    // writers to honor them — legacy versions when expressible, writer v7
    // with explicit features otherwise (the advisor's round-5 finding:
    // hardcoded v2-4 let external writers legally skip these invariants)
    val protocol = protocolActionFor(df.schema, properties)
    // an ICT table must carry inCommitTimestamp from its very first commit
    // (PROTOCOL.md: readers expect it on EVERY commit once enabled; a
    // table enabled at v0 needs no enablement properties)
    val ictField: List[(String, JValue)] =
      if (!properties.get("delta.enableInCommitTimestamps").exists(_.equalsIgnoreCase("true"))) Nil
      else List("inCommitTimestamp" -> JLong(System.currentTimeMillis()))
    val commitInfo = JsonMethods.compact(JsonMethods.render(JObject("commitInfo" -> JObject(
      List[(String, JValue)](
        "timestamp" -> JLong(System.currentTimeMillis()),
        "operation" -> JString("WRITE"),
        "operationParameters" -> JObject("mode" -> JString("ErrorIfExists"))) ++ ictField))))
    // a table born with row tracking stamps its version-0 adds too
    val (added1, rtLine) =
      if (!RowTracking.enabled(properties)) (added, None)
      else RowTracking.stamp(added, hwm = -1L, commitVersion = 0L)
    writeCommit(spark, location, 0L,
      (commitInfo +: protocol +: meta +: rtLine.toSeq) ++ added1.map(addAction(df.schema, _)))
  }

  /** Version-0 commit over PRE-EXISTING data files (CLONE): same action
    * shape as `create`, but the adds are given, not staged — shallow
    * clones pass the source's manifest with absolute paths, deep clones
    * the copied files' relative ones. Metadata (schema, partitioning,
    * properties) is the source snapshot's, so constraints/CDF/row-tracking
    * obligations carry over via the same protocol computation.
    */
  def createFromFiles(spark: SparkSession, location: String,
      schema: org.apache.spark.sql.types.StructType, partitionColumns: Seq[String],
      properties: Map[String, String], added: Seq[TxLog.AddFile],
      sourceRowIdHighWaterMark: Long = -1L, operation: String = "CLONE"): Unit = {
    if (DeltaLog.isDeltaTable(spark, location))
      throw graft.catalog.AlreadyExistsError(s"Delta table already exists at $location")
    val meta = JsonMethods.compact(JsonMethods.render(JObject("metaData" -> JObject(
      "id" -> JString(UUID.randomUUID().toString),
      "format" -> JObject("provider" -> JString("parquet"), "options" -> JObject()),
      "schemaString" -> JString(schema.json),
      "partitionColumns" -> JArray(partitionColumns.toList.map(JString(_))),
      "configuration" -> JObject(properties.toList.map { case (k, v) => k -> JString(v) }),
      "createdTime" -> JLong(System.currentTimeMillis())))))
    val protocol = protocolActionFor(schema, properties)
    // an ICT table carries inCommitTimestamp from its very first commit
    val ictField: List[(String, JValue)] =
      if (!properties.get("delta.enableInCommitTimestamps").exists(_.equalsIgnoreCase("true"))) Nil
      else List("inCommitTimestamp" -> JLong(System.currentTimeMillis()))
    val commitInfo = JsonMethods.compact(JsonMethods.render(JObject("commitInfo" -> JObject(
      List[(String, JValue)](
        "timestamp" -> JLong(System.currentTimeMillis()),
        "operation" -> JString(operation),
        "operationParameters" -> JObject()) ++ ictField))))
    // row-tracked sources: cloned adds KEEP their baseRowId (lineage
    // continuity — the point of cloning metadata, not data), but the new
    // table must still record the watermark domain, or its first append
    // would allocate ids from -1 and collide with the cloned ranges.
    // The SOURCE's stored watermark participates too (Delta CLONE copies
    // it): the live files' max id can sit BELOW it when the source
    // deleted/rewrote the files holding its highest ids, and reallocating
    // those ids in the clone would break row-id stability for CDF/lineage
    // consumers.
    val (added1, rtLines) =
      if (!RowTracking.enabled(properties)) (added, Seq.empty[String])
      else {
        val hwm0 = added.flatMap(a => a.baseRowId.map(_ + math.max(a.rows, 1) - 1))
          .foldLeft(sourceRowIdHighWaterMark)(math.max)
        val (st, _) = RowTracking.stamp(added, hwm0, 0L)
        val finalHwm = st.flatMap(a => a.baseRowId.map(_ + math.max(a.rows, 1) - 1))
          .foldLeft(hwm0)(math.max)
        (st, Seq(JsonMethods.compact(JsonMethods.render(JObject(
          "domainMetadata" -> JObject(
            "domain" -> JString(RowTracking.Domain),
            "configuration" -> JString(s"""{"rowIdHighWaterMark":$finalHwm}"""),
            "removed" -> JBool(false)))))))
      }
    writeCommit(spark, location, 0L,
      (commitInfo +: protocol +: meta +: rtLines) ++ added1.map(addAction(schema, _)))
  }

  /** Append `df` to an existing Delta table (STRICT schema equality).
    * Routed through the shared commit surface (ForeignDeltaCommitLog via
    * TxTable) so row-tracking stamping, ICT commitInfo, identity/generated
    * column handling, and optimistic retry behave identically to every
    * other write path — the round-5 advisor finding was that this helper
    * bypassed them.
    */
  def append(spark: SparkSession, location: String, df: DataFrame): Unit =
    TxTable.forForeignDelta(spark, location).append(df)

  /** Delete commit JSONs and superseded checkpoint files BELOW the
    * latest checkpoint once older than `retentionMs` — the
    * delta.logRetentionDuration maintenance every long-lived Delta table
    * needs: the checkpoint reconstructs every later version, so the
    * removed commits were only reachable by time travel past the
    * retention horizon (which now raises, as on any Delta engine).
    * `_last_checkpoint`, everything at or above the checkpoint version,
    * and v2 sidecars (shareable across checkpoints) are kept. Returns
    * the number of files deleted.
    */
  def cleanupLogs(spark: SparkSession, location: String,
      retentionMs: Long = 30L * 24 * 3600 * 1000): Int = {
    val f = DeltaLog.fs(spark, location)
    val dir = new Path(location, "_delta_log")
    val lcPath = new Path(dir, "_last_checkpoint")
    if (!f.exists(lcPath)) return 0
    val ckptVersion = {
      val in = f.open(lcPath)
      try (JsonMethods.parse(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        \ "version").extract[Long]
      finally in.close()
    }
    val cutoff = System.currentTimeMillis() - retentionMs
    var n = 0
    f.listStatus(dir).foreach { s =>
      if (s.isFile) {
        val name = s.getPath.getName
        val v = name.takeWhile(_ != '.').toLongOption
        val isCommit = name.endsWith(".json") && !name.contains(".checkpoint.") &&
          name.stripSuffix(".json").toLongOption.isDefined
        val isCkpt = name.contains(".checkpoint.")
        val eligible = (isCommit || isCkpt) &&
          v.exists(_ < ckptVersion) && s.getModificationTime < cutoff
        if (eligible && f.delete(s.getPath, false)) n += 1
      }
    }
    n
  }

  /** OPTIMIZE ZORDER BY on a real Delta table: one overwrite commit whose
    * data is re-clustered on the Morton key of `zorderCols`, so the stats
    * this writer emits make multi-column manifest pruning effective for
    * any engine reading the table. Routed through the shared commit
    * surface (dataChange=false actions, row-tracking aware).
    */
  def optimizeZOrder(spark: SparkSession, location: String, zorderCols: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024, buckets: Int = 256): Unit =
    TxTable.forForeignDelta(spark, location).optimizeZOrder(zorderCols, targetFileBytes, buckets)

  /** Protocol action obliging writers to honor features that schema or
    * property changes in this commit newly exercise: a first
    * `delta.constraints.*` key needs writer v3 / checkConstraints;
    * enabling CDF needs v4; evolving in a generated/identity/NTZ/variant
    * column needs v4/v6/v7; enabling row tracking or ICT needs writer v7
    * with the matching features. Legacy tables bump minWriterVersion
    * (which implies the feature) when that suffices; otherwise the table
    * moves to the table-features protocol carrying every implied feature
    * forward (PROTOCOL.md "Table Features"). `writesDvs` (the commit adds
    * a file with a deletion vector) requires the deletionVectors feature
    * whatever the properties say — a table whose configuration enables
    * DVs may still carry a protocol without it. Empty when nothing new
    * is needed.
    */
  private[tables] def protocolUpgradeFor(spark: SparkSession, location: String,
      baseSchema: StructType, baseProps: Map[String, String],
      nextSchema: StructType, nextProps: Map[String, String],
      writesDvs: Boolean = false): Seq[String] = {
    val dv: Seq[(String, Option[Int], Boolean)] =
      if (writesDvs) Seq(("deletionVectors", None, true)) else Nil
    val before = requiredFeatures(baseSchema, baseProps).map(_._1).toSet -- dv.map(_._1)
    val needed = (requiredFeatures(nextSchema, nextProps) ++ dv).distinctBy(_._1)
    val fresh = needed.filterNot(f => before.contains(f._1))
    if (fresh.isEmpty) return Seq.empty
    val (state, _) = DeltaLog.replayState(spark, location, None)
    def writerSatisfied(f: (String, Option[Int], Boolean)): Boolean =
      if (state.minWriter >= 7) state.writerFeatures.contains(f._1)
      else f._2.exists(state.minWriter >= _)
    def readerSatisfied(f: (String, Option[Int], Boolean)): Boolean =
      !f._3 || (f._1 == "columnMapping" && state.minReader >= 2) ||
        (state.minReader >= 3 && state.readerFeatures.contains(f._1))
    val missing = fresh.filterNot(f => writerSatisfied(f) && readerSatisfied(f))
    if (missing.isEmpty) return Seq.empty
    val canLegacy = state.minWriter <= 6 && missing.forall(_._2.isDefined) &&
      missing.forall(f => !f._3 || f._1 == "columnMapping")
    val proto: JObject =
      if (canLegacy) {
        val minWriter = math.max(state.minWriter, missing.flatMap(_._2).max)
        val minReader = math.max(state.minReader,
          if (missing.exists(_._1 == "columnMapping")) 2 else 1)
        JObject(
          "minReaderVersion" -> JInt(minReader),
          "minWriterVersion" -> JInt(minWriter))
      } else {
        // table-features protocol: carry forward everything the current
        // protocol implies, add everything the new state requires
        val impliedW =
          if (state.minWriter >= 7) state.writerFeatures else legacyWriterImplied(state.minWriter)
        val writerFeats = (impliedW ++ needed.map(_._1)).toList.sorted
        val needReader3 = state.minReader >= 3 || needed.exists(f => f._3 && f._2.isEmpty)
        val impliedR =
          if (state.minReader >= 3) state.readerFeatures
          else if (state.minReader >= 2) Set("columnMapping")
          else Set.empty[String]
        val minReader = if (needReader3) 3 else state.minReader
        val base = List[(String, JValue)](
          "minReaderVersion" -> JInt(minReader),
          "minWriterVersion" -> JInt(7))
        val withReaders =
          if (minReader >= 3)
            base :+ ("readerFeatures" -> (JArray(
              (impliedR ++ needed.filter(_._3).map(_._1)).toList.sorted.map(JString(_))): JValue))
          else base
        JObject(withReaders :+ ("writerFeatures" ->
          (JArray(writerFeats.map(JString(_))): JValue)))
      }
    Seq(JsonMethods.compact(JsonMethods.render(JObject("protocol" -> proto))))
  }

  private[tables] def removeAction(path: String, dataChange: Boolean = true): String =
    JsonMethods.compact(JsonMethods.render(JObject("remove" -> JObject(
      "path" -> JString(path),
      "deletionTimestamp" -> JLong(System.currentTimeMillis()),
      "dataChange" -> JBool(dataChange)))))

  /** Replace the full contents of an existing Delta table (STRICT schema
    * equality): one commit that removes every active file and adds the new
    * data — the same shape Delta-Spark emits for `mode("overwrite")`.
    * Routed through the shared commit surface (see append).
    */
  def overwrite(spark: SparkSession, location: String, df: DataFrame): Unit =
    TxTable.forForeignDelta(spark, location).overwrite(df)
}

/** Merge-on-read DELETE for foreign Delta tables: instead of rewriting
  * every file that contains a matching row (copy-on-write — O(file bytes)
  * per touched file), commit a deletion-vector bitmap per touched file
  * (O(matching rows) — KBs for selective deletes on TB files). Activated
  * by the table property `delta.enableDeletionVectors=true`, Delta's own
  * switch; tables without it keep the copy-on-write path.
  *
  * This object only PLANS: `planMarkDeleted` (TxTable's DELETE/UPDATE)
  * and `planDvMarks` (shared with TxMerge's merge-on-read MERGE) hand a
  * TxTable.Planned to TxTable.commitWithRetryIf, and
  * ForeignDeltaCommitLog.tryCommit writes the version like any other.
  * A merge-on-read UPDATE marks the matching rows' positions in the
  * files' deletion vectors and ONE appended file set carries the updated
  * versions — an UPDATE of 10 rows in a 1 GB file commits a bitmap plus
  * a 10-row file, never a rewrite.
  *
  * Scale shape: candidate files come from manifest stats pruning; the scan
  * for matching row positions is a distributed filter with pushdown; the
  * per-file bitmaps are BUILT ON EXECUTORS (groupByKey over only the
  * matching rows) and the driver receives one compact serialized bitmap
  * per touched file — bounded by deleted-row count, never by table size.
  */
object DeltaDvWriter {

  /** True when the table asks for merge-on-read deletes. */
  def enabled(props: Map[String, String]): Boolean =
    props.get("delta.enableDeletionVectors").exists(_.equalsIgnoreCase("true"))

  /** Per-file deletion bitmaps for `marks` (rows carrying the
    * FileMetaCol/RowMetaCol provenance columns), merged with the files'
    * existing DVs. Returns (paths to remove, re-adds with their new DV) —
    * files whose every physical row is now deleted come back as a plain
    * remove.
    *
    * Fully distributed: bitmaps are built per touched file on executors
    * (groupByKey over only the matching rows), merged with the files'
    * pre-existing DVs there, and the `.bin` DV files are WRITTEN FROM THE
    * EXECUTORS — one file per task packing its files' bitmaps. The driver
    * receives only O(bytes-per-descriptor) metadata, so a DELETE touching
    * millions of files (or dense bitmaps over billions of rows) never
    * funnels bitmap bytes through driver memory.
    */
  private[tables] def planDvMarks(spark: SparkSession, location: String,
      candidates: Seq[TxLog.AddFile], marks: DataFrame): Option[(Seq[String], Seq[TxLog.AddFile])] = {
    import spark.implicits._
    val matches = marks
      .select(col(DeltaLog.FileMetaCol), col(DeltaLog.RowMetaCol))
      .as[(String, Long)]
    // per-file metadata the executors need: existing DV descriptor (to OR
    // in earlier deletions) and the physical row count (to detect
    // fully-deleted files) — KBs per file, metadata-sized
    val hconf = spark.sessionState.newHadoopConf()
    val fileMeta: Map[String, (Option[DeletionVectors.Descriptor], Long)] =
      candidates.map(a => DeletionVectors.normalizedAbs(hconf, location, a.path) ->
        (a.deletionVector, a.rows)).toMap
    val bcMeta = spark.sparkContext.broadcast(fileMeta)
    val bcConf = spark.sparkContext.broadcast(new SerializableHadoopConf(hconf))
    val tableLoc = location
    // (abs path, storageType|null = fully deleted, pathOrInlineDv,
    //  offset | -1, sizeInBytes, cardinality)
    val results: Array[(String, String, String, Int, Int, Long)] = matches
      .groupByKey { case (p, _) => DeletionVectors.normalizedUri(p) }
      .mapGroups { (abs, it) =>
        val bm = new DeletionVectors.Bitmap64
        it.foreach { case (_, i) => bm.add(i) }
        (abs, bm.serialize)
      }
      .mapPartitions { it =>
        val conf = bcConf.value.value
        val merged = it.map { case (abs, bytes) =>
          val (existing, physRows) = bcMeta.value.getOrElse(abs,
            throw new IllegalStateException(s"DV mark on unknown file $abs"))
          val bm = DeletionVectors.Bitmap64.deserialize(bytes)
          // a file deleted from before keeps its earlier deletions
          existing.foreach(d => bm.or(DeletionVectors.readBitmap(conf, tableLoc, d)))
          (abs, bm, physRows)
        }.toSeq
        // fully-deleted files need no DV — plain removes
        val (full, partial) = merged.partition { case (_, bm, n) => n >= 0 && bm.cardinality >= n }
        val descs =
          if (partial.isEmpty) Seq.empty
          else DeletionVectors.writeDvFile(conf, tableLoc, partial.map(_._2))
        full.iterator.map { case (abs, _, _) => (abs, null: String, null: String, -1, 0, 0L) } ++
          partial.zip(descs).iterator.map { case ((abs, _, _), d) =>
            (abs, d.storageType, d.pathOrInlineDv, d.offset.getOrElse(-1), d.sizeInBytes, d.cardinality)
          }
      }.collect()
    if (results.isEmpty) return None
    val byAbs = candidates.map(a =>
      DeletionVectors.normalizedAbs(hconf, location, a.path) -> a).toMap
    val dvAdds = results.toSeq.collect { case (abs, st, pd, off, size, card) if st != null =>
      byAbs(abs).copy(deletionVector = Some(DeletionVectors.Descriptor(
        st, pd, if (off < 0) None else Some(off), size, card)))
    }
    Some((results.toSeq.map(r => byAbs(r._1).path), dvAdds))
  }

  /** Plans one merge-on-read attempt against `snap`: the predicate's rows
    * join their files' deletion vectors; for UPDATE (`set` defined) their
    * transformed versions are staged as new files in the same commit.
    * Returns the commit with the candidate files' paths (the stats fold's
    * removed set), or None when no row matches. ForeignDeltaCommitLog's
    * tryCommit writes it — ICT, row-tracking stamps, the metaData line for
    * freshly minted materialized-column names and the protocol upgrade
    * that permits DVs included. A lost version race orphans the staged
    * files and .bin files harmlessly (vacuum reclaims them past
    * retention; the next attempt writes fresh UUIDs).
    */
  private[tables] def planMarkDeleted(spark: SparkSession, location: String,
      snap: TxLog.Snapshot, predicate: String,
      set: Option[Map[String, String]]): Option[(TxTable.Planned, Seq[String])] = {
    import org.apache.spark.sql.functions.{coalesce, expr}
    val candidates = FileStats.survivingFiles(spark, snap, predicate)
    if (candidates.isEmpty) return None
    // UPDATE on a row-tracked table: the staged replacement rows must
    // carry their original row ids (materialized), so read them alongside
    // the provenance columns; DELETE only marks bits — files keep their
    // baseRowId, nothing to materialize
    val tracked = set.isDefined && RowTracking.enabled(snap.properties)
    val df =
      if (tracked) DeltaLog.withRowIds(spark, location, snap.copy(files = candidates))
      else ForeignDeltaCommitLog.liveRows(spark, location, snap.copy(files = candidates),
        withMeta = true)
    val matchesWithMeta = df.filter(coalesce(expr(predicate), lit(false)))
    val (removedPaths, dvAdds) = planDvMarks(spark, location, candidates, matchesWithMeta)
      .getOrElse(return None) // nothing matched after row-level filtering
    // UPDATE: stage the transformed matching rows (original values feed
    // every SET expression; all staged rows matched, so no conditional).
    // Updated rows KEEP their row id; the commit version goes fresh (null
    // materialized -> the new add's defaultRowCommitVersion).
    val snapFields = snap.schema.fieldNames
    var props = snap.properties
    val updatedOpt = set.map { s =>
      s.keys.find(k => !snapFields.contains(k)).foreach { k =>
        throw graft.catalog.UnsupportedOperationError(s"UPDATE: unknown column $k")
      }
      val out = matchesWithMeta.select(snapFields.map { c =>
        s.get(c) match {
          case Some(e) => expr(e).cast(snap.schema(c).dataType).as(c)
          case None => col(c)
        }
      }.toIndexedSeq ++ (if (tracked) Seq(col(RowTracking.RowIdCol)) else Seq.empty): _*)
      if (!tracked) out
      else {
        val (p2, ridName, rcvName) = RowTracking.ensureMaterializedNames(props)
        props = p2
        out.withColumnRenamed(RowTracking.RowIdCol, ridName)
          .withColumn(rcvName, lit(null).cast("long"))
      }
    }
    val newAdds = updatedOpt.fold(Seq.empty[TxLog.AddFile]) { updated =>
      DeltaLogWriter.stageForDelta(spark, location,
        Constraints.enforce(GeneratedColumns.validate(updated, snap.schema),
          props, snap.schema), snap.copy(properties = props))
    }
    // CDF: the marked rows out (delete / update_preimage), the staged
    // updates in (update_postimage) — same commit, cdc actions
    val cdcAdds =
      if (!DeltaCdf.enabled(snap.properties)) Seq.empty
      else {
        val pre = matchesWithMeta
          .select(snapFields.map(c => col(s"`$c`")).toIndexedSeq: _*)
        val changes = updatedOpt match {
          case None => DeltaCdf.tagged(pre, "delete")
          case Some(updated) => DeltaCdf.tagged(pre, "update_preimage")
            .unionByName(DeltaCdf.tagged(
              updated.select(snapFields.map(c => col(s"`$c`")).toIndexedSeq: _*),
              "update_postimage"))
        }
        DeltaCdf.stageCdc(spark, location, changes, snap)
      }
    Some((TxTable.Planned(dvAdds ++ newAdds, removedPaths, snap.schema,
      snap.partitionColumns, props, cdcAdds), candidates.map(_.path)))
  }
}
