package graft.tables

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, expr}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.catalog.UnsupportedOperationError

/** Interop with the Apache Iceberg table format (the OTHER half of the
  * north star's "Delta/Iceberg"), implemented against the published spec
  * (iceberg.apache.org/spec — format versions 1 and 2) with no Iceberg
  * dependency:
  *
  *   - `metadata/vN.metadata.json` (+ `version-hint.text`) — table schema
  *     (id-addressed fields), partition specs, snapshots, snapshot-log;
  *   - manifest LISTS and manifest FILES are Avro container files, read
  *     driver-side with plain GenericRecord streams (they are
  *     metadata-sized, exactly like the Delta JSON log);
  *   - data files are parquet, planned as one distributed scan; per-file
  *     partition values (identity transforms) and lower/upper bounds from
  *     the manifests feed the SAME FileStats pruner the Delta paths use,
  *     so `scan(predicate)` skips files before Spark sees them;
  *   - v2 POSITION deletes (content=1 manifests → parquet files of
  *     (file_path, pos)) and EQUALITY deletes (content=2, read AND
  *     written) fold into per-data-file deletion-vector descriptors on
  *     the snapshot (IcebergCommitLog.snapshotOf), which every read
  *     applies through the one DV filter of CommitLog.liveRows.
  *     Position deletes name explicit data-file paths, so applying every
  *     live delete file to its named data file matches the spec's
  *     sequence-number rule for non-reused paths; equality deletes are
  *     located by one key-matched, sequence-scoped scan per snapshot
  *     (equalityVictimPositions) under the spec's strictly-smaller rule
  *     (per-file data sequence numbers tracked in IceState.dataSeq), so
  *     later re-inserts of a deleted key survive; compaction retires the
  *     cost.
  *
  * Scale posture mirrors DeltaLog: snapshot state is file metadata only;
  * the data read is a manifest-planned distributed parquet scan (no
  * directory listing); delete positions are bounded by deleted-row count
  * (the DV argument), and the read broadcasts one descriptor per file.
  */
object IcebergLog {

  private implicit val formats: Formats = DefaultFormats

  def metadataDir(location: String): Path = new Path(location, "metadata")

  private[tables] def fs(spark: SparkSession, location: String): FileSystem =
    new Path(location).getFileSystem(spark.sessionState.newHadoopConf())

  def isIcebergTable(spark: SparkSession, location: String): Boolean = {
    val f = fs(spark, location)
    val dir = metadataDir(location)
    f.exists(dir) && f.listStatus(dir).exists(_.getPath.getName.endsWith(".metadata.json"))
  }

  /** Highest-version metadata file — `version-hint.text` when present
    * (the HadoopCatalog convention), else the max vN lexicographic scan.
    * The hint is only a hint: committers rewrite it after their publish,
    * so under concurrent commits it can trail the newest version or be
    * caught mid-rewrite — when it is unreadable, or the version after the
    * hinted one exists, the scan decides.
    */
  private[tables] def currentMetadataPath(f: FileSystem, location: String): Path = {
    val dir = metadataDir(location)
    val hint = new Path(dir, "version-hint.text")
    val hinted =
      try {
        val in = f.open(hint)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLongOption
        finally in.close()
      } catch { case _: java.io.IOException => None }
    def at(v: Long) = new Path(dir, s"v$v.metadata.json")
    hinted.filter(v => f.exists(at(v)) && !f.exists(at(v + 1))).map(at).getOrElse {
      f.listStatus(dir).map(_.getPath)
        .filter(_.getName.endsWith(".metadata.json"))
        .sortBy { p =>
          p.getName.stripSuffix(".metadata.json").stripPrefix("v").toLongOption.getOrElse(-1L)
        }
        .lastOption
        .getOrElse(throw graft.catalog.DoesNotExistError(s"no Iceberg metadata at $location"))
    }
  }

  private[tables] def readJson(f: FileSystem, p: Path): JValue = {
    val in = f.open(p)
    try JsonMethods.parse(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
    finally in.close()
  }

  // ---- Iceberg schema JSON -> Spark ----

  private[tables] def toSparkType(t: JValue): DataType = t match {
    case JString(s) => s match {
      case "boolean" => BooleanType
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "date" => DateType
      case "timestamp" => TimestampNTZType   // no zone
      case "timestamptz" => TimestampType    // UTC-adjusted
      case "string" => StringType
      case "uuid" => StringType
      case "binary" => BinaryType
      case dec if dec.startsWith("decimal(") =>
        val inner = dec.stripPrefix("decimal(").stripSuffix(")").split(",").map(_.trim)
        DecimalType(inner(0).toInt, inner(1).toInt)
      case fixed if fixed.startsWith("fixed[") => BinaryType
      case other => throw UnsupportedOperationError(s"iceberg: unsupported type '$other'")
    }
    case obj: JObject => (obj \ "type") match {
      case JString("struct") => structOf(obj)
      case JString("list") =>
        ArrayType(toSparkType(obj \ "element"),
          containsNull = !(obj \ "element-required").extractOrElse[Boolean](false))
      case JString("map") =>
        MapType(toSparkType(obj \ "key"), toSparkType(obj \ "value"),
          valueContainsNull = !(obj \ "value-required").extractOrElse[Boolean](false))
      case other => throw UnsupportedOperationError(s"iceberg: unsupported nested type $other")
    }
    case other => throw UnsupportedOperationError(s"iceberg: unparseable type $other")
  }

  private[tables] def structOf(schema: JValue): StructType =
    StructType((schema \ "fields").extract[Seq[JValue]].map { f =>
      StructField(
        (f \ "name").extract[String],
        toSparkType(f \ "type"),
        nullable = !(f \ "required").extractOrElse[Boolean](false))
    })

  /** The current schema JSON of a metadata document (schemas +
    * current-schema-id, falling back to the v1 top-level `schema` field).
    */
  private[tables] def currentSchemaJson(meta: JValue): JValue = {
    val cur = (meta \ "current-schema-id").extractOpt[Int]
    cur.flatMap { id =>
      (meta \ "schemas").extractOpt[Seq[JValue]]
        .flatMap(_.find(s => (s \ "schema-id").extractOpt[Int].contains(id)))
    }.getOrElse(meta \ "schema")
  }

  private[tables] def currentSchema(meta: JValue): StructType =
    structOf(currentSchemaJson(meta))

  /** The Spark schema of an Iceberg schema JSON with each TOP-LEVEL
    * field's Iceberg id attached as `parquet.field.id` metadata. Spark's
    * parquet writer stamps the ids into data-file footers and, with
    * `spark.sql.parquet.fieldId.read.enabled`, resolves columns BY ID —
    * the spec's column-resolution rule, which is what makes renames by
    * any engine safe against historical files. Top level ONLY, on both
    * the write and read paths symmetrically: Spark's parquet bridge
    * cannot express list/map ELEMENT ids at all, so nested levels stay
    * id-less and resolve by name in every era (nested renames by foreign
    * engines are the documented residual limit).
    */
  private[tables] def schemaWithFieldIds(schemaJson: JValue): StructType =
    StructType((schemaJson \ "fields").extract[Seq[JValue]].map { f =>
      StructField(
        (f \ "name").extract[String],
        toSparkType(f \ "type"),
        nullable = !(f \ "required").extractOrElse[Boolean](false),
        new MetadataBuilder()
          .putLong("parquet.field.id", (f \ "id").extract[Int].toLong).build())
    })

  /** Was any top-level column EVER known under a different name (same
    * field id) in the metadata's schema history? When true, name-based
    * parquet resolution would silently null out renamed columns in files
    * written before the rename — the read must resolve by field id.
    */
  private[tables] def renamedEver(meta: JValue): Boolean = {
    val current = topFields(meta).map { case (id, n, _) => id -> n }.toMap
    val currentByName = topFields(meta).map { case (id, n, _) => n -> id }.toMap
    (meta \ "schemas").extractOpt[Seq[JValue]].getOrElse(Seq.empty).exists { s =>
      (s \ "fields").extractOpt[Seq[JValue]].getOrElse(Seq.empty).exists { f =>
        (for {
          id <- (f \ "id").extractOpt[Int]
          n <- (f \ "name").extractOpt[String]
        } yield current.get(id).exists(_ != n) ||
          // a historical name now bound to a DIFFERENT id (drop +
          // re-add): name resolution would resurrect the dropped bytes
          // from old files — id resolution reads them as NULL
          currentByName.get(n).exists(_ != id)).getOrElse(false)
      }
    }
  }

  /** Does the CURRENT metadata's schema history contain any top-level
    * rename? (BloomIndex's enable-time soundness gate: a historical
    * rename means an old data file may bind a column name to a
    * different field id than today's.)
    */
  private[tables] def hasRenamedHistory(spark: SparkSession, location: String): Boolean =
    renamedEver(stateAt(spark, location, None).meta)

  /** Parquet read schema for a table state: plain names normally (works
    * for id-less and id-bearing files alike); id-attached with Spark's
    * fieldId resolution turned on once a rename exists in the schema
    * history. Id-LESS data files in a renamed table resolve through the
    * name mapping instead — see `readData`.
    */
  private[tables] def readSchemaFor(spark: SparkSession, meta: JValue,
      schema: StructType): StructType =
    if (!renamedEver(meta)) schema
    else {
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
      schemaWithFieldIds(currentSchemaJson(meta))
    }

  /** Historical top-level names per field id: from the
    * `schema.name-mapping.default` property when present (the spec's
    * authoritative mapping for id-less files), else derived from the
    * schemas history — every name a field id was ever known under.
    */
  private[tables] def nameMapping(meta: JValue): Map[Int, Seq[String]] = {
    (meta \ "properties" \ "schema.name-mapping.default").extractOpt[String] match {
      case Some(json) => JsonMethods.parse(json) match {
        case JArray(entries) => entries.flatMap { e =>
          for (id <- (e \ "field-id").extractOpt[Int])
            yield id -> (e \ "names").extractOrElse[Seq[String]](Seq.empty)
        }.toMap
        case _ => Map.empty
      }
      case None =>
        (meta \ "schemas").extractOpt[Seq[JValue]]
          .getOrElse(Seq(currentSchemaJson(meta)))
          .flatMap(s => (s \ "fields").extractOrElse[Seq[JValue]](Seq.empty))
          .flatMap(f => for {
            id <- (f \ "id").extractOpt[Int]
            n <- (f \ "name").extractOpt[String]
          } yield id -> n)
          .groupBy(_._1).map { case (id, ns) => id -> ns.map(_._2).distinct }
    }
  }

  /** Top-level footer shape of one parquet file: (every field carries a
    * parquet field id, field names). Metadata-only — reads the footer,
    * never a page. Runs on executors from `readData`.
    */
  private[tables] def footerTopLevel(conf: org.apache.hadoop.conf.Configuration,
      path: String): (Boolean, Seq[String]) = {
    val r = FileStats.openFooter(conf, new Path(path))
    try {
      val fields = r.getFileMetaData.getSchema.getFields.asScala.toSeq
      (fields.nonEmpty && fields.forall(_.getId != null), fields.map(_.getName))
    } finally r.close()
  }

  /** Footer shapes of data files, cached for the life of the JVM:
    * Iceberg data files are IMMUTABLE once written, so a file's
    * (hasIds, topLevelNames) pair never changes and each file is
    * sniffed at most once per process regardless of how many plannings
    * touch it. The key includes the manifest's file SIZE so a foreign
    * engine replacing a file in place (spec-illegal but observed in the
    * wild, e.g. a repair rewriting bytes at the same path) busts the
    * entry without any extra IO — the size rides the AddFile we already
    * hold. Deliberately NOT persisted into table properties — scan
    * planning is a READ path and must not commit metadata to tables
    * other engines own (write amplification + commit races for zero
    * gain over a driver-local cache).
    */
  private val footerCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Boolean, Seq[String])]()

  /** Per-path count of individual file-footer sniffs (cache misses) —
    * observable by specs asserting repeated plannings sniff each file
    * exactly once (per-path so concurrently-running suites over other
    * tables can't perturb the assertion).
    */
  private[tables] val footerSniffCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def noteSniff(p: String): Unit =
    footerSniffCounts.merge(p, 1L, (a, b) => a + b)

  private def footerKey(f: TxLog.AddFile): String = s"${f.path}#${f.sizeBytes}"

  private def footerCached(conf: org.apache.hadoop.conf.Configuration,
      f: TxLog.AddFile): (Boolean, Seq[String]) =
    footerCache.computeIfAbsent(footerKey(f), { _ =>
      noteSniff(f.path)
      footerTopLevel(conf, f.path)
    })

  /** Schema'd scan over Iceberg data files, one LogFileIndex relation
    * per physical read schema. One plain name-resolved relation on a
    * table that never renamed. After a rename, files split by footer
    * shape (inspected on EXECUTORS — one (hasIds, names) pair per file
    * reaches the driver): id-bearing files resolve by parquet field id;
    * id-LESS files (foreign writers, imported tables) resolve through
    * the name mapping, one relation per rename era, with fields absent
    * from a file read as null — the spec's "Column Projection" + "Name
    * Mapping Serialization" rules, matching how iceberg-java reads such
    * files.
    *
    * Identity-partitioned source columns MISSING from the data files
    * (hive-migrated tables, dual-format publishes over hive-layout
    * files) come from the manifest's partition values, per the spec's
    * Column Projection rule #2: they are the relation's partition
    * columns. Detection costs one driver footer read of the first file.
    * So are snapshot partition columns the table metadata does not
    * define (a change feed's commit tags, LogFileIndex.tagged).
    * `snap` supplies the schema and the pruning context.
    */
  private[tables] def readData(spark: SparkSession, meta: JValue, snap: TxLog.Snapshot,
      files: Seq[TxLog.AddFile], metaSel: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val schema = snap.schema
    val location = (meta \ "location").extract[String]
    val transforms = transformFieldsOf(meta).filter { case (_, _, src) =>
      schema.fieldNames.contains(src) }
    val tableCols = topFields(meta).map(_._2).toSet
    val tags = StructType(schema.fields.filter(f =>
      snap.partitionColumns.contains(f.name) && !tableCols.contains(f.name)))
    def relation(fs: Seq[TxLog.AddFile], data: StructType,
        parts: StructType = tags, names: Map[String, String] = Map.empty) =
      LogFileIndex.read(spark, location, snap, fs, data, parts, transforms, names)
    def sel(df: DataFrame) =
      df.select(schema.fieldNames.toIndexedSeq.map(col) ++ metaSel: _*)
    if (!renamedEver(meta)) {
      val identityCols = identityPartCols(meta).filter(schema.fieldNames.contains)
      val missing =
        if (identityCols.isEmpty) Seq.empty
        else {
          val firstNames =
            footerCached(spark.sessionState.newHadoopConf(), files.head)._2.toSet
          identityCols.filterNot(firstNames.contains)
        }
      val (parts, data) = schema.fields.partition(f =>
        missing.contains(f.name) || tags.fieldNames.contains(f.name))
      return sel(relation(files, StructType(data), StructType(parts)))
    }
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val idSchema = schemaWithFieldIds(currentSchemaJson(meta))
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    // only cache MISSES are sniffed, in one distributed pass sized to
    // the cluster (defaultParallelism tasks, not a fixed cap of 64 —
    // footer reads are tiny metadata IOs and scale with executors)
    val keyOf = files.map(f => f.path -> footerKey(f)).toMap
    val todo = files.map(_.path).filter(p => !footerCache.containsKey(keyOf(p)))
    val sniffed =
      if (todo.isEmpty) Seq.empty
      else {
        todo.foreach(noteSniff)
        spark.sparkContext
          .parallelize(todo, math.max(1,
            math.min(todo.size, spark.sparkContext.defaultParallelism)))
          .map(p => (p, footerTopLevel(hconf.value, p))).collect().toSeq
      }
    sniffed.foreach { case (p, v) => footerCache.put(keyOf(p), v) }
    val info = files.map(f => f -> footerCache.get(keyOf(f.path)))
    val (withIds, idless) = info.partition(_._2._1)
    val mapping = nameMapping(meta)
    val fields = topFields(meta)
    val parts = Seq.newBuilder[DataFrame]
    if (withIds.nonEmpty)
      parts += sel(relation(withIds.map(_._1), idSchema))
    // id-less files group by their resolved historical-name vector (one
    // relation per rename era, not per file)
    idless.groupBy { case (_, (_, names)) =>
      fields.map { case (id, cur, _) =>
        mapping.getOrElse(id, Seq(cur)).find(names.contains).orNull
      }
    }.foreach { case (vector, eraFiles) =>
      val read = fields.zip(vector).collect {
        case ((_, cur, dt), src) if src != null => (src, cur, dt)
      }
      val base = relation(eraFiles.map(_._1),
        StructType(read.map { case (src, _, dt) => StructField(src, dt) }),
        names = read.map { case (src, cur, _) => src -> cur }.toMap)
      val cols = fields.zip(vector).map {
        case ((_, cur, dt), src) =>
          if (src == null) org.apache.spark.sql.functions.lit(null).cast(dt).as(cur)
          else col(s"`$src`").as(cur)
      }
      parts += base.select(cols ++ tags.fieldNames.map(col) ++ metaSel: _*)
    }
    parts.result().reduce(_.unionAll(_))
  }

  /** The DEFAULT sort order's identity fields as (column, ascending)
    * pairs — empty for order 0 (unsorted) or when the default order id
    * resolves to nothing. Non-identity sort transforms are skipped (we
    * can only sort by what we can evaluate; partial honoring of a
    * foreign order is spec-legal since sort order is advisory layout).
    */
  private[tables] def sortOrderFields(meta: JValue): Seq[(String, Boolean)] = {
    val oid = (meta \ "default-sort-order-id").extractOrElse[Int](0)
    if (oid == 0) return Seq.empty
    val byId = topFields(meta).map { case (id, n, _) => id -> n }.toMap
    (meta \ "sort-orders").extractOrElse[Seq[JValue]](Seq.empty)
      .find(o => (o \ "order-id").extractOpt[Int].contains(oid))
      .map { o =>
        (o \ "fields").extractOrElse[Seq[JValue]](Seq.empty).flatMap { f =>
          for {
            _ <- (f \ "transform").extractOpt[String].filter(_ == "identity")
            src <- (f \ "source-id").extractOpt[Int]
            n <- byId.get(src)
          } yield n -> ((f \ "direction").extractOrElse[String]("asc") == "asc")
        }
      }.getOrElse(Seq.empty)
  }

  /** Top-level (field-id, name, type) of the current schema — the
    * address space bounds and partition source-ids live in.
    */
  private[tables] def topFields(meta: JValue): Seq[(Int, String, DataType)] =
    (currentSchemaJson(meta) \ "fields").extract[Seq[JValue]].map { f =>
      ((f \ "id").extract[Int], (f \ "name").extract[String], toSparkType(f \ "type"))
    }

  // ---- partition specs ----

  private[tables] final case class SpecField(name: String, transform: String, sourceId: Int)

  /** A spec field resolved against the live schema, ready to stage by. */
  private[tables] final case class ResolvedSpecField(
      name: String, t: IceTransforms.T, source: String, sourceType: DataType) {
    def resultType: DataType = IceTransforms.resultType(t, sourceType)
  }

  /** spec-id → fields, from v2 `partition-specs` with the v1 top-level
    * `partition-spec` as the spec-0 fallback.
    */
  private[tables] def specsById(meta: JValue): Map[Int, Seq[SpecField]] = {
    def fieldsOf(v: JValue): Seq[SpecField] =
      v.extractOrElse[Seq[JValue]](Seq.empty).map { f =>
        SpecField((f \ "name").extract[String], (f \ "transform").extract[String],
          (f \ "source-id").extract[Int])
      }
    val v2 = (meta \ "partition-specs").extractOrElse[Seq[JValue]](Seq.empty).map { s =>
      (s \ "spec-id").extractOrElse[Int](0) -> fieldsOf(s \ "fields")
    }.toMap
    if (v2.nonEmpty) v2 else Map(0 -> fieldsOf(meta \ "partition-spec"))
  }

  /** Source column names of the DEFAULT spec's identity fields — the
    * partition columns this table prunes on (non-identity transforms are
    * ignored for pruning, which is always safe).
    */
  private[tables] def identityPartCols(meta: JValue): Seq[String] = {
    val byId = topFields(meta).map { case (id, n, _) => id -> n }.toMap
    val defaultSpec = (meta \ "default-spec-id").extractOrElse[Int](0)
    specsById(meta).getOrElse(defaultSpec, Seq.empty)
      .filter(_.transform == "identity").flatMap(f => byId.get(f.sourceId))
  }

  // ---- snapshots ----

  private[tables] final case class IceSnapshot(
      snapshotId: Long, timestampMs: Long, manifestList: String)

  private[tables] def snapshots(meta: JValue): Seq[IceSnapshot] =
    (meta \ "snapshots").extractOrElse[Seq[JValue]](Seq.empty).map { s =>
      IceSnapshot(
        (s \ "snapshot-id").extract[Long],
        (s \ "timestamp-ms").extractOrElse[Long](0L),
        (s \ "manifest-list").extract[String])
    }

  /** A position-delete file planned from a content=1 manifest. */
  private[tables] final case class IceFile(
      content: Int, path: String, format: String, records: Long, bytes: Long,
      seq: Long = 0L, equalityIds: Seq[Int] = Nil)

  /** Read every avro record of a metadata-sized container file. */
  private[tables] def readAvro(f: FileSystem, p: Path): Seq[GenericRecord] = {
    val in = f.open(p)
    try {
      val stream = new DataFileStream(in, new GenericDatumReader[GenericRecord]())
      try {
        val out = Seq.newBuilder[GenericRecord]
        while (stream.hasNext) out += stream.next()
        out.result()
      } finally stream.close()
    } finally in.close()
  }

  private def str(v: Any): String = if (v == null) null else v.toString

  /** Schema-checked optional field read — GenericData.Record.get(name)
    * THROWS on absent fields (foreign manifests vary by writer version).
    */
  private def opt(r: GenericRecord, name: String): Option[AnyRef] =
    if (r.getSchema.getField(name) == null) None else Option(r.get(name))

  /** Resolve a manifest-recorded absolute URI/path against the table. */
  private[tables] def resolve(location: String, filePath: String): Path = {
    val p = new Path(filePath)
    if (p.isAbsolute || filePath.contains("://")) p else new Path(location, filePath)
  }

  // ---- bound decoding (spec Appendix D "Single-value serialization") ----

  private def bytesOf(v: Any): Array[Byte] = v match {
    case b: ByteBuffer =>
      val d = b.duplicate(); val out = new Array[Byte](d.remaining()); d.get(out); out
    case a: Array[Byte] => a
    case f: org.apache.avro.generic.GenericFixed => f.bytes()
    case other => throw new IllegalArgumentException(s"unexpected bound value $other")
  }

  /** An int-keyed long-valued stats map (value_counts /
    * null_value_counts) in either Avro spelling.
    */
  private def longMapOf(v: Any): Map[Int, Long] = v match {
    case null => Map.empty
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, x) =>
        k.toString.toInt -> x.asInstanceOf[Number].longValue
      }.toMap
    case l: java.util.List[_] =>
      l.asScala.collect { case r: GenericRecord =>
        r.get("key").asInstanceOf[Number].intValue ->
          r.get("value").asInstanceOf[Number].longValue
      }.toMap
    case _ => Map.empty
  }

  /** A manifest `lower_bounds`/`upper_bounds` value: an Avro map when the
    * writer used string keys, an array of {key,value} records otherwise
    * (how Avro serializes int-keyed maps).
    */
  private def boundsOf(v: Any): Map[Int, Array[Byte]] = v match {
    case null => Map.empty
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, b) => k.toString.toInt -> bytesOf(b) }.toMap
    case l: java.util.List[_] =>
      l.asScala.collect { case r: GenericRecord =>
        r.get("key").asInstanceOf[Number].intValue -> bytesOf(r.get("value"))
      }.toMap
    case other => throw new IllegalArgumentException(s"unexpected bounds container $other")
  }

  /** Decode one bound into the FileStats string convention (numbers as
    * decimal strings, DATE as epoch days, TIMESTAMP as epoch micros,
    * strings raw). Unknown/undecodable → None (prune conservatively).
    */
  private[tables] def decodeBound(dt: DataType, b: Array[Byte]): Option[String] = {
    def le = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    try dt match {
      case IntegerType | ShortType | ByteType => Some(le.getInt.toString)
      case LongType => Some(le.getLong.toString)
      case FloatType => Some(le.getFloat.toString)
      case DoubleType => Some(le.getDouble.toString)
      case DateType => Some(le.getInt.toString)
      case TimestampType | TimestampNTZType => Some(le.getLong.toString)
      case StringType => Some(new String(b, UTF_8))
      case d: DecimalType =>
        Some(new java.math.BigDecimal(new java.math.BigInteger(b), d.scale).toPlainString)
      case BooleanType => Some((b.nonEmpty && b(0) != 0).toString)
      case _ => None
    } catch { case NonFatal(_) => None }
  }

  /** A partition-record value into the same string convention (Avro stores
    * date as int days, timestamps as long micros — both already what the
    * pruner's comparators parse).
    */
  private def partitionString(v: Any): Option[String] = Option(v).map(_.toString)

  /** Live files of a snapshot: walk its manifest list, then each
    * manifest's entries, keeping status != 2 (DELETED). Data files come
    * back as TxLog.AddFile (absolute path, identity partition values,
    * decoded bounds) so the shared FileStats pruner applies; position
    * deletes as IceFile; equality deletes raise.
    */
  private[tables] def liveFiles(spark: SparkSession, location: String, meta: JValue,
      snap: IceSnapshot): (Seq[TxLog.AddFile], Seq[IceFile], Map[String, Long]) = {
    val f = fs(spark, location)
    val fields = topFields(meta)
    val byId = fields.map { case (id, n, dt) => id -> ((n, dt)) }.toMap
    val specs = specsById(meta)
    val manifests = readAvro(f, resolve(location, snap.manifestList)).map { r =>
      val path = str(r.get("manifest_path"))
      val content = Option(r.get("content")).map(_.asInstanceOf[Number].intValue).getOrElse(0)
      val specId = Option(r.get("partition_spec_id")).map(_.asInstanceOf[Number].intValue).getOrElse(0)
      val mlSeq = opt(r, "sequence_number").map(_.asInstanceOf[Number].longValue).getOrElse(0L)
      (path, content, specId, mlSeq)
    }
    val data = Seq.newBuilder[TxLog.AddFile]
    val deletes = Seq.newBuilder[IceFile]
    val dataSeq = Map.newBuilder[String, Long]
    manifests.foreach { case (mPath, mContent, specId, mlSeq) =>
      // identity fields of THIS manifest's spec, resolved to live columns
      val specFields = specs.getOrElse(specId, Seq.empty)
      val identity = specFields.filter(_.transform == "identity")
        .flatMap(sf => byId.get(sf.sourceId).map { case (n, _) => sf.name -> n })
      // hidden-partitioning fields keep their TRANSFORMED value under the
      // spec field name (spec names never collide with schema columns, so
      // FileStats ignores them; IceTransforms projects predicates onto them)
      val transformed = specFields
        .filter(sf => sf.transform != "identity" && sf.transform != "void").map(_.name)
      readAvro(f, resolve(location, mPath)).foreach { entry =>
        val status = Option(entry.get("status")).map(_.asInstanceOf[Number].intValue).getOrElse(0)
        // spec inheritance: a null sequence_number on an ADDED entry takes
        // the manifest-list entry's sequence number
        val entrySeq = opt(entry, "sequence_number")
          .map(_.asInstanceOf[Number].longValue).getOrElse(mlSeq)
        if (status != 2) {
          val df = entry.get("data_file").asInstanceOf[GenericRecord]
          val content = Option(df.get("content")).map(_.asInstanceOf[Number].intValue)
            .getOrElse(mContent)
          val format = str(df.get("file_format"))
          if (!"parquet".equalsIgnoreCase(format))
            throw UnsupportedOperationError(s"iceberg: file_format '$format' is not supported")
          val path = resolve(location, str(df.get("file_path"))).toString
          val records = Option(df.get("record_count")).map(_.asInstanceOf[Number].longValue).getOrElse(-1L)
          val bytes = Option(df.get("file_size_in_bytes")).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
          content match {
            case 0 =>
              val partRec = df.get("partition") match {
                case r: GenericRecord => Some(r)
                case _ => None
              }
              val partValues = partRec.map { r =>
                def raw(specName: String): Any =
                  if (r.getSchema.getField(specName) == null) null else r.get(specName)
                identity.flatMap { case (specName, colName) =>
                  // a PRESENT field holding avro null is a REAL null
                  // partition value (the writer serializes the hive
                  // sentinel as null per the spec's single-value form)
                  // and must surface as colName -> null: dropping the
                  // key made every null-partition file UNDECIDABLE to
                  // the partition-predicate evaluator, silently
                  // degrading whole-partition DELETEs to merge-on-read
                  // (and bailing the stats-layer keeps) on any Iceberg
                  // table with a null partition. A field ABSENT from
                  // the record's schema (an older spec) stays unknown —
                  // key omitted.
                  if (r.getSchema.getField(specName) == null) None
                  else Some(colName -> partitionString(r.get(specName)).orNull)
                }.toMap ++
                  transformed.flatMap(n => partitionString(raw(n)).map(n -> _)).toMap
              }.getOrElse(Map.empty)
              def decoded(fieldName: String): Option[Map[String, String]] = {
                val m = boundsOf(if (df.getSchema.getField(fieldName) == null) null
                  else df.get(fieldName))
                val out = m.flatMap { case (id, bs) =>
                  byId.get(id).flatMap { case (n, dt) => decodeBound(dt, bs).map(n -> _) }
                }
                if (out.isEmpty) None else Some(out)
              }
              val nullCounts = {
                val raw = if (df.getSchema.getField("null_value_counts") == null) null
                  else df.get("null_value_counts")
                val m = longMapOf(raw).flatMap { case (id, c) =>
                  byId.get(id).map { case (n, _) => n -> c }
                }
                if (m.isEmpty) None else Some(m)
              }
              data += TxLog.AddFile(path, partValues, records, bytes,
                decoded("lower_bounds"), decoded("upper_bounds"), nullCounts)
              dataSeq += path -> entrySeq
            case 1 => deletes += IceFile(content, path, format, records, bytes, entrySeq)
            case 2 =>
              // equality delete: rows match on the equality_ids columns;
              // applies to data files with a STRICTLY SMALLER data
              // sequence number (spec "Scan Planning")
              val eqIds = opt(df, "equality_ids") match {
                case Some(l: java.util.List[_]) =>
                  l.asScala.toSeq.map(_.asInstanceOf[Number].intValue)
                case _ => Seq.empty[Int]
              }
              if (eqIds.isEmpty) throw UnsupportedOperationError(
                s"iceberg: equality delete file $path carries no equality_ids")
              deletes += IceFile(content, path, format, records, bytes, entrySeq, eqIds)
            case other => throw UnsupportedOperationError(s"iceberg: unknown content $other")
          }
        }
      }
    }
    (data.result(), deletes.result(), dataSeq.result())
  }

  // ---- snapshot state ----

  /** Planned state of one snapshot: schema, identity partition columns,
    * data files (absolute paths, prunable metadata), position deletes.
    */
  private[tables] final case class IceState(
      meta: JValue, metadataVersion: Long, schema: StructType,
      partitionColumns: Seq[String], files: Seq[TxLog.AddFile], deletes: Seq[IceFile],
      snapshotId: Option[Long], dataSeq: Map[String, Long] = Map.empty,
      transformFields: Seq[(String, IceTransforms.T, String)] = Seq.empty)

  /** Non-identity spec fields across ALL specs resolved against the
    * current schema: (specFieldName, transform, sourceColumn). A name two
    * specs define differently is dropped from pruning (kept files only —
    * safe); unknown transform strings are skipped (forward-compatible).
    */
  private[tables] def transformFieldsOf(meta: JValue): Seq[(String, IceTransforms.T, String)] = {
    val byId = topFields(meta).map { case (id, n, _) => id -> n }.toMap
    val all = specsById(meta).values.flatten.toSeq
      .filter(sf => sf.transform != "identity" && sf.transform != "void")
      .flatMap { sf =>
        for (t <- IceTransforms.parseSpec(sf.transform); src <- byId.get(sf.sourceId))
          yield (sf.name, t, src)
      }
    all.groupBy(_._1).valuesIterator.collect {
      case group if group.distinct.size == 1 => group.head
    }.toSeq
  }

  private[tables] def state(spark: SparkSession, location: String,
      asOfSnapshotId: Option[Long] = None): IceState = {
    val f = fs(spark, location)
    val metaPath = currentMetadataPath(f, location)
    stateFromMeta(spark, location, readJson(f, metaPath),
      metaVersionOf(metaPath), asOfSnapshotId)
  }

  /** State pinned at a METADATA version (`vN.metadata.json`) — the
    * version axis the CommitLog contract travels on (one snapshot per
    * metadata version the way this library commits).
    */
  private[tables] def stateAt(spark: SparkSession, location: String,
      metadataVersion: Option[Long]): IceState = metadataVersion match {
    case None => state(spark, location)
    case Some(v) =>
      stateFromMeta(spark, location, metaAt(spark, location, v), v, None)
  }

  /** The metadata document at a version — one small JSON read, no
    * manifest traversal (for paths that only need schema/properties).
    */
  private[tables] def metaAt(spark: SparkSession, location: String, v: Long): JValue = {
    val f = fs(spark, location)
    val p = new Path(metadataDir(location), s"v$v.metadata.json")
    if (!f.exists(p))
      throw graft.catalog.DoesNotExistError(s"no iceberg metadata v$v at $location")
    readJson(f, p)
  }

  private def metaVersionOf(metaPath: Path): Long =
    metaPath.getName.stripSuffix(".metadata.json").stripPrefix("v").toLongOption.getOrElse(0L)

  private def stateFromMeta(spark: SparkSession, location: String, meta: JValue,
      metaVersion: Long, asOfSnapshotId: Option[Long]): IceState = {
    stateDerivations.set(stateDerivations.get + 1L)
    val schema = currentSchema(meta)
    val parts = identityPartCols(meta).filter(schema.fieldNames.contains)
    val tf = transformFieldsOf(meta).filter { case (_, _, src) => schema.fieldNames.contains(src) }
    pickSnapshot(meta, asOfSnapshotId) match {
      case None =>
        IceState(meta, metaVersion, schema, parts, Seq.empty, Seq.empty, None,
          transformFields = tf)
      case Some(s) =>
        val (data, deletes, dataSeq) = liveFiles(spark, location, meta, s)
        IceState(meta, metaVersion, schema, parts, data, deletes, Some(s.snapshotId), dataSeq, tf)
    }
  }

  /** Table properties recorded in the metadata document. */
  private[tables] def propertiesOf(meta: JValue): Map[String, String] =
    (meta \ "properties").extractOrElse[Map[String, String]](Map.empty)

  /** summary.operation of the CURRENT snapshot ("append" when absent). */
  private[tables] def currentOperation(meta: JValue): String = {
    val cur = (meta \ "current-snapshot-id").extractOpt[Long]
    (meta \ "snapshots").extractOrElse[Seq[JValue]](Seq.empty)
      .find(s => (s \ "snapshot-id").extractOpt[Long] == cur)
      .map(s => (s \ "summary" \ "operation").extractOrElse[String]("append"))
      .getOrElse("append")
  }

  /** Latest metadata version, None when no table exists. */
  private[tables] def latestMetadataVersion(spark: SparkSession, location: String): Option[Long] =
    if (!isIcebergTable(spark, location)) None
    else Some(metaVersionOf(currentMetadataPath(fs(spark, location), location)))

  private[tables] def metaOf(spark: SparkSession, location: String): JValue =
    readJson(fs(spark, location), currentMetadataPath(fs(spark, location), location))

  /** (schema, identity partition columns) — the register_as_table
    * inference surface.
    */
  def schemaInfo(spark: SparkSession, location: String): (StructType, Seq[String]) = {
    val st = state(spark, location)
    (st.schema, st.partitionColumns)
  }

  /** Snapshot ids, oldest first. */
  def history(spark: SparkSession, location: String): Seq[Long] =
    snapshots(metaOf(spark, location)).sortBy(_.timestampMs).map(_.snapshotId)

  /** Per-metadata-version history line: (version, last-updated-ms,
    * operation, -1, -1) — DESCRIBE HISTORY's source on the Iceberg log.
    * A version whose current snapshot pointer did not move is a
    * metadata-only commit (refs/properties); file counts would need a
    * manifest diff per version, so they report -1 (unknown).
    */
  private[tables] def historyInfo(spark: SparkSession, location: String)
      : Seq[(Long, Long, String, Int, Int)] = {
    val latest = latestMetadataVersion(spark, location).getOrElse(return Seq.empty)
    // one pass: the previous version's snapshot pointer carries through
    // the fold instead of re-reading each metadata document twice
    var prev: Option[Long] = None
    var prevValid = false
    (1L to latest).flatMap { v =>
      try {
        val meta = metaAt(spark, location, v)
        val ts = (meta \ "last-updated-ms").extractOrElse[Long](-1L)
        val cur = (meta \ "current-snapshot-id").extractOpt[Long].filter(_ != -1L)
        val op =
          if (v > 1 && prevValid && cur == prev) "SET_TBLPROPERTIES"
          else currentOperation(meta)
        prev = cur; prevValid = true
        Some((v, ts, op, -1, -1))
      } catch {
        case _: graft.catalog.DoesNotExistError => // expired
          prevValid = false; None
      }
    }
  }

  private def pickSnapshot(meta: JValue, asOfSnapshotId: Option[Long]): Option[IceSnapshot] = {
    val all = snapshots(meta)
    asOfSnapshotId match {
      case Some(id) => Some(all.find(_.snapshotId == id).getOrElse(
        throw graft.catalog.DoesNotExistError(s"iceberg snapshot $id does not exist")))
      case None =>
        (meta \ "current-snapshot-id").extractOpt[Long].filter(_ != -1L)
          .flatMap(id => all.find(_.snapshotId == id))
    }
  }

  /** Snapshot id a ref (tag or branch) points at. The `main` branch
    * implicitly exists on every table and tracks the current snapshot
    * (iceberg-java's SnapshotRef semantics) even when no `refs` map was
    * ever written.
    */
  def snapshotIdForRef(spark: SparkSession, location: String, ref: String): Long =
    refSnapshotId(metaOf(spark, location), ref).getOrElse(
      throw graft.catalog.DoesNotExistError(
        s"iceberg: no ref '$ref' on the table at $location"))

  private[tables] def refSnapshotId(meta: JValue, ref: String): Option[Long] =
    (meta \ "refs" \ ref \ "snapshot-id").extractOpt[Long]
      .orElse(if (ref == "main")
        (meta \ "current-snapshot-id").extractOpt[Long].filter(_ != -1L)
      else None)

  /** Table contents at a named ref — `SELECT ... VERSION AS OF 'tag'`. */
  def toDFAtRef(spark: SparkSession, location: String, ref: String): DataFrame =
    toDF(spark, location, Some(snapshotIdForRef(spark, location, ref)))

  /** Row-level CHANGELOG over metadata versions [fromVersion, toVersion]
    * — the Iceberg analogue of the Delta change feed, in the same shape
    * (`_change_type` insert/delete, `_commit_version`,
    * `_commit_timestamp`), derived entirely from snapshot diffs:
    *   - append snapshots → the new files' rows as inserts;
    *   - replace snapshots (compaction/REORG) and metadata-only commits
    *     (refs, properties, branch stages) → nothing, byte/metadata
    *     rearrangement is not change;
    *   - delete snapshots, position deletes → the NEW (path, pos)
    *     entries joined back to their data rows live at the PREVIOUS
    *     version (a row can only die once), so re-deletes of
    *     already-dead positions never surface;
    *   - delete snapshots, EQUALITY deletes (the Flink-upsert shape) →
    *     the dying rows are the previous version's live rows semi-joined
    *     on each delete file's `equality_ids` columns under the spec's
    *     strictly-smaller-sequence rule — the same match the snapshot
    *     fold locates victims with;
    *   - overwrite snapshots (dynamic partition overwrite, CoW
    *     MERGE/UPDATE/REPLACE WHERE — the labels Spark's own Iceberg
    *     writer uses for the most common batch-maintenance commits) →
    *     the SAME file-diff machinery: data files leaving the live set
    *     contribute their rows live at the previous version as deletes,
    *     entering files contribute inserts, and
    *     any same-commit delete files fold in like delete snapshots.
    *     A row a CoW rewrite merely CARRIES (file rewritten, value
    *     unchanged) surfaces as a delete+insert pair at that version —
    *     net zero under the signed fold incremental consumers apply.
    * Incremental consumers (materialized views) fold this as a signed
    * row feed, making MoR DELETEs incremental on Iceberg sources too.
    *
    * Scale shape: ONE state reconstruction per version — each
    * iteration's state carries forward as the next iteration's previous
    * state (metadata-only commits refresh schema/spec from the single
    * JSON document without re-walking manifests). Every append's inserts
    * are ONE read of all appended files at the `to` schema, with change
    * type, version and timestamp as partition values of the read
    * (LogFileIndex.tagged), so a 1,000-commit feed plans one scan, not
    * 1,000 branches. Only inserts under same-commit delete files and
    * the deletes stay per commit: each needs that version's delete set
    * and schema era. Those frames read through the one live-rows read
    * (IcebergCommitLog.liveRows) over the state folded at v (entering
    * files) or at v-1 (everything else), each fold memoized per
    * snapshot and run only when a frame needs it.
    */
  def tableChanges(spark: SparkSession, location: String, fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{toCol, toExpr}
    import org.apache.spark.sql.functions.lit
    val latest = latestMetadataVersion(spark, location).getOrElse(
      throw graft.catalog.DoesNotExistError(s"no iceberg table at $location"))
    val to = toVersion.getOrElse(latest)
    val outState = stateAt(spark, location, Some(to))
    val outFields = outState.schema.fields.toSeq
    def tag(df: DataFrame, tpe: String, v: Long, tsMs: Long): DataFrame =
      df.select(outFields.map(f =>
          (if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
           else lit(null).cast(f.dataType)).as(f.name)): _*)
        .withColumn(DeltaCdf.ChangeTypeCol, lit(tpe))
        .withColumn("_commit_version", lit(v))
        .withColumn("_commit_timestamp",
          lit(new java.sql.Timestamp(tsMs)).cast(org.apache.spark.sql.types.TimestampType))
    // An era's frame carries that era's COLUMN NAMES; the feed's column
    // space is the `to` schema. Field ids are the stable identity across
    // renames (spec "Schema Evolution"), so map era names to out names
    // by id before tag() aligns by name — otherwise every pre-rename
    // row surfaces with null in the renamed column.
    val outById = topFields(outState.meta)
    def alignToOut(df: DataFrame, eraMeta: JValue): DataFrame = {
      val eraById = topFields(eraMeta).map { case (id, n, _) => id -> n }.toMap
      df.select(outById.flatMap { case (id, outName, _) =>
        eraById.get(id).filter(df.columns.contains)
          .map(eraName => col(eraName).as(outName))
      }: _*)
    }
    // the live rows of `files` in `st`: the state folded into DV
    // descriptors (memoized per snapshot), so a frame drops exactly the
    // rows the state's deletes kill — folded only when a frame reads
    def live(st: IceState, files: Seq[TxLog.AddFile], withMeta: Boolean = false): DataFrame = {
      val snap = IcebergCommitLog.snapshotOf(spark, location, st)
      val keep = files.map(_.path).toSet
      IcebergCommitLog.liveRows(spark, location,
        snap.copy(files = snap.files.filter(f => keep.contains(f.path))), withMeta)
    }
    val start = math.max(1L, fromVersion)
    // previous-version state, threaded through the loop — v1 is the
    // create commit (no previous document → empty table ≡ None)
    var stPrev: Option[IceState] =
      if (start <= 1) None else Some(stateAt(spark, location, Some(start - 1)))
    val appends = Seq.newBuilder[(TxLog.AddFile, Seq[String])]
    val insertFrames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val deleteFrames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    (start to to).foreach { v =>
      val meta = metaAt(spark, location, v)
      val curId = (meta \ "current-snapshot-id").extractOpt[Long].filter(_ != -1L)
      val prevId = stPrev.flatMap(_.snapshotId)
      if (curId == prevId) {
        // metadata-only (refs/props/branch stage/column DDL): same
        // snapshot, so files/deletes/sequences are unchanged — refresh
        // only the schema-bearing fields from the one-JSON-read document
        stPrev = stPrev.map { p =>
          val schema = currentSchema(meta)
          p.copy(meta = meta, metadataVersion = v, schema = schema,
            partitionColumns = identityPartCols(meta).filter(schema.fieldNames.contains),
            transformFields = transformFieldsOf(meta).filter {
              case (_, _, src) => schema.fieldNames.contains(src)
            })
        }
      } else {
        val tsMs = snapshots(meta).find(s => curId.contains(s.snapshotId))
          .map(_.timestampMs).getOrElse(0L)
        val st = stateAt(spark, location, Some(v))
        val prevFiles = stPrev.map(_.files).getOrElse(Seq.empty)
        val prevDeletes = stPrev.map(_.deletes).getOrElse(Seq.empty)
        currentOperation(meta) match {
          case "replace" => // compaction/REORG: no row-level change
          case _ =>
            // GENERIC file-diff derivation: append, delete AND
            // overwrite-labeled snapshots reduce to the same three
            // ingredients, so dynamic-partition-overwrite and CoW
            // MERGE/UPDATE commits no longer force consumers to re-sync.
            val curPaths = st.files.map(_.path).toSet
            val prevPaths = prevFiles.map(_.path).toSet
            val added = st.files.filterNot(f => prevPaths.contains(f.path))
            val removed = prevFiles.filterNot(f => curPaths.contains(f.path))
            val prevDel = prevDeletes.map(_.path).toSet
            val newDel = st.deletes.filterNot(d => prevDel.contains(d.path))
            // 1) entering data files → inserts. With same-commit delete
            // files present (MoR engines commit data + deletes together),
            // the added files read as live at v, so a row that never
            // became visible is not reported: only the new deletes can
            // reach them (older position deletes cannot name new paths,
            // older equality deletes cannot kill newer-sequence files).
            // Such files can't join the one read of appended files, so
            // they emit their own frame (rare shape; our writer never
            // produces it).
            if (added.nonEmpty) {
              if (newDel.isEmpty) appends ++= added.map(_ ->
                Seq("insert", v.toString, LogFileIndex.timestampTag(tsMs)))
              else insertFrames += tag(alignToOut(live(st, added), st.meta), "insert", v, tsMs)
            }
            // 2) data files leaving the live set → their still-live rows
            // (live at v-1: already-dead positions died in an earlier
            // version) are deletes
            if (removed.nonEmpty && stPrev.isDefined) {
              val prev = stPrev.get
              deleteFrames += tag(alignToOut(live(prev, removed), prev.meta),
                "delete", v, tsMs)
            }
            // 3) new delete files kill rows among the SURVIVING previous
            // files only — removed files' rows already died via (2)
            val surviving = prevFiles.filter(f => curPaths.contains(f.path))
            val posDel = newDel.filter(_.content == 1)
            val eqDel = newDel.filter(_.content == 2)
            if (posDel.nonEmpty && stPrev.isDefined && surviving.nonEmpty) {
              val prev = stPrev.get
              // the dying rows: new (path, pos) entries joined to their
              // data files' rows live at v-1
              val entries = spark.read.parquet(posDel.map(_.path): _*)
                .select(toCol(NormalizedPath(toExpr(col("file_path")))).as("__np"),
                  col("pos").cast("long").as("__pos"))
              val touched = entries.select("__np").distinct()
                .collect().map(_.getString(0)).toSet
              val dataFiles = surviving.filter(f =>
                touched.contains(DeletionVectors.normalizedUri(f.path)))
              val base = live(prev, dataFiles, withMeta = true)
                .withColumn("__np",
                  toCol(NormalizedPath(toExpr(col(DeltaLog.FileMetaCol)))))
                .withColumnRenamed(DeltaLog.RowMetaCol, "__pos")
              // plain equi-join (AQE broadcasts small delete deltas on
              // its own; forcing broadcast would OOM on a mass delete)
              deleteFrames += tag(alignToOut(base.join(entries, Seq("__np", "__pos"))
                .drop("__np", "__pos", DeltaLog.FileMetaCol), prev.meta), "delete", v, tsMs)
            }
            // the rows live at v-1 that a new equality delete kills,
            // each once however many delete groups it matches
            if (eqDel.nonEmpty && stPrev.isDefined && surviving.nonEmpty) {
              val scoped = equalityScope(stPrev.get.copy(files = surviving), eqDel)
              val dying = equalityKilled(spark, scoped,
                  live(stPrev.get, scoped.files, withMeta = true), eqDel)
                .dropDuplicates(DeltaLog.FileMetaCol, DeltaLog.RowMetaCol)
                .drop("__np", DeltaLog.FileMetaCol, DeltaLog.RowMetaCol)
              deleteFrames += tag(alignToOut(dying, scoped.meta), "delete", v, tsMs)
            }
        }
        stPrev = Some(st)
      }
    }
    // appended files carry no deletes (a same-commit delete put them in
    // insertFrames), so they read unfolded
    val inserts = LogFileIndex.tagged(TxLog.Snapshot(to, outState.schema,
        outState.partitionColumns, outState.files, propertiesOf(outState.meta)),
        Seq(LogFileIndex.ChangeTypeTag, LogFileIndex.CommitVersionTag,
          LogFileIndex.CommitTimestampTag), appends.result())
      .map(IcebergCommitLog.liveRows(spark, location, _))
    (inserts ++ insertFrames ++ deleteFrames).reduce(_ unionByName _)
  }

  /** Latest snapshot at or before `tsMs` (snapshot-log order). */
  def snapshotIdAtTimestamp(spark: SparkSession, location: String, tsMs: Long): Long = {
    val all = snapshots(metaOf(spark, location)).sortBy(_.timestampMs)
    all.takeWhile(_.timestampMs <= tsMs).lastOption.map(_.snapshotId).getOrElse(
      throw graft.catalog.DoesNotExistError(
        s"timestamp $tsMs predates the first Iceberg snapshot at $location"))
  }

  /** Current (or time-traveled) contents of an Iceberg table: the
    * snapshot's live rows (IcebergCommitLog.liveRows), its position and
    * equality deletes folded into deletion-vector descriptors — the same
    * read a SQL SELECT of the catalog table runs.
    */
  def toDF(spark: SparkSession, location: String,
      asOfSnapshotId: Option[Long] = None): DataFrame =
    IcebergCommitLog.liveRows(spark, location,
      IcebergCommitLog.snapshotOf(spark, location, state(spark, location, asOfSnapshotId)))

  /** Predicate scan: `toDF.filter(predicate)`; the read's LogFileIndex
    * prunes files on identity partition values, decoded lower/upper
    * bounds and hidden-partition transform values.
    */
  def scan(spark: SparkSession, location: String, predicate: String): DataFrame =
    toDF(spark, location).filter(expr(predicate))

  /** Files the pruner would read for a predicate (tests/inspection). */
  def filesAfterPruning(spark: SparkSession, location: String, predicate: String): Int =
    LogFileIndex.filesScanned(scan(spark, location, predicate))

  /** Hidden-partitioning pruning: project each prunable conjunct through
    * every transform whose SOURCE column it constrains, against the file's
    * stored transformed partition value. Composes with (runs after) the
    * identity/stats pruning FileStats does.
    */
  private[tables] def transformSurvivors(schema: StructType,
      transforms: Seq[(String, IceTransforms.T, String)], files: Seq[TxLog.AddFile],
      conjuncts: Seq[FileStats.Conjunct]): Seq[TxLog.AddFile] = {
    if (transforms.isEmpty || conjuncts.isEmpty) return files
    val bySource = transforms.groupBy(_._3)
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    files.filter { f =>
      conjuncts.forall { c =>
        bySource.getOrElse(c.colName, Seq.empty).forall { case (specName, t, src) =>
          IceTransforms.mightMatch(t, types(src),
            f.partitionValues.get(specName).orNull, c.op, c.value)
        }
      }
    }
  }

  /** Test-visible count of full state reconstructions (manifest-list +
    * manifest traversals) — pins the change feeds' (tableChanges,
    * changesSince) one-derivation-per-version contract. Thread-local so concurrently running suites can't skew a
    * measurement (state derivation is always a driver-thread-synchronous
    * call).
    */
  private[tables] val stateDerivations: ThreadLocal[java.lang.Long] =
    ThreadLocal.withInitial(() => java.lang.Long.valueOf(0L))

  /** (normalized data-file path, row position) of every row the state's
    * LIVE equality-delete files kill — located by ONE sequence-scoped
    * scan. Lets the snapshot fold equality deletes into the per-file
    * position bitmaps it already builds for position deletes, so every
    * read, MERGE and version works uniformly over Flink-upsert-shaped
    * tables. Rows also covered by a position delete may appear (they
    * union into the same bitmap).
    */
  private[tables] def equalityVictimPositions(spark: SparkSession,
      st: IceState): DataFrame = {
    val eqDel = st.deletes.filter(_.content == 2)
    val scoped = equalityScope(st, eqDel)
    if (scoped.files.isEmpty)
      return spark.createDataFrame(Seq.empty[(String, Long)])
        .toDF("__np", "__pos")
    val view = TxLog.Snapshot(st.metadataVersion, st.schema, st.partitionColumns, st.files,
      propertiesOf(st.meta))
    equalityKilled(spark, scoped,
        readData(spark, st.meta, view, scoped.files, DeltaLog.rowMeta(true)), eqDel)
      .select(col("__np"), col(DeltaLog.RowMetaCol).as("__pos"))
      .distinct()
  }

  /** `st` narrowed to the files an equality delete of `eqDel` can reach:
    * files appended at-or-after every delete's sequence cannot hold
    * victims (strictly-smaller rule), so on an upsert-heavy table the
    * cost tracks the OLD files still in scope, not the whole table.
    */
  private def equalityScope(st: IceState, eqDel: Seq[IceFile]): IceState = {
    val maxDelSeq = eqDel.map(_.seq).max
    st.copy(files = st.files.filter(f => st.dataSeq.getOrElse(f.path, 0L) < maxDelSeq))
  }

  /** The rows of `rows` (a read of `st`'s files carrying
    * DeltaLog.FileMetaCol) that an `eqDel` file kills: a data row dies
    * when some row of an `eqDel` file matches it on that delete's
    * `equality_ids` columns AND the row's data file has a STRICTLY
    * SMALLER data sequence number than the delete file (so re-inserts
    * after the delete survive, per spec "Scan Planning"). Null-safe
    * equality matches null keys, like Iceberg's own readers. A row
    * matching several delete groups appears once per group; the rows
    * gain `__np`, their normalized file path.
    *
    * Plan shape: the per-file sequence number broadcast-joins onto the
    * scan by file path (metadata-sized, map-side); each distinct
    * equality-ids set becomes ONE semi-join against the union of its
    * delete files. The null-safe key equalities extract as hash
    * join keys and the sequence predicate rides as a post-join filter,
    * so the strategy is left to AQE: a Flink-upsert micro-batch is tiny
    * and broadcasts at runtime, while a bulk equality delete (a
    * compliance purge, O(table keys) rows in one group) sort-merges
    * instead of OOMing the driver.
    */
  private def equalityKilled(spark: SparkSession, st: IceState, rows: DataFrame,
      eqDel: Seq[IceFile]): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{toCol, toExpr}
    import org.apache.spark.sql.functions.lit
    val byId = topFields(st.meta).map { case (id, n, _) => id -> n }.toMap
    val seqDf = spark.createDataFrame(st.files.map(a =>
        (DeletionVectors.normalizedUri(a.path), st.dataSeq.getOrElse(a.path, 0L))))
      .toDF("__np", "__dataseq")
    val withSeq = rows
      .withColumn("__np", toCol(NormalizedPath(toExpr(col(DeltaLog.FileMetaCol)))))
      .join(broadcast(seqDf), Seq("__np"), "left")
    // one (key columns, renamed delete rows tagged `__delseq`) per group
    val groups = eqDel.groupBy(_.equalityIds).toSeq.map { case (ids, files) =>
      val cols = ids.map(id => byId.getOrElse(id, throw UnsupportedOperationError(
        s"iceberg: equality_ids $ids reference unknown field id $id")))
      val delRows = files.map { d =>
        spark.read.parquet(d.path)
          .select(cols.map(col).toIndexedSeq: _*)
          .withColumn("__delseq", lit(d.seq))
      }.reduce(_ unionByName _)
      cols -> cols.foldLeft(delRows)((acc, c) => acc.withColumnRenamed(c, s"__eq_$c"))
    }
    groups.map { case (cols, dels) =>
      withSeq.join(dels, cols.map(c => withSeq(c) <=> dels(s"__eq_$c")).reduce(_ && _) &&
        withSeq("__dataseq") < dels("__delseq"), "left_semi")
    }.reduce(_ unionByName _).drop("__dataseq")
  }
}

/** Spec-compliant Iceberg v2 WRITER, readable by HadoopTables-convention
  * engines (version-hint layout): the version-0 creates, the manifest /
  * manifest-list / metadata building blocks IcebergCommitLog.tryCommit
  * commits every later snapshot with, metadata-only commits (refs,
  * schema DDL, expiry) and WAP branch appends. `append`, `overwrite`,
  * `delete` and `equalityDelete` are entry points onto TxTable's write
  * surface (the one commit loop); this object stages their delete files.
  * Data files are staged by the same distributed parquet job every other
  * writer uses and carry FULL rows (partition columns included, per
  * spec); manifests carry typed partition values and lower/upper bounds
  * (field-id keyed, single-value serialized) so external planners prune
  * our files too. Manifest / manifest-list / metadata writes are
  * driver-side metadata, exactly like the Delta JSON commit.
  */
object IcebergWriter {

  private implicit val formats: Formats = DefaultFormats

  /** Avro schema of a v2 manifest-list entry (spec "Manifest Lists") —
    * required fields with their spec field-ids.
    */
  private val ManifestListSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"min_sequence_number","type":"long","field-id":516},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_files_count","type":"int","field-id":504},
      |{"name":"existing_files_count","type":"int","field-id":505},
      |{"name":"deleted_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514}
      |]}""".stripMargin.replaceAll("\n", ""))

  private def avroTypeJson(dt: DataType): String = dt match {
    case IntegerType | ShortType | ByteType => "\"int\""
    case LongType => "\"long\""
    case FloatType => "\"float\""
    case DoubleType => "\"double\""
    case BooleanType => "\"boolean\""
    case StringType => "\"string\""
    case DateType => "{\"type\":\"int\",\"logicalType\":\"date\"}"
    case other =>
      throw UnsupportedOperationError(s"iceberg writer: unsupported partition type $other")
  }

  /** Avro schema of a v2 manifest entry whose partition struct matches
    * this table's identity spec (spec "Manifests"); bounds are the spec's
    * int-keyed maps serialized as key/value record arrays.
    */
  private[tables] def entrySchemaFor(partFields: Seq[(String, DataType)]): Schema = {
    val pf = partFields.zipWithIndex.map { case ((n, dt), i) =>
      s"""{"name":"$n","type":["null",${avroTypeJson(dt)}],"default":null,"field-id":${1000 + i}}"""
    }.mkString(",")
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |{"name":"status","type":"int","field-id":0},
         |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
         |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
         |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
         |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
         |{"name":"content","type":"int","field-id":134},
         |{"name":"file_path","type":"string","field-id":100},
         |{"name":"file_format","type":"string","field-id":101},
         |{"name":"partition","type":{"type":"record","name":"r102","fields":[$pf]},"field-id":102},
         |{"name":"record_count","type":"long","field-id":103},
         |{"name":"file_size_in_bytes","type":"long","field-id":104},
         |{"name":"value_counts","type":["null",{"type":"array","items":{"type":"record","name":"k119_v120","fields":[{"name":"key","type":"int","field-id":119},{"name":"value","type":"long","field-id":120}]},"logicalType":"map"}],"default":null,"field-id":109},
         |{"name":"null_value_counts","type":["null",{"type":"array","items":{"type":"record","name":"k121_v122","fields":[{"name":"key","type":"int","field-id":121},{"name":"value","type":"long","field-id":122}]},"logicalType":"map"}],"default":null,"field-id":110},
         |{"name":"lower_bounds","type":["null",{"type":"array","items":{"type":"record","name":"k126_v127","fields":[{"name":"key","type":"int","field-id":126},{"name":"value","type":"bytes","field-id":127}]},"logicalType":"map"}],"default":null,"field-id":125},
         |{"name":"upper_bounds","type":["null",{"type":"array","items":{"type":"record","name":"k129_v130","fields":[{"name":"key","type":"int","field-id":129},{"name":"value","type":"bytes","field-id":130}]},"logicalType":"map"}],"default":null,"field-id":128},
         |{"name":"equality_ids","type":["null",{"type":"array","items":"int","element-id":136}],"default":null,"field-id":135}
         |]},"field-id":2}
         |]}""".stripMargin.replaceAll("\n", ""))
  }

  private def writeAvro(f: FileSystem, p: Path, schema: Schema,
      records: Seq[GenericRecord], meta: Map[String, String]): Long = {
    val out = f.create(p, false)
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => w.setMeta(k, v) }
    w.create(schema, out)
    try records.foreach(w.append) finally w.close()
    f.getFileStatus(p).getLen
  }

  /** Depth-first field-id assigner for Iceberg schema JSON — `nextId`
    * starts after the ids already in use (0 for a fresh table,
    * last-column-id when evolving).
    */
  private final class SchemaJsonBuilder(var nextId: Int) {
    def typeJson(dt: DataType): JValue = dt match {
      case BooleanType => JString("boolean")
      case IntegerType | ShortType | ByteType => JString("int")
      case LongType => JString("long")
      case FloatType => JString("float")
      case DoubleType => JString("double")
      case DateType => JString("date")
      case TimestampNTZType => JString("timestamp")
      case TimestampType => JString("timestamptz")
      case StringType => JString("string")
      case BinaryType => JString("binary")
      case d: DecimalType => JString(s"decimal(${d.precision}, ${d.scale})")
      case a: ArrayType =>
        nextId += 1
        JObject("type" -> JString("list"), "element-id" -> JInt(nextId),
          "element" -> typeJson(a.elementType),
          "element-required" -> JBool(!a.containsNull))
      case s: StructType =>
        JObject("type" -> JString("struct"), "fields" -> JArray(s.fields.toList.map(fieldJson)))
      case m: MapType =>
        nextId += 1; val kId = nextId
        nextId += 1; val vId = nextId
        JObject("type" -> JString("map"), "key-id" -> JInt(kId),
          "key" -> typeJson(m.keyType), "value-id" -> JInt(vId),
          "value" -> typeJson(m.valueType),
          "value-required" -> JBool(!m.valueContainsNull))
      case other => throw UnsupportedOperationError(s"iceberg writer: unsupported type $other")
    }
    def fieldJson(f: StructField): JValue = {
      nextId += 1
      val id = nextId
      JObject("id" -> JInt(id), "name" -> JString(f.name),
        "required" -> JBool(!f.nullable), "type" -> typeJson(f.dataType))
    }
  }

  /** Iceberg schema JSON of a Spark schema, ids assigned depth-first in
    * field order. Returns (json, lastColumnId, topLevelName→id).
    */
  private[tables] def icebergSchemaJson(schema: StructType): (String, Int, Map[String, Int]) = {
    val b = new SchemaJsonBuilder(0)
    val topIds = scala.collection.mutable.Map.empty[String, Int]
    val fields = schema.fields.toList.map { f =>
      val j = b.fieldJson(f)
      topIds(f.name) = (j \ "id").extract[Int]
      j
    }
    val json = JsonMethods.compact(JsonMethods.render(
      JObject("type" -> JString("struct"), "schema-id" -> JInt(0),
        "fields" -> JArray(fields))))
    (json, b.nextId, topIds.toMap)
  }

  /** Evolved schema JSON PRESERVING field ids (the spec's column
    * resolution is id-based, so a re-number would corrupt every external
    * reader's view of historical files): fields whose name and type match
    * the current schema keep their JSON verbatim; added or retyped fields
    * mint fresh ids above last-column-id. The new schema APPENDS to the
    * `schemas` history under a fresh schema-id (never replaces it) — the
    * history is what rename detection and external snapshot readers
    * resolve against. Returns the replacement metadata fields plus the
    * top-level name→id map.
    */
  private[tables] def evolvedSchemaFields(meta: JValue, evolved: StructType)
      : (Map[String, JValue], Map[String, Int]) = {
    val existing: Map[String, JValue] =
      (IcebergLog.currentSchemaJson(meta) \ "fields").extract[Seq[JValue]]
        .map(f => (f \ "name").extract[String] -> f).toMap
    val b = new SchemaJsonBuilder((meta \ "last-column-id").extractOrElse[Int](0))
    val topIds = scala.collection.mutable.Map.empty[String, Int]
    val fields = evolved.fields.toList.map { f =>
      val kept = existing.get(f.name).filter { j =>
        try IcebergLog.toSparkType(j \ "type") ==
          IcebergLog.toSparkType(new SchemaJsonBuilder(0).typeJson(f.dataType))
        catch { case NonFatal(_) => false }
      }
      val j = kept.getOrElse(b.fieldJson(f))
      topIds(f.name) = (j \ "id").extract[Int]
      j
    }
    val prior = (meta \ "schemas").extractOpt[Seq[JValue]]
      .getOrElse(Seq(IcebergLog.currentSchemaJson(meta)))
    val nextSchemaId = prior.flatMap(s => (s \ "schema-id").extractOpt[Int])
      .maxOption.getOrElse(0) + 1
    val schemaJson = JObject("type" -> JString("struct"),
      "schema-id" -> JInt(nextSchemaId), "fields" -> JArray(fields))
    (Map(
      "schemas" -> JArray((prior :+ (schemaJson: JValue)).toList),
      "current-schema-id" -> JInt(nextSchemaId),
      "last-column-id" -> JInt(math.max(b.nextId,
        (meta \ "last-column-id").extractOrElse[Int](0)))), topIds.toMap)
  }

  /** RENAME COLUMN, the Iceberg-native way: a new schema joins the
    * `schemas` history carrying the SAME field id under the new name —
    * id-based resolution (spec §Schemas: "columns are matched by field
    * id") keeps every existing data file readable, and a renamed history
    * flips this library's readers into id resolution automatically.
    * Metadata-only commit; no snapshot is minted (renames move no data).
    */
  def renameColumn(spark: SparkSession, location: String,
      oldName: String, newName: String): Unit = {
    val st = IcebergLog.state(spark, location)
    val cur = IcebergLog.currentSchemaJson(st.meta)
    val fields = (cur \ "fields").extract[Seq[JValue]]
    if (!fields.exists(f => (f \ "name").extract[String] == oldName))
      throw graft.catalog.UnsupportedOperationError(s"RENAME COLUMN: unknown column $oldName")
    if (fields.exists(f => (f \ "name").extract[String] == newName))
      throw graft.catalog.AlreadyExistsError(s"RENAME COLUMN: column $newName already exists")
    val renamed = fields.map {
      case JObject(kvs) if kvs.exists { case (k, v) =>
          k == "name" && v == JString(oldName) } =>
        JObject(kvs.map {
          case ("name", _) => "name" -> (JString(newName): JValue)
          case kv => kv
        }): JValue
      case f => f
    }
    commitSchemaHistory(spark, location, st, renamed)
  }

  /** DROP COLUMN: the field leaves the current schema (its id is NEVER
    * reused — spec invariant, enforced by last-column-id monotonicity);
    * data files keep the physical column, which id-based readers simply
    * stop projecting. Metadata-only; storage reclaims on the next
    * rewrite.
    */
  def dropColumn(spark: SparkSession, location: String, name: String): Unit =
    dropColumns(spark, location, Seq(name))

  def dropColumns(spark: SparkSession, location: String, names: Seq[String]): Unit = {
    val st = IcebergLog.state(spark, location)
    val cur = IcebergLog.currentSchemaJson(st.meta)
    val fields = (cur \ "fields").extract[Seq[JValue]]
    val specRefs = (st.meta \ "partition-specs").extractOrElse[Seq[JValue]](Seq.empty)
      .flatMap(s => (s \ "fields").extractOrElse[Seq[JValue]](Seq.empty))
      .flatMap(f => (f \ "source-id").extractOpt[Int])
      .toSet
    names.foreach { name =>
      if (!fields.exists(f => (f \ "name").extract[String] == name))
        throw graft.catalog.UnsupportedOperationError(s"DROP COLUMN: unknown column $name")
      // a declared sort order referencing the column would dangle
      if (IcebergLog.sortOrderFields(st.meta).exists(_._1 == name))
        throw graft.catalog.UnsupportedOperationError(
          s"DROP COLUMN: $name is referenced by the table's sort order; replace it first")
      // ANY partition spec sourcing the column (identity OR transform —
      // bucket/truncate/year/...) forbids the drop: the spec would
      // reference a dead field id and every later write would fail with
      // no recovery path. TxTable's guard only sees identity columns, so
      // transform sources must be checked here against the field id.
      val dropId = fields.collectFirst {
        case f if (f \ "name").extract[String] == name => (f \ "id").extract[Int]
      }.get
      if (specRefs.contains(dropId))
        throw graft.catalog.UnsupportedOperationError(
          s"DROP COLUMN: $name (field id $dropId) is a partition-spec source column")
    }
    if (fields.size - names.size < 1)
      throw graft.catalog.UnsupportedOperationError("DROP COLUMN: cannot drop every column")
    commitSchemaHistory(spark, location, st,
      fields.filterNot(f => names.contains((f \ "name").extract[String])))
  }

  /** Append a new current schema (built from `fields`, ids already
    * assigned) to the schemas history in one metadata-only commit.
    */
  private def commitSchemaHistory(spark: SparkSession, location: String,
      st: IcebergLog.IceState, fields: Seq[JValue]): Unit = {
    val prior = (st.meta \ "schemas").extractOpt[Seq[JValue]]
      .getOrElse(Seq(IcebergLog.currentSchemaJson(st.meta)))
    val nextSchemaId = prior.flatMap(s => (s \ "schema-id").extractOpt[Int])
      .maxOption.getOrElse(0) + 1
    val schemaJson = JObject("type" -> JString("struct"),
      "schema-id" -> JInt(nextSchemaId), "fields" -> JArray(fields.toList))
    commitMetaOnly(IcebergLog.fs(spark, location), location, st, Map(
      "schemas" -> JArray((prior :+ (schemaJson: JValue)).toList),
      "current-schema-id" -> JInt(nextSchemaId)))
  }

  private def writeMetadata(f: FileSystem, location: String, version: Long,
      body: String): Unit = {
    val dir = IcebergLog.metadataDir(location)
    if (!f.exists(dir)) f.mkdirs(dir)
    val target = new Path(dir, s"v$version.metadata.json")
    if (f.exists(target))
      throw graft.catalog.AlreadyExistsError(s"iceberg metadata v$version already exists")
    val tmp = new Path(dir, s".tmp-${java.util.UUID.randomUUID()}.json")
    val out = f.create(tmp, false)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    if (!TxLog.atomicPublishNoOverwrite(f, tmp, target))
      throw graft.catalog.AlreadyExistsError(s"concurrent iceberg commit v$version at $location")
    val hint = f.create(new Path(dir, "version-hint.text"), true)
    try hint.write(version.toString.getBytes("UTF-8")) finally hint.close()
  }

  // ---- staging ----

  /** Stage `df` as parquet data files. Partitioned tables stage through a
    * COPY of each partition column (`__ice_<col>`) so hive-style directory
    * layout organizes the files while the ORIGINAL columns stay in the
    * data files — Iceberg data files carry full rows; partition values
    * travel in the manifests, not the paths.
    */
  private[tables] def stage(spark: SparkSession, location: String, df0: DataFrame,
      fields: Seq[IcebergLog.ResolvedSpecField], schemaJson: JValue,
      sortFields: Seq[(String, Boolean)] = Nil,
      writerOptions: Map[String, String] = Map.empty): Seq[TxLog.AddFile] = {
    // stamp each column's Iceberg field id into the parquet footers
    // (aliases carry the `parquet.field.id` metadata; types/nullability
    // untouched) — real Iceberg engines resolve our files by id, and our
    // own reads survive foreign renames
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val idMeta = IcebergLog.schemaWithFieldIds(schemaJson)
      .fields.map(f => f.name -> f.metadata).toMap
    val df = df0.select(df0.schema.fieldNames.toIndexedSeq.map(n =>
      idMeta.get(n).map(m => col(n).as(n, m)).getOrElse(col(n))): _*)
    // the declared sort order clusters each write: range-partition (so
    // files cover disjoint sort-key ranges, not shuffled samples of the
    // whole range) + local sort — min/max bounds on the sort columns
    // tighten to the file's slice and scans prune
    def sortExprs = sortFields.map { case (c, asc) =>
      if (asc) col(c).asc_nulls_first else col(c).desc_nulls_last
    }
    if (fields.isEmpty) {
      val data =
        if (sortFields.isEmpty) df
        else df.repartitionByRange(sortExprs: _*).sortWithinPartitions(sortExprs: _*)
      TxLog.stageData(spark, location, data, Seq.empty, writerOptions)
    } else {
      // each spec field rides as a `__ice_` tag column (codegen'd transform
      // of its source — the source column itself STAYS in the data file,
      // iceberg files carry full rows), so hive staging clusters rows by
      // the transformed tuple and hands back one AddFile per tuple
      val tagged = fields.foldLeft(df)((d, sf) => d.withColumn(s"__ice_${sf.name}",
        IceTransforms.column(sf.t, col(sf.source), sf.sourceType)))
      val tags = fields.map(sf => s"__ice_${sf.name}")
      // hash-cluster rows by the partition tuple before the write (Spark's
      // Iceberg writer's default distribution mode): files-per-commit stays
      // O(#tuples), not O(#tasks × #tuples) — the small-files failure mode
      val clustered0 = tagged.repartition(tags.map(col): _*)
      val clustered =
        if (sortFields.isEmpty) clustered0
        else clustered0.sortWithinPartitions(tags.map(col) ++ sortExprs: _*)
      TxLog.stageData(spark, location, clustered, tags, writerOptions)
        .map(a => a.copy(partitionValues =
          a.partitionValues.map { case (k, v) => k.stripPrefix("__ice_") -> v }))
    }
  }

  private def partAvroValue(dt: DataType, s: String): Any =
    if (s == null || s == "__HIVE_DEFAULT_PARTITION__") null
    else dt match {
      case IntegerType | ShortType | ByteType => java.lang.Integer.valueOf(s.toInt)
      case LongType => java.lang.Long.valueOf(s.toLong)
      case StringType => s
      case BooleanType => java.lang.Boolean.valueOf(s.toBoolean)
      case FloatType => java.lang.Float.valueOf(s.toFloat)
      case DoubleType => java.lang.Double.valueOf(s.toDouble)
      // accepts ISO dates (hive staging dirs) AND day ints (manifest
      // read-back — survivor rewrites of day-transformed specs)
      case DateType => java.lang.Integer.valueOf(
        s.toIntOption.getOrElse(java.time.LocalDate.parse(s).toEpochDay.toInt))
      case other =>
        throw UnsupportedOperationError(s"iceberg writer: unsupported partition type $other")
    }

  /** Single-value serialization of a FileStats bound string (spec Appendix
    * D) — the inverse of IcebergLog.decodeBound.
    */
  private def encodeBound(dt: DataType, s: String): Option[Array[Byte]] = {
    def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    try dt match {
      case IntegerType | ShortType | ByteType => Some(le(4).putInt(s.toInt).array)
      case LongType => Some(le(8).putLong(s.toLong).array)
      case FloatType => Some(le(4).putFloat(s.toFloat).array)
      case DoubleType => Some(le(8).putDouble(s.toDouble).array)
      case DateType => Some(le(4).putInt(
        s.toLongOption.getOrElse(java.time.LocalDate.parse(s).toEpochDay).toInt).array)
      case TimestampType | TimestampNTZType => Some(le(8).putLong(s.toLong).array)
      case StringType => Some(s.getBytes(UTF_8))
      case _ => None
    } catch { case NonFatal(_) => None }
  }

  private def kvArray(entrySchema: Schema, fieldName: String,
      m: Map[Int, Array[Byte]]): Any = {
    if (m.isEmpty) return null
    val dataFileSchema = entrySchema.getField("data_file").schema()
    val union = dataFileSchema.getField(fieldName).schema()
    val arr = union.getTypes.asScala.find(_.getType == Schema.Type.ARRAY).get
    val items = arr.getElementType
    val out = new GenericData.Array[GenericRecord](m.size, arr)
    m.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val r = new GenericData.Record(items)
      r.put("key", k)
      r.put("value", ByteBuffer.wrap(v))
      out.add(r)
    }
    out
  }

  /** Same shape for int->long count maps (value_counts / null_value_counts). */
  private def kvLongArray(entrySchema: Schema, fieldName: String,
      m: Map[Int, Long]): Any = {
    if (m.isEmpty) return null
    val dataFileSchema = entrySchema.getField("data_file").schema()
    val union = dataFileSchema.getField(fieldName).schema()
    val arr = union.getTypes.asScala.find(_.getType == Schema.Type.ARRAY).get
    val items = arr.getElementType
    val out = new GenericData.Array[GenericRecord](m.size, arr)
    m.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val r = new GenericData.Record(items)
      r.put("key", k)
      r.put("value", v)
      out.add(r)
    }
    out
  }

  /** Write one manifest for `adds`; returns (path, length, rowCount). */
  private[tables] def writeManifest(f: FileSystem, location: String, entrySchema: Schema,
      adds: Seq[TxLog.AddFile], schema: StructType, partFields: Seq[(String, DataType)],
      topIds: Map[String, Int], snapId: Long, seq: Long, content: Int,
      equalityIds: Seq[Int] = Nil): (Path, Long, Long) = {
    val dir = IcebergLog.metadataDir(location)
    if (!f.exists(dir)) f.mkdirs(dir)
    val dataFileSchema = entrySchema.getField("data_file").schema()
    val partSchema = dataFileSchema.getField("partition").schema()
    val typesByName = schema.fields.map(x => x.name -> x.dataType).toMap
    val entries = adds.map { a =>
      val dfr = new GenericData.Record(dataFileSchema)
      dfr.put("content", content)
      dfr.put("file_path", IcebergLog.resolve(location, a.path).toString)
      dfr.put("file_format", "PARQUET")
      val part = new GenericData.Record(partSchema)
      partFields.foreach { case (n, dt) =>
        a.partitionValues.get(n).foreach(v => part.put(n, partAvroValue(dt, v)))
      }
      dfr.put("partition", part)
      dfr.put("record_count", math.max(0L, a.rows))
      dfr.put("file_size_in_bytes", a.sizeBytes)
      def bounds(src: Option[Map[String, String]]): Map[Int, Array[Byte]] =
        src.getOrElse(Map.empty).flatMap { case (n, s) =>
          for {
            id <- topIds.get(n)
            dt <- typesByName.get(n)
            b <- encodeBound(dt, s)
          } yield id -> b
        }
      dfr.put("lower_bounds", kvArray(entrySchema, "lower_bounds", bounds(a.minValues)))
      dfr.put("upper_bounds", kvArray(entrySchema, "upper_bounds", bounds(a.maxValues)))
      // value_counts: number of values incl. nulls — record_count for
      // every top-level column; null_value_counts from the footer stats
      if (a.rows >= 0)
        dfr.put("value_counts", kvLongArray(entrySchema, "value_counts",
          topIds.collect { case (n, id) if typesByName.contains(n) => id -> a.rows }))
      dfr.put("null_value_counts", kvLongArray(entrySchema, "null_value_counts",
        a.nullCounts.getOrElse(Map.empty).flatMap { case (n, c) =>
          topIds.get(n).map(_ -> c)
        }))
      if (equalityIds.nonEmpty)
        dfr.put("equality_ids", equalityIds.map(Int.box).asJava)
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1) // ADDED
      e.put("snapshot_id", snapId)
      e.put("sequence_number", seq)
      e.put("file_sequence_number", seq)
      e.put("data_file", dfr)
      e
    }
    val p = new Path(dir, s"${java.util.UUID.randomUUID()}-m0.avro")
    val len = writeAvro(f, p, entrySchema, entries, Map(
      "format-version" -> "2", "content" -> (if (content == 0) "data" else "deletes")))
    (p, len, adds.map(a => math.max(0L, a.rows)).sum)
  }

  private[tables] def mlRecord(path: String, length: Long, content: Int, seq: Long,
      snapId: Long, files: Int, rows: Long): GenericRecord = {
    val ml = new GenericData.Record(ManifestListSchema)
    ml.put("manifest_path", path)
    ml.put("manifest_length", length)
    ml.put("partition_spec_id", 0)
    ml.put("content", content)
    ml.put("sequence_number", seq)
    ml.put("min_sequence_number", seq)
    ml.put("added_snapshot_id", snapId)
    ml.put("added_files_count", files)
    ml.put("existing_files_count", 0)
    ml.put("deleted_files_count", 0)
    ml.put("added_rows_count", rows)
    ml.put("existing_rows_count", 0L)
    ml.put("deleted_rows_count", 0L)
    ml
  }

  /** Re-list a prior snapshot's manifest-list entry under our schema —
    * manifest FILES are immutable and carried by reference (how Iceberg
    * itself reuses manifests across snapshots); unknown writer extras are
    * optional fields and drop away.
    */
  private[tables] def carry(r: GenericRecord): GenericRecord = {
    def g(n: String, d: Any): Any = {
      val v = if (r.getSchema.getField(n) == null) null else r.get(n)
      if (v == null) d else v
    }
    val out = new GenericData.Record(ManifestListSchema)
    out.put("manifest_path", g("manifest_path", "").toString)
    out.put("manifest_length", g("manifest_length", java.lang.Long.valueOf(0L)))
    out.put("partition_spec_id", g("partition_spec_id", java.lang.Integer.valueOf(0)))
    out.put("content", g("content", java.lang.Integer.valueOf(0)))
    out.put("sequence_number", g("sequence_number", java.lang.Long.valueOf(0L)))
    out.put("min_sequence_number", g("min_sequence_number", java.lang.Long.valueOf(0L)))
    out.put("added_snapshot_id", g("added_snapshot_id", java.lang.Long.valueOf(0L)))
    out.put("added_files_count", g("added_files_count", java.lang.Integer.valueOf(0)))
    out.put("existing_files_count", g("existing_files_count", java.lang.Integer.valueOf(0)))
    out.put("deleted_files_count", g("deleted_files_count", java.lang.Integer.valueOf(0)))
    out.put("added_rows_count", g("added_rows_count", java.lang.Long.valueOf(0L)))
    out.put("existing_rows_count", g("existing_rows_count", java.lang.Long.valueOf(0L)))
    out.put("deleted_rows_count", g("deleted_rows_count", java.lang.Long.valueOf(0L)))
    out
  }

  private[tables] def writeManifestList(f: FileSystem, location: String, snapId: Long,
      records: Seq[GenericRecord]): String = {
    val p = new Path(IcebergLog.metadataDir(location),
      s"snap-$snapId-1-${java.util.UUID.randomUUID()}.avro")
    writeAvro(f, p, ManifestListSchema, records, Map("format-version" -> "2"))
    p.toString
  }

  private[tables] def snapshotJson(snapId: Long, now: Long, seq: Long, mlPath: String,
      operation: String, parentId: Option[Long] = None): JObject =
    JObject(List(
      "snapshot-id" -> (JLong(snapId): JValue)) ++
      parentId.map(p => "parent-snapshot-id" -> (JLong(p): JValue)).toList ++
      List[(String, JValue)](
        "timestamp-ms" -> JLong(now),
        "sequence-number" -> JLong(seq),
        "summary" -> JObject("operation" -> JString(operation)),
        "manifest-list" -> JString(mlPath),
        "schema-id" -> JInt(0)))

  /** New metadata version for an EXISTING table: every field of the prior
    * document carries through verbatim (schemas, specs, properties,
    * whatever a foreign writer put there) except the snapshot bookkeeping.
    */
  private[tables] def commitExisting(f: FileSystem, location: String, st: IcebergLog.IceState,
      snap: JObject, snapId: Long, seq: Long, now: Long,
      replaceFields: Map[String, JValue] = Map.empty): Unit = {
    val meta = st.meta.asInstanceOf[JObject]
    val priorSnaps = (meta \ "snapshots").extractOrElse[Seq[JValue]](Seq.empty)
    val priorLog = (meta \ "snapshot-log").extractOrElse[Seq[JValue]](Seq.empty)
    // an explicit `main` BRANCH ref tracks the current snapshot (the
    // iceberg-java invariant); tags and other branches stay pinned
    val refsAdvanced: List[(String, JValue)] = (meta \ "refs") match {
      case _ if replaceFields.contains("refs") => Nil
      case JObject(refs) if refs.exists { case (n, v) =>
        n == "main" && (v \ "type").extractOrElse[String]("branch") == "branch"
      } =>
        List("refs" -> JObject(refs.map {
          case ("main", v) => "main" -> v.replace(List("snapshot-id"), JLong(snapId))
          case other => other
        }))
      case _ => Nil
    }
    val managed = Set("last-sequence-number", "last-updated-ms", "current-snapshot-id",
      "snapshots", "snapshot-log", "metadata-log") ++ replaceFields.keySet ++
      refsAdvanced.map(_._1)
    val kept = meta.obj.filterNot { case (k, _) => managed.contains(k) }
    // metadata-log tracks the PREVIOUS metadata document (spec "Table
    // Metadata": the list every engine's history/rollback tooling walks)
    val priorMetaLog = (meta \ "metadata-log").extractOrElse[Seq[JValue]](Seq.empty)
    val prevEntry: JValue = JObject(
      "timestamp-ms" -> JLong((meta \ "last-updated-ms").extractOrElse[Long](0L)),
      "metadata-file" -> JString(
        new Path(IcebergLog.metadataDir(location), s"v${st.metadataVersion}.metadata.json").toString))
    val body = JsonMethods.compact(JsonMethods.render(JObject(kept ++ replaceFields.toList ++
      refsAdvanced ++ List(
      "last-sequence-number" -> JLong(seq),
      "last-updated-ms" -> JLong(now),
      "current-snapshot-id" -> JLong(snapId),
      "snapshots" -> JArray((priorSnaps :+ (snap: JValue)).toList),
      "snapshot-log" -> JArray((priorLog :+ (JObject(
        "timestamp-ms" -> JLong(now), "snapshot-id" -> JLong(snapId)): JValue)).toList),
      "metadata-log" -> JArray((priorMetaLog :+ prevEntry).toList)))))
    writeMetadata(f, location, st.metadataVersion + 1, body)
  }

  /** Commit a metadata-ONLY change (refs, properties): a v+1 document
    * with `replaceFields` swapped in — snapshots, the current pointer and
    * sequence numbers carry through untouched, so no snapshot is minted.
    */
  private[tables] def commitMetaOnly(f: FileSystem, location: String,
      st: IcebergLog.IceState, replaceFields: Map[String, JValue]): Unit = {
    val meta = st.meta.asInstanceOf[JObject]
    val managed = Set("last-updated-ms") ++ replaceFields.keySet
    val kept = meta.obj.filterNot { case (k, _) => managed.contains(k) }
    val body = JsonMethods.compact(JsonMethods.render(JObject(kept ++
      replaceFields.toList ++ List(
        "last-updated-ms" -> (JLong(System.currentTimeMillis()): JValue)))))
    writeMetadata(f, location, st.metadataVersion + 1, body)
  }

  // ---- snapshot expiration (the `expire_snapshots` maintenance action) ----

  final case class ExpireResult(removedSnapshotIds: Seq[Long],
      deletedManifestLists: Int, deletedManifests: Int)

  /** Expire snapshots older than `olderThanMs`, keeping (a) the current
    * snapshot, (b) the most recent `retainLast` ancestors of it, and
    * (c) every ref-pinned snapshot (tags and branch heads) — the same
    * retention contract as iceberg-java's ExpireSnapshots. Expired
    * entries leave `snapshots` + `snapshot-log` in ONE metadata-only
    * commit; manifest-list files of expired snapshots and manifests no
    * surviving snapshot references are deleted. DATA files stay on disk:
    * they are reclaimed by `TxTable.vacuum`, whose liveness walk only
    * sees the surviving snapshots after this commit — the split Iceberg
    * itself uses between expire_snapshots and remove_orphan_files.
    */
  def expireSnapshots(spark: SparkSession, location: String, olderThanMs: Long,
      retainLast: Int = 1): ExpireResult = {
    require(retainLast >= 1, "retainLast must be >= 1")
    val st = IcebergLog.state(spark, location)
    val meta = st.meta
    val f = IcebergLog.fs(spark, location)
    val snapJsons = (meta \ "snapshots").extractOrElse[Seq[JValue]](Seq.empty)
    def idOf(s: JValue) = (s \ "snapshot-id").extract[Long]
    val parents = snapJsons.map(s => idOf(s) -> (s \ "parent-snapshot-id").extractOpt[Long]).toMap
    val current = (meta \ "current-snapshot-id").extractOpt[Long].filter(_ != -1L)
    // newest-first main lineage
    val lineage = Iterator.unfold(current)(c =>
      c.map(id => (id, parents.get(id).flatten))).toSeq
    val refPinned: Set[Long] = (meta \ "refs") match {
      case JObject(fields) => fields.flatMap { case (_, v) =>
        (v \ "snapshot-id").extractOpt[Long]
      }.toSet
      case _ => Set.empty
    }
    val keep: Set[Long] = lineage.take(retainLast).toSet ++ refPinned ++ current
    val (expired, survivors) = snapJsons.partition { s =>
      !keep.contains(idOf(s)) &&
        (s \ "timestamp-ms").extractOrElse[Long](Long.MaxValue) < olderThanMs
    }
    if (expired.isEmpty) return ExpireResult(Seq.empty, 0, 0)
    def mlOf(s: JValue) = (s \ "manifest-list").extractOpt[String]
    // manifests still reachable from any survivor stay; the rest orphan
    val surviving: Set[String] = survivors.flatMap(mlOf).flatMap { ml =>
      IcebergLog.readAvro(f, IcebergLog.resolve(location, ml))
        .map(r => String.valueOf(r.get("manifest_path")))
    }.toSet
    var mlDeleted = 0
    var mDeleted = 0
    expired.flatMap(mlOf).foreach { ml =>
      val mlPath = IcebergLog.resolve(location, ml)
      if (f.exists(mlPath)) {
        IcebergLog.readAvro(f, mlPath)
          .map(r => String.valueOf(r.get("manifest_path")))
          .filterNot(surviving.contains)
          .foreach { m =>
            val p = IcebergLog.resolve(location, m)
            if (f.exists(p) && f.delete(p, false)) mDeleted += 1
          }
        if (f.delete(mlPath, false)) mlDeleted += 1
      }
    }
    val expiredIds = expired.map(idOf).toSet
    val newLog = (meta \ "snapshot-log").extractOrElse[Seq[JValue]](Seq.empty)
      .filterNot(e => (e \ "snapshot-id").extractOpt[Long].exists(expiredIds.contains))
    commitMetaOnly(f, location, st, Map(
      "snapshots" -> JArray(survivors.toList),
      "snapshot-log" -> JArray(newLog.toList)))
    ExpireResult(expiredIds.toSeq.sorted, mlDeleted, mDeleted)
  }

  // ---- refs (spec v2 "Snapshot References") ----

  /** Pin `name` as a TAG at a snapshot (default: the current one). */
  def createTag(spark: SparkSession, location: String, name: String,
      snapshotId: Option[Long] = None, maxRefAgeMs: Option[Long] = None): Unit =
    setRef(spark, location, name, "tag", snapshotId, maxRefAgeMs = maxRefAgeMs)

  /** Create `name` as a BRANCH at a snapshot (default: the current one).
    * Only `main` advances with commits; other branches stay pinned until
    * re-set (this writer commits to main only).
    */
  def createBranch(spark: SparkSession, location: String, name: String,
      snapshotId: Option[Long] = None, minSnapshotsToKeep: Option[Int] = None,
      maxSnapshotAgeMs: Option[Long] = None, maxRefAgeMs: Option[Long] = None): Unit =
    setRef(spark, location, name, "branch", snapshotId,
      minSnapshotsToKeep, maxSnapshotAgeMs, maxRefAgeMs)

  private def setRef(spark: SparkSession, location: String, name: String,
      refType: String, snapshotId: Option[Long],
      minSnapshotsToKeep: Option[Int] = None, maxSnapshotAgeMs: Option[Long] = None,
      maxRefAgeMs: Option[Long] = None): Unit = {
    val st = IcebergLog.state(spark, location)
    val target = snapshotId.orElse(st.snapshotId).getOrElse(
      throw UnsupportedOperationError(
        s"iceberg: table at $location has no snapshot to ref"))
    if (!IcebergLog.snapshots(st.meta).exists(_.snapshotId == target))
      throw graft.catalog.DoesNotExistError(
        s"iceberg: snapshot $target does not exist at $location")
    val entry = JObject(List[(String, JValue)](
      "snapshot-id" -> JLong(target), "type" -> JString(refType)) ++
      minSnapshotsToKeep.map(v => "min-snapshots-to-keep" -> (JInt(v): JValue)) ++
      maxSnapshotAgeMs.map(v => "max-snapshot-age-ms" -> (JLong(v): JValue)) ++
      maxRefAgeMs.map(v => "max-ref-age-ms" -> (JLong(v): JValue)))
    val prior = (st.meta \ "refs") match {
      case JObject(fields) => fields.filterNot(_._1 == name)
      case _ => Nil
    }
    commitMetaOnly(IcebergLog.fs(spark, location), location, st,
      Map("refs" -> JObject(prior :+ (name -> (entry: JValue)))))
  }

  /** WRITE-AUDIT-PUBLISH, stage half: append `df` as a snapshot that
    * advances ONLY `branch` — `current-snapshot-id`, the `main` ref and
    * the snapshot-log stay untouched, so every reader of the table (and
    * of `main`) is blind to the staged rows while audit queries read
    * them via `toDFAtRef(branch)` / `VERSION AS OF 'branch'`. The new
    * snapshot's parent is the BRANCH head and its manifest list carries
    * the branch head's manifests, so repeated stages stack on the
    * branch; sequence numbers are table-global per the spec. Publish
    * with `fastForward` after the audit passes; abandon by dropping the
    * ref (`removeRef`) and letting expire/vacuum reclaim.
    */
  def appendToBranch(spark: SparkSession, location: String, df: DataFrame,
      branch: String): Unit = {
    if (branch == "main")
      throw UnsupportedOperationError(
        "appendToBranch: use append for main — branch staging targets a side branch")
    val stCur = IcebergLog.state(spark, location)
    val refType = (stCur.meta \ "refs" \ branch \ "type").extractOpt[String]
    if (refType.isEmpty)
      throw graft.catalog.DoesNotExistError(
        s"iceberg: no branch '$branch' at $location (createBranch first)")
    if (refType.get != "branch")
      throw UnsupportedOperationError(s"iceberg: ref '$branch' is a tag, not a branch")
    val headId = IcebergLog.refSnapshotId(stCur.meta, branch).get
    val stB = IcebergLog.state(spark, location, Some(headId))
    val f = IcebergLog.fs(spark, location)
    // the same validation every other write path applies — a staged
    // branch publishes to main via fastForward, so constraint-violating
    // rows must be refused HERE, not discovered after the publish
    val props = IcebergLog.propertiesOf(stB.meta)
    val data = Constraints.enforce(
      GeneratedColumns.validate(conformed(stB.schema, df), stB.schema), props, stB.schema)
    val specFields = resolvedSpecFields(stB.meta)
    val partFields = specFields.map(sf => sf.name -> sf.resultType)
    val topIds = IcebergLog.topFields(stB.meta).map { case (id, n, _) => n -> id }.toMap
    val added = stage(spark, location, data, specFields,
      IcebergLog.currentSchemaJson(stB.meta), IcebergLog.sortOrderFields(stB.meta))
    val seq = lastSeq(stCur.meta) + 1
    val snapId = nextSnapId(stCur.meta)
    val now = System.currentTimeMillis()
    val entrySchema = entrySchemaFor(partFields)
    val (mPath, mLen, mRows) = writeManifest(f, location, entrySchema, added,
      stB.schema, partFields, topIds, snapId, seq, content = 0)
    val ml = priorManifestRecords(spark, location, stB) :+
      mlRecord(mPath.toString, mLen, 0, seq, snapId, added.size, mRows)
    val mlPath = writeManifestList(f, location, snapId, ml)
    val snap = snapshotJson(snapId, now, seq, mlPath, "append", Some(headId))
    // commit: snapshots += snap, refs[branch] -> snap; main untouched
    val meta = stCur.meta.asInstanceOf[JObject]
    val priorSnaps = (meta \ "snapshots").extractOrElse[Seq[JValue]](Seq.empty)
    val refs = (meta \ "refs") match {
      case JObject(fields) => fields.map {
        case (n, v) if n == branch => n -> v.replace(List("snapshot-id"), JLong(snapId))
        case other => other
      }
      case _ => Nil
    }
    val priorMetaLog = (meta \ "metadata-log").extractOrElse[Seq[JValue]](Seq.empty)
    val prevEntry: JValue = JObject(
      "timestamp-ms" -> JLong((meta \ "last-updated-ms").extractOrElse[Long](0L)),
      "metadata-file" -> JString(new Path(IcebergLog.metadataDir(location),
        s"v${stCur.metadataVersion}.metadata.json").toString))
    val managed = Set("last-sequence-number", "last-updated-ms", "snapshots",
      "metadata-log", "refs")
    val kept = meta.obj.filterNot { case (k, _) => managed.contains(k) }
    val body = JsonMethods.compact(JsonMethods.render(JObject(kept ++ List[(String, JValue)](
      "last-sequence-number" -> JLong(seq),
      "last-updated-ms" -> JLong(now),
      "refs" -> JObject(refs),
      "snapshots" -> JArray((priorSnaps :+ (snap: JValue)).toList),
      "metadata-log" -> JArray((priorMetaLog :+ prevEntry).toList)))))
    writeMetadata(f, location, stCur.metadataVersion + 1, body)
  }

  /** WRITE-AUDIT-PUBLISH, publish half: fast-forward `main` to the head
    * of `branch`. Refused unless main's current snapshot is an ANCESTOR
    * of the branch head (walking parent-snapshot-id) — the fast-forward
    * invariant that guarantees publishing loses nothing that landed on
    * main; a diverged main needs a fresh staging cycle instead. One
    * metadata-only commit moves `current-snapshot-id`, the `main` ref,
    * and the snapshot-log together.
    */
  def fastForward(spark: SparkSession, location: String, branch: String): Unit = {
    val st = IcebergLog.state(spark, location)
    val target = IcebergLog.refSnapshotId(st.meta, branch).getOrElse(
      throw graft.catalog.DoesNotExistError(
        s"iceberg: no ref '$branch' at $location"))
    val mainHead = (st.meta \ "current-snapshot-id").extractOpt[Long].filter(_ != -1L)
    val parents: Map[Long, Option[Long]] =
      (st.meta \ "snapshots").extractOrElse[Seq[JValue]](Seq.empty).map(s =>
        (s \ "snapshot-id").extract[Long] ->
          (s \ "parent-snapshot-id").extractOpt[Long]).toMap
    def isAncestor(of: Long, candidate: Option[Long]): Boolean = candidate match {
      case None => false
      case Some(c) if c == of => true
      case Some(c) => isAncestor(of, parents.get(c).flatten)
    }
    mainHead.foreach { h =>
      if (h != target && !isAncestor(h, Some(target)))
        throw UnsupportedOperationError(
          s"iceberg: cannot fast-forward main to '$branch' — main ($h) is not an " +
            s"ancestor of the branch head ($target); main has diverged")
    }
    val now = System.currentTimeMillis()
    val priorLog = (st.meta \ "snapshot-log").extractOrElse[Seq[JValue]](Seq.empty)
    val refs = (st.meta \ "refs") match {
      case JObject(fields) =>
        val hasMain = fields.exists(_._1 == "main")
        val updated = fields.map {
          case ("main", v) => "main" -> v.replace(List("snapshot-id"), JLong(target))
          case other => other
        }
        if (hasMain) updated
        else updated :+ ("main" -> (JObject("snapshot-id" -> JLong(target),
          "type" -> JString("branch")): JValue))
      case _ => List("main" -> (JObject("snapshot-id" -> JLong(target),
        "type" -> JString("branch")): JValue))
    }
    commitMetaOnly(IcebergLog.fs(spark, location), location, st, Map(
      "current-snapshot-id" -> JLong(target),
      "refs" -> JObject(refs),
      "snapshot-log" -> JArray((priorLog :+ (JObject(
        "timestamp-ms" -> JLong(now), "snapshot-id" -> JLong(target)): JValue)).toList)))
  }

  /** Declare the table's sort order (spec "Sort Orders"): a fresh order
    * under a new order-id becomes default-sort-order-id in one
    * metadata-only commit. Every subsequent write range-partitions and
    * locally sorts its data by the order, so per-file min/max bounds on
    * the sort columns tighten and scans prune — Iceberg's
    * write.sort-order behavior. Ascending sorts nulls-first, descending
    * nulls-last (the iceberg-java defaults).
    */
  def setSortOrder(spark: SparkSession, location: String,
      cols: Seq[(String, Boolean)]): Unit = {
    require(cols.nonEmpty, "setSortOrder needs at least one column")
    val st = IcebergLog.state(spark, location)
    val byName = IcebergLog.topFields(st.meta).map { case (id, n, _) => n -> id }.toMap
    val prior = (st.meta \ "sort-orders").extractOrElse[Seq[JValue]](Seq.empty)
    val nextId = prior.flatMap(o => (o \ "order-id").extractOpt[Int]).maxOption.getOrElse(0) + 1
    val fields = cols.map { case (c, asc) =>
      val id = byName.getOrElse(c, throw UnsupportedOperationError(
        s"iceberg: sort column '$c' is not in the schema"))
      JObject("transform" -> JString("identity"), "source-id" -> JInt(id),
        "direction" -> JString(if (asc) "asc" else "desc"),
        "null-order" -> JString(if (asc) "nulls-first" else "nulls-last")): JValue
    }
    commitMetaOnly(IcebergLog.fs(spark, location), location, st, Map(
      "sort-orders" -> JArray((prior :+ (JObject(
        "order-id" -> JInt(nextId), "fields" -> JArray(fields.toList)): JValue)).toList),
      "default-sort-order-id" -> JInt(nextId)))
  }

  /** Drop a tag or branch by name (the implicit `main` cannot be
    * dropped — it is the table's current pointer).
    */
  def removeRef(spark: SparkSession, location: String, name: String): Unit = {
    if (name == "main") throw UnsupportedOperationError(
      "iceberg: the main branch is the table's current pointer and cannot be dropped")
    val st = IcebergLog.state(spark, location)
    val prior = (st.meta \ "refs") match {
      case JObject(fields) => fields
      case _ => Nil
    }
    if (!prior.exists(_._1 == name))
      throw graft.catalog.DoesNotExistError(s"iceberg: no ref '$name' at $location")
    commitMetaOnly(IcebergLog.fs(spark, location), location, st,
      Map("refs" -> JObject(prior.filterNot(_._1 == name))))
  }

  private[tables] def lastSeq(meta: JValue): Long =
    (meta \ "last-sequence-number").extractOrElse[Long](0L)

  private[tables] def nextSnapId(meta: JValue): Long =
    IcebergLog.snapshots(meta).map(_.snapshotId).maxOption.getOrElse(0L) + 1

  private[tables] def priorManifestRecords(spark: SparkSession, location: String,
      st: IcebergLog.IceState): Seq[GenericRecord] =
    st.snapshotId.toSeq.flatMap { id =>
      val ml = IcebergLog.snapshots(st.meta).find(_.snapshotId == id).get.manifestList
      IcebergLog.readAvro(IcebergLog.fs(spark, location), IcebergLog.resolve(location, ml))
    }.map(carry)

  /** Identity partition columns with their types; refuses appends through
    * specs this writer cannot compute (non-identity transforms).
    */
  /** The DEFAULT spec's fields resolved against the live schema — the
    * shape every write stages and serializes by. Refuses only transforms
    * this writer cannot evaluate (unknown strings, spec-undefined type
    * pairs surface later from IceTransforms.column).
    */
  private[tables] def resolvedSpecFields(meta: JValue): Seq[IcebergLog.ResolvedSpecField] = {
    val defaultSpec = (meta \ "default-spec-id").extractOrElse[Int](0)
    val byId = IcebergLog.topFields(meta).map { case (id, n, dt) => id -> ((n, dt)) }.toMap
    IcebergLog.specsById(meta).getOrElse(defaultSpec, Seq.empty).map { sf =>
      val t = IceTransforms.parseSpec(sf.transform).getOrElse(throw UnsupportedOperationError(
        s"iceberg writer: unknown partition transform '${sf.transform}'"))
      val (src, dt) = byId.getOrElse(sf.sourceId, throw UnsupportedOperationError(
        s"iceberg writer: partition source id ${sf.sourceId} is not in the schema"))
      IcebergLog.ResolvedSpecField(sf.name, t, src, dt)
    }
  }

  /** (specFieldName, RESULT type) pairs of the default spec — the
    * partition-tuple shape manifest entries serialize.
    */
  private[tables] def writablePartFields(st: IcebergLog.IceState): Seq[(String, DataType)] =
    resolvedSpecFields(st.meta).map(f => f.name -> f.resultType)

  /** STRICT schema gate through the Iceberg type bridge (short/byte ride
    * as int etc.), returning the frame cast to the table schema.
    */
  private[tables] def conformed(schema: StructType, df: DataFrame): DataFrame = {
    val (json, _, _) = icebergSchemaJson(df.schema)
    val bridged = IcebergLog.structOf(JsonMethods.parse(json))
    graft.types.SchemaEquality.requireEqual(schema, bridged)
    df.select(schema.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)
  }

  /** Create a v2 Iceberg table with `df` as snapshot 1. Each
    * `partitionColumns` entry is a bare column name (identity) or a
    * HIDDEN-PARTITIONING transform — `bucket(16, col)`, `truncate(4, col)`,
    * `year(col)` / `month(col)` / `day(col)` / `hour(col)` — staged
    * through the spec-mandated transforms (murmur3 bucket, UTC temporal
    * binning) so any Iceberg engine prunes this table's files.
    */
  def create(spark: SparkSession, location: String, df: DataFrame,
      partitionColumns: Seq[String] = Seq.empty,
      properties: Map[String, String] = Map.empty): Unit = {
    if (IcebergLog.isIcebergTable(spark, location))
      throw graft.catalog.AlreadyExistsError(s"iceberg table already exists at $location")
    val f = IcebergLog.fs(spark, location)
    val (schemaJson, lastColId, topIds) = icebergSchemaJson(df.schema)
    val specFields = partitionColumns.map { spec =>
      val (c, t) = IceTransforms.parseUser(spec)
      val field = df.schema.fields.find(_.name == c).getOrElse(
        throw UnsupportedOperationError(s"partition column $c is not in the schema"))
      IceTransforms.column(t, col(c), field.dataType) // validates (transform, type)
      val rf = IcebergLog.ResolvedSpecField(IceTransforms.fieldName(c, t), t, c, field.dataType)
      avroTypeJson(rf.resultType) // validates the tuple is serializable
      rf
    }
    val partFields = specFields.map(sf => sf.name -> sf.resultType)
    val added = stage(spark, location, df, specFields, JsonMethods.parse(schemaJson))
    val snapId = 1L
    val now = System.currentTimeMillis()
    val entrySchema = entrySchemaFor(partFields)
    val (mPath, mLen, mRows) = writeManifest(f, location, entrySchema, added,
      df.schema, partFields, topIds, snapId, seq = 1L, content = 0)
    val mlPath = writeManifestList(f, location, snapId,
      Seq(mlRecord(mPath.toString, mLen, 0, 1L, snapId, added.size, mRows)))
    val specFieldsJson = specFields.zipWithIndex.map { case (sf, i) =>
      JObject("name" -> JString(sf.name), "transform" -> JString(sf.t.spec),
        "source-id" -> JInt(topIds(sf.source)), "field-id" -> JInt(1000 + i)): JValue
    }
    val body = JsonMethods.compact(JsonMethods.render(JObject(
      "format-version" -> JInt(2),
      "table-uuid" -> JString(java.util.UUID.randomUUID().toString),
      "location" -> JString(location),
      "last-sequence-number" -> JLong(1L),
      "last-updated-ms" -> JLong(now),
      "last-column-id" -> JInt(lastColId),
      "current-schema-id" -> JInt(0),
      "schemas" -> JArray(List(JsonMethods.parse(schemaJson))),
      "default-spec-id" -> JInt(0),
      "partition-specs" -> JArray(List(JObject(
        "spec-id" -> JInt(0), "fields" -> JArray(specFieldsJson.toList)))),
      "last-partition-id" -> JInt(999 + partitionColumns.size),
      "default-sort-order-id" -> JInt(0),
      "sort-orders" -> JArray(List(JObject(
        "order-id" -> JInt(0), "fields" -> JArray(Nil)))),
      "properties" -> JObject(properties.toList.map { case (k, v) => k -> JString(v) }),
      "current-snapshot-id" -> JLong(snapId),
      "snapshots" -> JArray(List(snapshotJson(snapId, now, 1L, mlPath, "append"))),
      "snapshot-log" -> JArray(List(JObject(
        "timestamp-ms" -> JLong(now), "snapshot-id" -> JLong(snapId)))),
      "metadata-log" -> JArray(Nil))))
    writeMetadata(f, location, 1L, body)
  }

  /** SHALLOW CLONE: a new, independent Iceberg table at `target` born
    * from the source's state at `metadataVersion` (default: current)
    * with ZERO data bytes copied. Spec-legal by construction: manifest
    * files are immutable and carry data/delete file paths as full paths
    * (spec "Manifests": `file_path` is a full URI), so the clone's one
    * snapshot simply re-lists the SOURCE's manifests from a fresh
    * manifest-list written in the TARGET's metadata directory — exactly
    * how Iceberg itself reuses manifests across snapshots. Everything
    * else in the source's metadata document (schemas with their field
    * ids, partition specs, sort orders, properties, format-version,
    * last-sequence-number) carries through VERBATIM, so id-based readers
    * and later schema evolution on the clone behave as on the source;
    * the clone gets a fresh table-uuid and starts its own history at
    * metadata v1. Position/equality deletes carry by reference with
    * their sequence numbers intact (the delete manifests travel in the
    * same manifest-list). Later commits to either table are invisible
    * to the other. Caveat (same as Delta shallow clone): expiring
    * snapshots on the SOURCE can delete data/delete/manifest files the
    * clone still references — see README's maintenance section.
    *
    * At 100 TB this is O(|current manifest-list|) driver I/O — a few
    * metadata-sized Avro reads and one JSON write; no task is launched.
    */
  def shallowClone(spark: SparkSession, source: String, target: String,
      metadataVersion: Option[Long] = None): Unit = {
    if (IcebergLog.isIcebergTable(spark, target) || TxLog.exists(spark, target) ||
        DeltaLog.isDeltaTable(spark, target))
      throw graft.catalog.AlreadyExistsError(s"CLONE target already has a table: $target")
    val st = IcebergLog.stateAt(spark, source, metadataVersion)
    val srcF = IcebergLog.fs(spark, source)
    val f = IcebergLog.fs(spark, target)
    val now = System.currentTimeMillis()
    val meta = st.meta.asInstanceOf[JObject]
    // every carried path must be self-describing (absolute or a full
    // URI): the clone's reader resolves relative paths against ITS OWN
    // location, which would silently point at the wrong files
    def selfDescribing(p: String) = {
      val hp = new Path(p)
      hp.isAbsolute || p.contains("://")
    }
    val snapFields: List[(String, JValue)] = st.snapshotId match {
      case Some(sid) =>
        val srcSnap = IcebergLog.snapshots(st.meta).find(_.snapshotId == sid).get
        val records = IcebergLog.readAvro(srcF,
          IcebergLog.resolve(source, srcSnap.manifestList))
        records.foreach { r =>
          val mp = r.get("manifest_path").toString
          if (!selfDescribing(mp))
            throw UnsupportedOperationError(
              s"SHALLOW CLONE: source manifest path is relative ($mp); " +
                "rewrite (compact) the source before cloning")
          IcebergLog.readAvro(srcF, IcebergLog.resolve(source, mp)).foreach { e =>
            val dfr = e.get("data_file").asInstanceOf[GenericRecord]
            val fp = String.valueOf(dfr.get("file_path"))
            if (!selfDescribing(fp))
              throw UnsupportedOperationError(
                s"SHALLOW CLONE: source manifest $mp records a relative " +
                  s"file path ($fp); rewrite (compact) the source before cloning")
          }
        }
        val mlPath = writeManifestList(f, target, sid, records.map(carry))
        // the clone's one snapshot is the source's, verbatim, with the
        // manifest-list swapped in and the (absent-here) parent dropped
        val srcSnapJson = (meta \ "snapshots").extractOrElse[Seq[JValue]](Seq.empty)
          .find(s => (s \ "snapshot-id").extractOpt[Long].contains(sid)).get
        val cloneSnap = srcSnapJson.removeField {
          case ("parent-snapshot-id", _) => true
          case _ => false
        }.replace(List("manifest-list"), JString(mlPath))
        List(
          "current-snapshot-id" -> (JLong(sid): JValue),
          "snapshots" -> JArray(List(cloneSnap)),
          "snapshot-log" -> JArray(List(JObject(
            "timestamp-ms" -> JLong(now), "snapshot-id" -> JLong(sid)))),
          "refs" -> JObject("main" -> JObject(
            "snapshot-id" -> JLong(sid), "type" -> JString("branch"))))
      case None => List(
        "current-snapshot-id" -> (JLong(-1L): JValue),
        "snapshots" -> JArray(Nil),
        "snapshot-log" -> JArray(Nil),
        "refs" -> JObject(Nil))
    }
    val managed = Set("table-uuid", "location", "last-updated-ms",
      "current-snapshot-id", "snapshots", "snapshot-log", "metadata-log", "refs")
    val kept = meta.obj.filterNot { case (k, _) => managed.contains(k) }
    val body = JsonMethods.compact(JsonMethods.render(JObject(
      kept ++ List[(String, JValue)](
        "table-uuid" -> JString(java.util.UUID.randomUUID().toString),
        "location" -> JString(target),
        "last-updated-ms" -> JLong(now),
        "metadata-log" -> JArray(Nil)) ++ snapFields)))
    writeMetadata(f, target, 1L, body)
  }

  /** Publish the CURRENT state of a real Delta table at `location` as
    * Apache Iceberg metadata over the SAME data files — the dual-format
    * pattern (Delta UniForm's shape: PROTOCOL.md-replayed state mirrored
    * into spec-compliant v2 Iceberg metadata): Delta stays the writable
    * source of truth, Iceberg engines read `<location>/metadata/` without
    * copying a byte. Re-publishing after new Delta commits appends a
    * fresh Iceberg snapshot carrying the current file set, with field
    * ids preserved across publishes so id-based readers survive schema
    * evolution. Refused for states Iceberg metadata cannot express over
    * shared files: live deletion vectors (purge/rewrite first) and
    * column-mapped tables (files carry physical names). Writes through
    * the Iceberg log on a published location are not meaningful — the
    * Delta log would not see them; keep Delta the write path.
    */
  /** Mint version-1 Iceberg v2 metadata at `location` over an EXISTING
    * file set — the create half shared by `publishFromDelta` (files from
    * a Delta snapshot) and `Convert.parquetToIceberg` (files from a
    * directory listing). Fresh field ids are assigned, hive-style
    * partition columns become an identity spec, and one manifest lists
    * the adds with whatever stats they carry — no data byte moves.
    */
  private[tables] def createFromFiles(spark: SparkSession, location: String,
      schema: StructType, partitionColumns: Seq[String],
      adds: Seq[TxLog.AddFile], properties: Map[String, String]): Unit = {
    val f = IcebergLog.fs(spark, location)
    val now = System.currentTimeMillis()
    val specFieldsOf = partitionColumns.map { c =>
      val field = schema.fields.find(_.name == c).getOrElse(
        throw UnsupportedOperationError(s"partition column $c is not in the schema"))
      IcebergLog.ResolvedSpecField(c, IceTransforms.Identity, c, field.dataType)
    }
    val partFields = specFieldsOf.map(sf => sf.name -> sf.resultType)
    val entrySchema = entrySchemaFor(partFields)
    val (schemaJson, lastColId, topIds) = icebergSchemaJson(schema)
    val snapId = 1L
    val (mPath, mLen, mRows) = writeManifest(f, location, entrySchema, adds,
      schema, partFields, topIds, snapId, seq = 1L, content = 0)
    val mlPath = writeManifestList(f, location, snapId,
      Seq(mlRecord(mPath.toString, mLen, 0, 1L, snapId, adds.size, mRows)))
    val specFieldsJson = specFieldsOf.zipWithIndex.map { case (sf, i) =>
      JObject("name" -> JString(sf.name), "transform" -> JString(sf.t.spec),
        "source-id" -> JInt(topIds(sf.source)), "field-id" -> JInt(1000 + i)): JValue
    }
    val body = JsonMethods.compact(JsonMethods.render(JObject(
      "format-version" -> JInt(2),
      "table-uuid" -> JString(java.util.UUID.randomUUID().toString),
      "location" -> JString(location),
      "last-sequence-number" -> JLong(1L),
      "last-updated-ms" -> JLong(now),
      "last-column-id" -> JInt(lastColId),
      "current-schema-id" -> JInt(0),
      "schemas" -> JArray(List(JsonMethods.parse(schemaJson))),
      "default-spec-id" -> JInt(0),
      "partition-specs" -> JArray(List(JObject(
        "spec-id" -> JInt(0), "fields" -> JArray(specFieldsJson.toList)))),
      "last-partition-id" -> JInt(999 + specFieldsOf.size),
      "default-sort-order-id" -> JInt(0),
      "sort-orders" -> JArray(List(JObject(
        "order-id" -> JInt(0), "fields" -> JArray(Nil)))),
      "properties" -> JObject(properties.toList.map { case (k, v) =>
        k -> (JString(v): JValue)
      }),
      "current-snapshot-id" -> JLong(snapId),
      "snapshots" -> JArray(List(snapshotJson(snapId, now, 1L, mlPath, "append"))),
      "snapshot-log" -> JArray(List(JObject(
        "timestamp-ms" -> JLong(now), "snapshot-id" -> JLong(snapId)))),
      "metadata-log" -> JArray(Nil))))
    writeMetadata(f, location, 1L, body)
  }

  def publishFromDelta(spark: SparkSession, location: String): Unit = {
    val snap = DeltaLog.snapshot(spark, location)
    if (snap.files.exists(_.deletionVector.exists(_.cardinality > 0)))
      throw UnsupportedOperationError(
        "delta table has live deletion vectors; purge them (copy-on-write rewrite) " +
          "before publishing iceberg metadata")
    if (snap.properties.get("delta.columnMapping.mode").exists(m => m == "name" || m == "id"))
      throw UnsupportedOperationError(
        "column-mapped delta tables store physical column names; iceberg publish " +
          "is not supported for them")
    val adds = snap.files.map(_.copy(deletionVector = None))
    val published = Map("graft.published-from" -> "delta",
      "graft.delta-version" -> snap.version.toString)
    if (!IcebergLog.isIcebergTable(spark, location))
      createFromFiles(spark, location, snap.schema, snap.partitionColumns, adds, published)
    else
      // a re-publish swaps the whole file set for the Delta snapshot's in
      // one "replace" snapshot; schema drift evolves with preserved ids
      TxTable.forIceberg(spark, location).commitWithRetryIf("PUBLISH") { ice =>
        Some(TxTable.Planned(adds, ice.files.map(_.path), snap.schema,
          ice.partitionColumns, ice.properties ++ published))
      }
  }

  /** Append `df` as a new snapshot (STRICT through the type bridge);
    * partitioned tables partition the incoming data by the default spec.
    * Runs TxTable's append, so constraints, generated columns, the stats
    * fold and the optimistic retry apply as on every other write.
    */
  def append(spark: SparkSession, location: String, df: DataFrame): Unit =
    TxTable.forIceberg(spark, location).append(
      conformed(IcebergLog.currentSchema(IcebergLog.metaOf(spark, location)), df))

  /** Replace the table's contents with `df` in one snapshot; prior
    * snapshots stay time-travelable through their own manifest lists.
    * With `adoptSchema` the frame's schema replaces the table's (schema
    * evolution OVERWRITE: surviving columns keep their field ids, the
    * spec keeps its transforms); partition source columns must survive
    * the new schema with their types.
    */
  def overwrite(spark: SparkSession, location: String, df: DataFrame,
      adoptSchema: Boolean = false): Unit = {
    val st = IcebergLog.state(spark, location)
    val t = TxTable.forIceberg(spark, location)
    if (!adoptSchema) t.overwrite(conformed(st.schema, df))
    else {
      // the spec's source ids must survive: a dropped or retyped source
      // column would take a new field id (or none)
      val bridged = IcebergLog.structOf(JsonMethods.parse(icebergSchemaJson(df.schema)._1))
      resolvedSpecFields(st.meta).find(sf => !bridged.fieldNames.contains(sf.source) ||
          bridged(sf.source).dataType != sf.sourceType).foreach { sf =>
        throw UnsupportedOperationError(
          s"overwrite schema drops or retypes partition source column ${sf.source}; " +
            "repartition the table instead")
      }
      t.overwrite(df, graft.catalog.SchemaEvolution.OVERWRITE)
    }
  }

  /** DELETE WHERE `predicate` (TxTable.deleteIceberg): whole files drop
    * when their partition tuples decide the predicate, otherwise a
    * position-delete snapshot (v2 merge-on-read) marks the matching rows.
    * No data file is rewritten. Returns the number of rows deleted.
    */
  def delete(spark: SparkSession, location: String, predicate: String): Long =
    TxTable.forIceberg(spark, location).deleteIceberg(predicate)

  /** Stage position-delete files for the live rows of `snap` matching
    * `predicate`: a distributed job finds the (exact manifest path,
    * position) pairs — the path translation broadcast is O(#files),
    * positions never funnel through the driver — and writes them as
    * sorted parquet with the spec's reserved field ids
    * (2147483546/2147483545) stamped so external planners recognize the
    * columns. Empty when no row matches.
    */
  private[tables] def stagePositionDeletes(spark: SparkSession, location: String,
      snap: TxLog.Snapshot, predicate: String): Seq[TxLog.AddFile] = {
    import org.apache.spark.sql.GraftColumnBridge.{toCol, toExpr}
    val lookup = snap.files.map(a => (DeletionVectors.normalizedUri(a.path), a.path))
    val lookupDf = spark.createDataFrame(lookup).toDF("__np", "file_path")
    val matches = IcebergCommitLog.liveRows(spark, location, snap, withMeta = true)
      .filter(expr(predicate))
      .select(toCol(NormalizedPath(toExpr(col(DeltaLog.FileMetaCol)))).as("__np"),
        col(DeltaLog.RowMetaCol).as("pos"))
      .join(broadcast(lookupDf), "__np")
    // spec: delete rows sorted by file_path then pos
    val fpMeta = new MetadataBuilder().putLong("parquet.field.id", 2147483546L).build()
    val posMeta = new MetadataBuilder().putLong("parquet.field.id", 2147483545L).build()
    val sorted = matches
      .repartitionByRange(col("file_path"), col("pos"))
      .sortWithinPartitions(col("file_path"), col("pos"))
      .select(col("file_path").as("file_path", fpMeta), col("pos").as("pos", posMeta))
    TxLog.stageData(spark, location, sorted, Seq.empty).filter(_.rows > 0)
  }

  /** DELETE BY KEY as an EQUALITY-DELETE snapshot (v2 merge-on-read — the
    * shape streaming upsert engines like Flink commit), through
    * TxTable.equalityDelete: the distinct key rows are written as a
    * parquet delete file whose columns carry the table's field ids, one
    * manifest with data_file.content=2 and `equality_ids` stamped joins
    * the prior manifests, and the new snapshot's sequence number scopes
    * the delete to every EARLIER data file — rows with the same keys
    * appended LATER survive, per spec. No data file is read or
    * rewritten: cost is O(distinct keys) regardless of table size, which
    * is why upsert engines write these. Returns the number of delete-key
    * rows committed.
    */
  def equalityDelete(spark: SparkSession, location: String,
      keyCols: Seq[String], keys: DataFrame): Long = {
    require(keyCols.nonEmpty, "equalityDelete requires at least one key column")
    TxTable.forIceberg(spark, location).equalityDelete(keyCols, keys)
  }

  /** Stage the distinct `keys` rows as one equality-delete file over
    * `keyCols`, typed and field-id-stamped by `snap`'s schema. None when
    * there are no keys.
    */
  private[tables] def stageEqualityDeletes(spark: SparkSession, location: String,
      snap: TxLog.Snapshot, keyCols: Seq[String],
      keys: DataFrame): Option[TxTable.DeleteFiles] = {
    val topIds = IcebergLog.topFields(IcebergLog.metaAt(spark, location, snap.version))
      .map { case (id, n, _) => n -> id }.toMap
    val missing = keyCols.filterNot(topIds.contains)
    if (missing.nonEmpty)
      throw UnsupportedOperationError(
        s"equalityDelete: columns ${missing.mkString(", ")} are not in the table schema")
    val typed = keyCols.map { c =>
      val meta = new MetadataBuilder().putLong("parquet.field.id", topIds(c).toLong).build()
      col(c).cast(snap.schema(c).dataType).as(c, meta)
    }
    val staged = TxLog.stageData(spark, location, keys.select(typed.toIndexedSeq: _*).distinct(),
      Seq.empty).filter(_.rows > 0)
    Option.when(staged.nonEmpty)(TxTable.DeleteFiles(staged, keyCols.map(topIds)))
  }
}
