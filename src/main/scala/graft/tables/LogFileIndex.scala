package graft.tables

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference,
  Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata,
  HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

/** The one read path of all three commit logs: a Spark `FileIndex`
  * whose listing IS the log snapshot (Delta's TahoeFileIndex design,
  * Armbrust et al., VLDB 2020). Paths and sizes come from the log's
  * AddFiles, so a read never lists a directory; partition values come
  * from the log too (typed by the same string cast for every log, so
  * hive-path escaping, absolute SHALLOW CLONE paths, Delta physical
  * directory names and Iceberg's opaque layouts all read alike).
  *
  * `listFiles` prunes on Spark's own resolved filters, so `toDF`, SQL
  * and `scan(p)` reads all skip files the same way: partition filters
  * evaluate exactly against the typed values (Spark does not re-apply
  * them after the scan), data filters prune conservatively through
  * the log's min/max/null counts, Iceberg transform values and the
  * Bloom sidecar (Spark re-applies them to the surviving rows).
  *
  * Change feeds read the same way: each entry's commit tags are
  * partition values of its file (`tagged`), so a feed over any number
  * of commits is one relation.
  *
  * The index holds the snapshot's own AddFile list and builds
  * `FileStatus`es per call, so a memoized plan keeps no second
  * per-file copy.
  *
  * @param snap pruning context: schema, partition columns, properties
  * @param files the files this relation reads (a subset of the
  *   snapshot's list when a read splits by DV or rename era)
  * @param transforms Iceberg hidden-partition fields
  *   (specFieldName, transform, sourceColumn)
  * @param logicalNames read column → snapshot column, for relations that
  *   read physical names (Delta column mapping)
  */
private[tables] final class LogFileIndex(
    spark: SparkSession,
    private val location: String,
    snap: TxLog.Snapshot,
    private val files: Seq[TxLog.AddFile],
    override val partitionSchema: StructType,
    transforms: Seq[(String, IceTransforms.T, String)],
    logicalNames: Map[String, String]) extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(new Path(location))

  // two reads of the same files are the same relation (plan reuse and
  // cache lookups compare relations)
  override def equals(o: Any): Boolean = o match {
    case x: LogFileIndex => x.location == location &&
      x.partitionSchema == partitionSchema && ((x.files eq files) || x.files == files)
    case _ => false
  }

  override def hashCode: Int = (location, files.size, partitionSchema).##

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.iterator.map(_.sizeBytes).sum

  override def inputFiles: Array[String] = {
    val q = LogFileIndex.qualifier(spark, location)
    files.map(f => q(f.path).toString).toArray
  }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = LogFileIndex.prune(spark, location, snap, files,
      (partitionFilters ++ dataFilters).map(_.transform {
        case a: AttributeReference if logicalNames.contains(a.name) =>
          a.withName(logicalNames(a.name))
      }), transforms)
    val q = LogFileIndex.qualifier(spark, location)
    val keep = partitionFilters.reduceOption(And).map { e =>
      Predicate.createInterpreted(e.transform { case a: AttributeReference =>
        val i = partitionSchema.fieldNames.indexOf(a.name)
        BoundReference(i, partitionSchema(i).dataType, nullable = true)
      })
    }
    val tz = Some(SQLConf.get.sessionLocalTimeZone)
    // one directory per partition tuple, in log order
    val byTuple = new java.util.LinkedHashMap[Seq[String], Seq[TxLog.AddFile]]()
    kept.foreach { f =>
      val key = partitionSchema.fieldNames.toSeq.map(f.partitionValues.getOrElse(_, null))
      byTuple.merge(key, Seq(f), (a, b) => a ++ b)
    }
    val out = Seq.newBuilder[PartitionDirectory]
    byTuple.forEach { (key, fs) =>
      val row = InternalRow.fromSeq(partitionSchema.fields.toSeq.zip(key).map {
        case (_, null | "__HIVE_DEFAULT_PARTITION__") => null
        case (field, raw) => Cast(Literal(raw), field.dataType, tz).eval()
      })
      if (keep.forall(_.eval(row)))
        out += PartitionDirectory(row, fs.map(f => FileStatusWithMetadata(
          new FileStatus(f.sizeBytes, false, 0, 1, 0, q(f.path)))))
    }
    out.result()
  }
}

private[tables] object LogFileIndex {

  /** Files of `files` that may hold a row passing every filter: log
    * min/max/null counts and partition values, then Iceberg transform
    * values, then the Bloom sidecar. Filters may be resolved (a scan's
    * pushed filters) or parsed; anything unrecognized keeps the file.
    */
  def prune(spark: SparkSession, location: String, snap: TxLog.Snapshot,
      files: Seq[TxLog.AddFile], filters: Seq[Expression],
      transforms: Seq[(String, IceTransforms.T, String)]): Seq[TxLog.AddFile] = {
    val conjuncts = filters.flatMap(FileStats.prunableConjuncts)
    val byStats = FileStats.survivingFiles(snap, files, conjuncts)
    BloomIndex.prune(spark, location, snap,
      IcebergLog.transformSurvivors(snap.schema, transforms, byStats, conjuncts), filters)
  }

  /** A DataFrame over `files`: one HadoopFsRelation whose columns are
    * `dataSchema` (read from the files) then `partitionSchema` (from
    * the log).
    */
  def read(spark: SparkSession, location: String, snap: TxLog.Snapshot,
      files: Seq[TxLog.AddFile], dataSchema: StructType, partitionSchema: StructType,
      transforms: Seq[(String, IceTransforms.T, String)] = Seq.empty,
      logicalNames: Map[String, String] = Map.empty): DataFrame = {
    val parts = GraftColumnBridge.asNullable(partitionSchema)
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new LogFileIndex(spark, location, snap, files, parts, transforms, logicalNames),
      parts, GraftColumnBridge.asNullable(dataSchema), None, new ParquetFileFormat,
      Map.empty)(spark))
  }

  /** `snap.schema` over `files` with partition values from the log,
    * plus `metaSel` columns — the read of the native log and of
    * unmapped Delta tables.
    */
  def readSnapshot(spark: SparkSession, location: String, snap: TxLog.Snapshot,
      files: Seq[TxLog.AddFile], metaSel: Seq[org.apache.spark.sql.Column] = Seq.empty)
      : DataFrame = {
    val (parts, data) = snap.schema.fields.partition(f => snap.partitionColumns.contains(f.name))
    read(spark, location, snap, files, StructType(data), StructType(parts))
      .select(snap.schema.fieldNames.toIndexedSeq.map(n =>
        org.apache.spark.sql.functions.col(s"`$n`")) ++ metaSel: _*)
  }

  /** Change-feed tags: per-file constants a feed's read serves as
    * partition columns.
    */
  val ChangeTypeTag = StructField("_change_type", StringType)
  val CommitVersionTag = StructField("_commit_version", LongType)
  val CommitTimestampTag = StructField("_commit_timestamp", TimestampType)

  /** A commit instant as a tag value: ISO-8601 in UTC with a `Z`, which
    * the read's string cast resolves to the same instant in every
    * session time zone.
    */
  def timestampTag(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString

  /** `s` over a change feed's (file, tag values) entries: each AddFile
    * carries its `tags` values as partition values and the schema and
    * partition columns end with `tags`, so one read serves the tags like
    * partition values (and a filter on a tag prunes files). Split into
    * layers in which no path appears with two different deletion
    * vectors, because DV lookups key by path and a DV table re-adds the
    * same file with a new DV on each DELETE; a path repeated with the
    * same DV (a file inserted, then deleted, in one feed) reads once per
    * entry in one layer. Usually one layer. Never empty: a feed over no
    * files reads as one empty relation with the tagged schema.
    */
  def tagged(s: TxLog.Snapshot, tags: Seq[StructField],
      entries: Seq[(TxLog.AddFile, Seq[String])]): Seq[TxLog.Snapshot] = {
    val names = tags.map(_.name)
    // path → the DV it carries in layer i, at index i
    val dvsByPath = scala.collection.mutable.HashMap.empty[String,
      Vector[Option[DeletionVectors.Descriptor]]]
    val byLayer = entries.map { case (a, values) =>
      val dvs = dvsByPath.getOrElse(a.path, Vector.empty)
      val layer = dvs.indexOf(a.deletionVector) match {
        case -1 => dvsByPath(a.path) = dvs :+ a.deletionVector; dvs.size
        case i => i
      }
      layer -> a.copy(partitionValues = a.partitionValues ++ names.zip(values))
    }.groupMap(_._1)(_._2)
    val layers = if (byLayer.isEmpty) Seq(Seq.empty) else byLayer.keys.toSeq.sorted.map(byLayer)
    val schema = StructType(s.schema.fields ++ tags)
    layers.map(fs => s.copy(schema = schema, partitionColumns = s.partitionColumns ++ names,
      files = fs))
  }

  /** Number of files the planned log scans of `df` read, asked through
    * each scan's own `listFiles` (tests/inspection).
    */
  def filesScanned(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec if s.relation.location.isInstanceOf[LogFileIndex] =>
        s.relation.location.listFiles(s.partitionFilters, s.dataFilters).map(_.files.size).sum
    }.sum

  /** Log path → qualified Hadoop path, the form Spark's own listing
    * produces, so `_metadata.file_path` matches the keys the DV,
    * row-tracking and MERGE lookups build.
    */
  private def qualifier(spark: SparkSession, location: String): String => Path = {
    val fs = TxLog.fs(spark, location)
    p => {
      val path = new Path(TxLog.resolve(location, p))
      if (path.toUri.getScheme != null) path else fs.makeQualified(path)
    }
  }
}
