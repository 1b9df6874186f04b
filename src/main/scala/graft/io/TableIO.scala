package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.catalog._
import graft.tables.{DeltaLog, TxTable}
import graft.types.SchemaEquality

/** Table read/write dispatch — the reference's io layer
  * (/root/reference/uchelper/dataframe.py:191-445) re-expressed on Spark
  * readers/writers. Implements the full write-mode × schema-evolution
  * matrix of SURVEY.md §2.3, including its unsupported-combination guards
  * (each ✗ raises UnsupportedOperationError) and the post-write schema
  * reconciliation (W10) via the returned evolved schema.
  */
object TableIO {

  /** Strip a file:// scheme if present (reference enforces file:// URIs,
    * dataframe.py:192-196; Hadoop paths accept both).
    */
  def normalize(location: String): String =
    if (location.startsWith("file://")) location.stripPrefix("file://") else location

  // ---- reads (S1-S6) ----

  /** Read a table's current contents. One entry point serves both of the
    * reference's read_table/scan_table (Spark is uniformly lazy).
    */
  def read(spark: SparkSession, table: TableInfo): DataFrame = {
    val loc = normalize(table.storageLocation.getOrElse(
      throw UnsupportedOperationError(s"table ${table.fullName} has no storage location")))
    val schema = table.schema
    table.fileType match {
      case FileType.DELTA =>
        if (isForeignDelta(spark, loc)) DeltaLog.toDF(spark, loc)
        else TxTable.forLocation(spark, loc).toDF
      case FileType.ICEBERG =>
        graft.tables.IcebergLog.toDF(spark, loc)
      case FileType.PARQUET =>
        val partCols = table.partitionColumns
        if (partCols.nonEmpty)
          spark.read.option("basePath", loc).schema(schema).parquet(loc)
            .select(schema.fieldNames.map(col).toIndexedSeq: _*)
        else
          spark.read.schema(schema).parquet(loc)
      case FileType.CSV =>
        spark.read.schema(schema).option("header", "true").csv(loc)
      case FileType.AVRO =>
        AvroIO.read(spark, loc, Some(schema))
      case FileType.JSON =>
        spark.read.schema(schema).json(loc)
      case FileType.ORC =>
        spark.read.schema(schema).orc(loc)
      case FileType.TEXT =>
        spark.read.schema(schema).text(loc)
    }
  }

  /** Infer the schema + partition columns of existing storage (T2
    * register_as_table, reference client.py:489-535).
    */
  def inferSchema(spark: SparkSession, fileType: FileType, location: String): (StructType, Seq[String]) = {
    val loc = normalize(location)
    fileType match {
      case FileType.DELTA =>
        val snap =
          if (isForeignDelta(spark, loc)) DeltaLog.snapshot(spark, loc)
          else graft.tables.TxLog.snapshot(spark, loc)
        (snap.schema, snap.partitionColumns)
      case FileType.ICEBERG =>
        graft.tables.IcebergLog.schemaInfo(spark, loc)
      case FileType.PARQUET =>
        val df = spark.read.option("basePath", loc).parquet(loc)
        // partition columns = those not present in the data files
        val dataDf = spark.read.parquet(firstDataFile(spark, loc).getOrElse(loc))
        val partCols = df.schema.fieldNames.filterNot(dataDf.schema.fieldNames.contains).toSeq
        (df.schema, partCols)
      case FileType.CSV =>
        (spark.read.option("header", "true").option("inferSchema", "true").csv(loc).schema, Seq.empty)
      case FileType.AVRO =>
        (AvroIO.read(spark, loc, None).schema, Seq.empty)
      case FileType.JSON =>
        (spark.read.json(loc).schema, Seq.empty)
      case FileType.ORC =>
        (spark.read.orc(loc).schema, Seq.empty)
      case FileType.TEXT =>
        (spark.read.text(loc).schema, Seq.empty)
    }
  }

  /** A location holding a REAL Delta table (`_delta_log`) not managed by
    * the native TxLog. Native `_graft_log` wins if both exist (a table this
    * library created is always read through its own log).
    */
  private def isForeignDelta(spark: SparkSession, loc: String): Boolean =
    !graft.tables.TxLog.exists(spark, loc) && DeltaLog.isDeltaTable(spark, loc)

  private def firstDataFile(spark: SparkSession, dir: String): Option[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p) || fs.getFileStatus(p).isFile) return None
    graft.tables.TxLog.leafFiles(fs, p).find(_.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
  }

  // ---- writes (W1-W10, §2.3 matrix) ----

  /** Result of a write: the evolved schema (with partition indices
    * preserved) when schema evolution occurred, else None — the client
    * pushes it to the catalog (W10).
    */
  final case class WriteResult(evolvedColumns: Option[Seq[ColumnInfo]])

  def write(
      spark: SparkSession,
      table: TableInfo,
      df: DataFrame,
      mode: WriteMode,
      evolution: SchemaEvolution = SchemaEvolution.STRICT,
      partitionFilters: Seq[(String, String, String)] = Seq.empty,
      replaceWhere: Option[String] = None): WriteResult = {

    if (evolution == SchemaEvolution.OVERWRITE && mode != WriteMode.OVERWRITE)
      throw UnsupportedOperationError(
        "schema_evolution=OVERWRITE is only supported with mode=OVERWRITE") // dataframe.py:300-303

    val loc = normalize(table.storageLocation.getOrElse(
      throw UnsupportedOperationError(s"table ${table.fullName} has no storage location")))
    val partCols = table.partitionColumns

    def strictCheck(): Unit = SchemaEquality.requireEqual(table.schema, df.schema)

    (table.fileType, mode) match {
      // ---- DELTA: native `_graft_log` OR real `_delta_log`, one surface.
      // TxTable.forAnyLocation picks the commit backend; foreign Delta
      // tables get the identical evolution/replaceWhere/partition_filters
      // matrix, committed through the Delta protocol (CommitLog.scala) so
      // delta-rs / Delta-Spark keep reading the table.
      case (FileType.DELTA, WriteMode.APPEND) =>
        val t = TxTable.forAnyLocation(spark, loc)
        if (evolution == SchemaEvolution.STRICT) strictCheck()
        t.append(df, evolution)
        reconcile(spark, table, evolution)

      case (FileType.DELTA, WriteMode.OVERWRITE) =>
        val t = TxTable.forAnyLocation(spark, loc)
        if (evolution == SchemaEvolution.STRICT) strictCheck()
        if (replaceWhere.isDefined && partitionFilters.nonEmpty)
          throw UnsupportedOperationError("cannot combine replace_where with partition_filters")
        replaceWhere match {
          case Some(pred) => t.replaceWhere(df, pred, evolution)
          case None if partitionFilters.nonEmpty =>
            t.replaceWhere(df, compileFilters(partitionFilters), evolution)
          case None => t.overwrite(df, evolution)
        }
        reconcile(spark, table, evolution)

      // ---- ICEBERG: spec-compliant v2 snapshots through the SAME
      // TxTable surface Delta uses, so the full evolution/replaceWhere/
      // partition_filters matrix applies; external Iceberg readers keep
      // working after every operation (id-preserving schema evolution,
      // manifest-planned overwrites).
      case (FileType.ICEBERG, WriteMode.APPEND) =>
        val t = TxTable.forIceberg(spark, loc)
        if (evolution == SchemaEvolution.STRICT) strictCheck()
        t.append(df, evolution)
        reconcile(spark, table, evolution)

      case (FileType.ICEBERG, WriteMode.OVERWRITE) =>
        val t = TxTable.forIceberg(spark, loc)
        if (evolution == SchemaEvolution.STRICT) strictCheck()
        if (replaceWhere.isDefined && partitionFilters.nonEmpty)
          throw UnsupportedOperationError("cannot combine replace_where with partition_filters")
        replaceWhere match {
          case Some(pred) => t.replaceWhere(df, pred, evolution)
          case None if partitionFilters.nonEmpty =>
            t.replaceWhere(df, compileFilters(partitionFilters), evolution)
          case None => t.overwrite(df, evolution)
        }
        reconcile(spark, table, evolution)

      // ---- PARQUET ----
      case (FileType.PARQUET, WriteMode.APPEND) =>
        if (partCols.isEmpty)
          throw UnsupportedOperationError(
            "append to an unpartitioned parquet table is not supported") // dataframe.py:356-361
        if (evolution != SchemaEvolution.STRICT)
          throw UnsupportedOperationError(
            s"parquet append supports only STRICT schema evolution") // dataframe.py:432-435
        strictCheck()
        df.write.mode("append").partitionBy(partCols: _*).parquet(loc)
        WriteResult(None)

      case (FileType.PARQUET, WriteMode.OVERWRITE) =>
        if (evolution == SchemaEvolution.MERGE)
          throw UnsupportedOperationError("parquet overwrite does not support MERGE evolution")
        if (evolution == SchemaEvolution.STRICT) strictCheck()
        if (partCols.nonEmpty) {
          // dynamic partition overwrite == pyarrow delete_matching (W6):
          // only partitions present in df are replaced
          df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partCols: _*).parquet(loc)
        } else {
          writeSingleFile(spark, df, loc, "parquet")
        }
        adoptWrittenSchema(table, df, evolution)

      // ---- CSV ----
      case (FileType.CSV, WriteMode.APPEND) =>
        throw UnsupportedOperationError("append is not supported for CSV tables") // dataframe.py:427-430
      case (FileType.CSV, WriteMode.OVERWRITE) =>
        if (evolution == SchemaEvolution.MERGE)
          throw UnsupportedOperationError("CSV overwrite does not support MERGE evolution")
        if (evolution == SchemaEvolution.STRICT) strictCheck()
        writeSingleFile(spark, df, loc, "csv", Map("header" -> "true"))
        adoptWrittenSchema(table, df, evolution)

      // ---- AVRO ----
      case (FileType.AVRO, WriteMode.APPEND) =>
        throw UnsupportedOperationError("append is not supported for AVRO tables")
      case (FileType.AVRO, WriteMode.OVERWRITE) =>
        if (evolution == SchemaEvolution.MERGE)
          throw UnsupportedOperationError("AVRO overwrite does not support MERGE evolution")
        if (evolution == SchemaEvolution.STRICT) strictCheck()
        AvroIO.writeSingleFile(spark, df, loc)
        adoptWrittenSchema(table, df, evolution)

      // ---- JSON / ORC / TEXT (exceeding reference parity) ----
      case (FileType.JSON, WriteMode.OVERWRITE) =>
        if (evolution == SchemaEvolution.STRICT) strictCheck()
        writeSingleFile(spark, df, loc, "json")
        adoptWrittenSchema(table, df, evolution)
      case (FileType.ORC, WriteMode.OVERWRITE) =>
        if (evolution == SchemaEvolution.STRICT) strictCheck()
        writeSingleFile(spark, df, loc, "orc")
        adoptWrittenSchema(table, df, evolution)
      case (ft, m) =>
        throw UnsupportedOperationError(s"unsupported write: fileType=$ft mode=$m")
    }
  }

  /** Compile the reference's partition_filters tuples
    * ([("col", "=", "0"), ("col", ">", "x")], tests/test_dataframes.py:
    * 1068,1095) into a conjunctive SQL predicate; string values are cast by
    * comparison against the typed partition column.
    */
  def compileFilters(filters: Seq[(String, String, String)]): String =
    filters.map { case (c, op, v) =>
      val sqlOp = op match {
        case "=" | "==" => "="
        case "!=" | "<>" => "!="
        case ">" | ">=" | "<" | "<=" => op
        case other => throw UnsupportedOperationError(s"unsupported partition filter op '$other'")
      }
      s"`$c` $sqlOp '${v.replace("'", "''")}'"
    }.mkString(" AND ")

  /** After a non-STRICT DELTA write, diff the log schema against the
    * catalog record (W10) — "re-read and diff" self-heals engine-side
    * surprises (SURVEY §7.4.3).
    */
  private def reconcile(spark: SparkSession, table: TableInfo, evolution: SchemaEvolution): WriteResult = {
    if (evolution == SchemaEvolution.STRICT) WriteResult(None)
    else {
      val loc = normalize(table.storageLocation.get)
      val snap = TxTable.forAnyLocation(spark, loc).snapshot
      if (SchemaEquality.equal(table.schema, snap.schema)) WriteResult(None)
      else WriteResult(Some(mergeColumns(table, snap.schema)))
    }
  }

  private def adoptWrittenSchema(table: TableInfo, df: DataFrame, evolution: SchemaEvolution): WriteResult =
    if (evolution == SchemaEvolution.STRICT || SchemaEquality.equal(table.schema, df.schema)) WriteResult(None)
    else WriteResult(Some(mergeColumns(table, df.schema)))

  /** Build the evolved column list, preserving partition_index for
    * surviving columns (tests assert stability across evolution,
    * tests/test_dataframes.py:353-360,378-385).
    */
  private def mergeColumns(table: TableInfo, newSchema: StructType): Seq[ColumnInfo] = {
    val old = table.columns.map(c => c.name -> c).toMap
    newSchema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      old.get(f.name) match {
        case Some(c) => c.copy(dataType = graft.types.UcType.fromSpark(f.dataType), position = i,
          nullable = f.nullable)
        case None => ColumnInfo(f.name, graft.types.UcType.fromSpark(f.dataType), i, nullable = f.nullable)
      }
    }
  }

  /** Write a DataFrame as ONE file at `target` (the reference stores
    * unpartitioned CSV/Avro/Parquet as a single file, dataframe.py:392,
    * 403,416; Spark writes directories — so stage to a temp dir with a
    * single task and move the part file into place, SURVEY §7.4.1).
    * Inherently a single-writer operation — matches the reference's
    * single-file semantics; large tables should be DELTA/partitioned.
    */
  def writeSingleFile(spark: SparkSession, df: DataFrame, target: String,
      format: String, options: Map[String, String] = Map.empty): Unit = {
    val targetPath = new Path(target)
    val fs = targetPath.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new Path(targetPath.getParent, s".graft-tmp-${java.util.UUID.randomUUID()}")
    try {
      df.coalesce(1).write.options(options).format(format).save(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath)
        .find(p => p.getName.startsWith("part-"))
        .getOrElse(throw new java.io.IOException(s"no part file written under $tmp"))
      if (fs.exists(targetPath)) fs.delete(targetPath, false)
      if (!fs.rename(part, targetPath))
        throw new java.io.IOException(s"failed to move $part to $targetPath")
    } finally fs.delete(tmp, true)
  }
}
