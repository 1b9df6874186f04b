package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated TPC-H-ish tables (TESTDATA.md).
  * Plain parquet scans — filters/projections placed on top of these are
  * pushed into the scan by Catalyst (verified via .explain: PushedFilters).
  *
  * Every loader goes through [[load]], which remembers each file's
  * inferred parquet schema and reads with it. Without a schema,
  * `spark.read.parquet` runs a Spark job that opens a footer just to learn
  * the column types — one job per table per query, most of a warm query
  * build's cost. Like a table format that keeps its schema in metadata,
  * a warm load here starts no job. A memoized schema is reused only while
  * everything inference depends on is unchanged: the qualified path, the
  * (path, length, modification time) of every file under it (so an
  * overwrite, add or remove of any part file re-infers), and the session
  * confs that steer parquet schema inference and partition discovery.
  * Each call still builds a fresh relation, so self-joins keep distinct
  * attribute ids.
  */
object Tables {
  def region(s: SparkSession, dir: String): DataFrame   = load(s, s"$dir/region.parquet")
  def nation(s: SparkSession, dir: String): DataFrame   = load(s, s"$dir/nation.parquet")
  def customer(s: SparkSession, dir: String): DataFrame = load(s, s"$dir/customer.parquet")
  def supplier(s: SparkSession, dir: String): DataFrame = load(s, s"$dir/supplier.parquet")
  def part(s: SparkSession, dir: String): DataFrame     = load(s, s"$dir/part.parquet")
  def orders(s: SparkSession, dir: String): DataFrame   = load(s, s"$dir/orders.parquet")
  def lineitem(s: SparkSession, dir: String): DataFrame = load(s, s"$dir/lineitem.parquet")
  def documents(s: SparkSession, dir: String): DataFrame = load(s, s"$dir/documents.parquet")
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, s"$dir/embeddings.parquet")

  /** events.parquet has shipped with two physical shapes for `ts` across
    * fixture generations: TIMESTAMP(NANOS) (which Spark's vectorized reader
    * only accepts as a raw epoch-ns long via the nanosAsLong legacy flag)
    * and TIMESTAMP(MICROS). Normalize both to an epoch-nanosecond LongType
    * `ts` so every downstream query keeps doing exact integer arithmetic on
    * ns — which also agrees exactly with DuckDB's `epoch_ns(ts)` view of
    * the same column (real precision is µs in both cases, so ns = µs*1000
    * is lossless).
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw // nanos-as-long fixtures
      case _ => raw.withColumn("ts",
        org.apache.spark.sql.functions.unix_micros(
          raw("ts").cast(org.apache.spark.sql.types.TimestampType)) * 1000L)
    }
  }

  /** The parquet schema a read of `path` sees, memoized like [[load]]'s.
    * A failed inference (missing path, no files yet) throws and is not
    * remembered, so the next call infers again.
    */
  private[graft] def schemaOf(s: SparkSession, path: String): StructType = load(s, path).schema

  /** Everything a parquet schema inference depends on. */
  private final case class SchemaKey(path: String, files: Seq[(String, Long, Long)],
      confs: Seq[(String, String)])

  /** Session confs that change the inferred schema: the parquet reader's
    * type mappings (binaryAsString, int96AsTimestamp, inferTimestampNTZ,
    * nanosAsLong, mergeSchema, …) live under these prefixes.
    */
  private val InferencePrefixes = Seq("spark.sql.parquet.", "spark.sql.legacy.parquet.")
  private val InferenceConfs = Set("spark.sql.caseSensitive", "spark.sql.timestampType",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  /** Bounded LRU like SnapshotCache's: only StructTypes, never a session
    * or a DataFrame, so it is safe across sessions.
    */
  private val MaxSchemas = 64

  private val schemas = new java.util.LinkedHashMap[SchemaKey, StructType](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[SchemaKey, StructType]): Boolean =
      size() > MaxSchemas
  }

  private def load(s: SparkSession, path: String): DataFrame = {
    // list BEFORE inferring: a file rewritten mid-inference leaves its
    // schema under a key that no later listing produces
    val key = keyOf(s, path)
    schemas.synchronized(Option(schemas.get(key))) match {
      case Some(schema) => s.read.schema(schema).parquet(path)
      case None =>
        val df = s.read.parquet(path)
        // a user schema moves a partition column the data files also hold
        // to the end, so hive-partitioned reads infer every time
        val partitioned = df.queryExecution.analyzed.exists {
          case l: LogicalRelation => l.relation match {
            case r: HadoopFsRelation => r.partitionSchema.nonEmpty
            case _ => false
          }
          case _ => false
        }
        if (!partitioned) schemas.synchronized { schemas.put(key, df.schema); () }
        df
    }
  }

  private def keyOf(s: SparkSession, path: String): SchemaKey = {
    val p = new Path(path)
    val fs = graft.tables.TxLog.fs(s, path)
    // glob like the read does (stream sniffs pass `dir/*`); a missing path
    // matches nothing, and the read reports it
    val files = Option(fs.globStatus(p)).toSeq.flatten
      .flatMap(root => graft.tables.TxLog.leafFiles(fs, root.getPath))
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
    val confs = s.conf.getAll.toSeq.filter { case (k, _) =>
      InferenceConfs(k) || InferencePrefixes.exists(k.startsWith)
    }
    SchemaKey(fs.makeQualified(p).toString, files.sorted, confs.sorted)
  }
}
