package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.ext.{DedupIndex, NearDup}
import graft.functions.TextNativeFunctions
import graft.tables.TxTable

/** Continuous ingest into a `TxTable` corpus with a persisted MinHash
  * `DedupIndex`. Per arriving batch: `filterNew` (near-dup filter against
  * the index), the classifier filter on the survivors, an append of what
  * is kept, and an index refresh. A pass is two batches and then a
  * corpus-wide exact near-dup sweep, one unit each. The ids each call
  * returns are kept for the checks.
  */
final class CurationIngest(h: Harness, in: String, work: String) extends Workload {
  private val spark = h.spark
  private implicit val formats: Formats = DefaultFormats
  private val cfg = JsonMethods.parse(new File(s"$in/curation.json"))
  private val shingleK = (cfg \ "shingle_k").extract[Int]
  private val threshold = (cfg \ "threshold").extract[Double]
  private val batches: Vector[Seq[(Long, String, String)]] =
    (cfg \ "batches").children.toVector.map(_.children.map(d =>
      ((d \ "doc_id").extract[Long], (d \ "text").extract[String], (d \ "source").extract[String])))
  private val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType), StructField("source", StringType)))
  private val batchesPerPass = 2

  private var corpus: TxTable = null
  private var indexLoc = ""
  private var next = 0
  private var timedDocs = 0L

  private def docs(ds: Seq[(Long, String, String)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ds.map(d => Row(d._1, d._2, d._3)): _*), schema)

  def passLen: Int = batchesPerPass + 1

  /** The corpus table and its initial index build. */
  def fixture(): Unit = {
    val loc = s"$work/tables/corpus"
    indexLoc = s"$work/tables/index"
    TxTable.forLocation(spark, loc).create(spark.read.parquet(s"$in/corpus.parquet").repartition(2))
    corpus = TxTable.forLocation(spark, loc)
    DedupIndex.refresh(corpus, indexLoc, shingleK = shingleK)
  }

  /** One pass. */
  def warmup(): Unit = (0 until passLen).foreach(step)

  override def hasMore: Boolean = next < batches.size

  private def ids(rows: Array[Row]): Seq[Long] = rows.map(_.getLong(0)).toSeq.sorted

  /** A failed call ends its batch's chain; only batches whose documents
    * were filtered, classified and appended are logged for the checks.
    */
  private def batch(): Unit = {
    val b = batches(next)
    val done = for {
      survivors <- h.op("read.filter_new") {
        h.span("ext.filter_new")(ids(DedupIndex.filterNew(corpus, indexLoc, docs(b),
          shingleK = shingleK, threshold = threshold).select("doc_id").collect()))
      }
      kept <- h.op("ext.classify") {
        h.span("ext.classify")(ids(docs(b.filter(d => survivors.contains(d._1)))
          .select(col("doc_id"), TextNativeFunctions.classifierScore(col("text"))
            .as(Seq("n_tokens", "raw_score", "score", "keep")))
          .filter(col("keep")).select("doc_id").collect()))
      }
      _ <- h.op("write.append") {
        h.span("tables.write")(corpus.append(docs(b.filter(d => kept.contains(d._1)))))
      }
    } yield batchLog += Map("batch" -> next, "survivors" -> survivors, "kept" -> kept)
    val refreshed = h.op("ext.refresh") {
      h.span("ext.refresh")(DedupIndex.refresh(corpus, indexLoc, shingleK = shingleK))
    }
    // docs_per_s counts the documents of timed batches whose every call succeeded
    if (h.isRecording && done.isDefined && refreshed.isDefined) timedDocs += b.size
    next += 1
  }

  private val batchLog = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
  private var lastSweep: Seq[Seq[Long]] = Seq.empty

  private def sweep(): Unit =
    h.op("ext.sweep") {
      h.span("ext.sweep")(NearDup.prefixFilteredJaccardPairs(
        corpus.toDF.select("doc_id", "text"), shingleK = shingleK, threshold = threshold)
        .select("id_a", "id_b").collect())
    }.foreach(rs => lastSweep = rs.map(r => Seq(r.getLong(0), r.getLong(1))).toSeq)

  def step(i: Int): Unit = if (i % passLen < batchesPerPass) batch() else sweep()

  def finish(): Map[String, Any] = {
    def bytes(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(bytes).sum else f.length
    val tables = Seq("corpus" -> corpus, "index" -> TxTable.forLocation(spark, indexLoc))
    val storage = tables.map { case (name, t) =>
      val snap = t.snapshot
      name -> Map("live_files" -> snap.files.size, "live_bytes" -> snap.files.map(_.sizeBytes).sum,
        "stored_bytes" -> bytes(new File(t.location)))
    }.toMap
    Map("batches_done" -> next, "timed_docs" -> timedDocs, "batches" -> batchLog,
      "corpus_ids" -> ids(corpus.toDF.select("doc_id").collect()),
      "last_sweep" -> lastSweep, "storage" -> storage)
  }
}
