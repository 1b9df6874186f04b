package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.catalog.FileType
import graft.client.LakehouseClient
import graft.io.TableIO
import graft.tables.{DeltaLogWriter, SnapshotCache, TxTable}

/** Write → commit → SQL read over catalog tables on all three commit
  * logs. One script step targets one hot table: a write (an append, or a
  * MERGE / DELETE / UPDATE through SQL), then the first SQL read after
  * that commit, two warm reads, a metadata-servable aggregate and one read
  * of the cold ring (more tables than the snapshot cache holds). A round
  * (pass) is six steps: an append to each hot table, then a MERGE, a
  * DELETE and an UPDATE, one per table, rotating so that over three
  * rounds each kind meets each table. Every read's rows are kept for the
  * model check.
  */
final class LakehouseRw(h: Harness, in: String, work: String) extends Workload {
  private val spark = h.spark
  private val client = new LakehouseClient(spark)
  private implicit val formats: Formats = DefaultFormats
  private val script = JsonMethods.parse(new File(s"$in/lakehouse.json"))
  private val steps = (script \ "steps").children.toVector
  private val hot = Seq("native", "delta", "iceberg")
  private val logDirs = Map("native" -> "_graft_log", "delta" -> "_delta_log", "iceberg" -> "metadata")
  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("p", StringType),
    StructField("k", IntegerType), StructField("v", LongType), StructField("s", StringType)))
  private val round = 6

  private var cat = ""
  private var next = 0

  private def rows(j: JValue): DataFrame = {
    val rs = j.children.map { r =>
      val Seq(id, p, k, v, s) = r.children
      Row(id.extract[Long], p.extract[String], k.extract[Int], v.extract[Long], s.extract[String])
    }
    spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
  }

  private def location(t: String): String = s"$work/tables/$cat/$t"

  def passLen: Int = round

  /** Catalog, the three hot tables and the cold ring. The ring is one
    * table created through graft and copied file by file to each ring
    * location (logs hold relative paths), then registered in the catalog.
    */
  def fixture(): Unit = {
    cat = "lh"
    client.createCatalog(cat)
    client.createSchema(cat, "hot")
    client.createSchema(cat, "cold")
    val tables = script \ "tables"
    client.createAsTable(rows(tables \ "native").repartition(2), cat, "hot", "native",
      FileType.DELTA, location("native"), Seq("p"))
    DeltaLogWriter.create(spark, location("delta"), rows(tables \ "delta").repartition(2), Seq("p"))
    client.registerAsTable(cat, "hot", "delta", FileType.DELTA, location("delta"))
    client.createAsTable(rows(tables \ "iceberg").repartition(2), cat, "hot", "iceberg",
      FileType.ICEBERG, location("iceberg"), Seq("p"))
    val template = location("cold/template")
    TxTable.forLocation(spark, template).create(rows(script \ "cold_rows").coalesce(1))
    (0 until (script \ "cold_tables").extract[Int]).foreach { c =>
      copyTree(Paths.get(template), Paths.get(location(s"cold/c$c")))
      client.registerAsTable(cat, "cold", s"c$c", FileType.DELTA, location(s"cold/c$c"))
    }
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally walk.close()
  }

  /** One round, so the timed phase starts on a round of the script. */
  def warmup(): Unit = (0 until round).foreach(step)

  override def hasMore: Boolean = next < steps.size

  private def sqlRows(cls: String, q: String): Unit = {
    val out = h.op(cls, q) {
      val df = h.span("sql.query")(spark.sql(q))
      h.span("spark.collect")(df.collect())
    }
    out.filter(_ => h.isRecording).foreach { rs =>
      h.last.result = Map("step" -> (next), "rows" ->
        rs.map(r => r.toSeq.map {
          case null => null
          case n: java.lang.Number => n.longValue
          case x => x.toString
        }))
    }
  }

  /** Log-directory listing (name → bytes) of a hot table, for the write
    * counters of traced units.
    */
  private def logFiles(t: String): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(location(t), logDirs(t))).map(f => f.getPath -> f.length).toMap
  }

  private def liveFiles(t: String): Long =
    SnapshotCache.latest(spark, TableIO.normalize(location(t)))._2.files.size.toLong

  def step(i: Int): Unit = {
    val st = steps(next)
    val t = (st \ "table").extract[String]
    val fq = s"$cat.hot.$t"
    val kind = (st \ "kind").extract[String]
    val before = if (h.traced) logFiles(t) else Map.empty[String, Long]
    kind match {
      case "append" =>
        val batch = rows(st \ "rows")
        h.op("write.append", t) {
          val tx = h.span("catalog.resolve")(client.getTxTable(cat, "hot", t))
          h.span("tables.write")(tx.append(batch))
        }
      case "merge" =>
        rows(st \ "rows").createOrReplaceTempView("merge_src")
        h.op("write.merge", t) {
          h.span("sql.query")(spark.sql(
            s"""MERGE INTO $fq AS t USING merge_src AS s ON t.id = s.id
               |WHEN MATCHED THEN UPDATE SET v = s.v, s = s.s
               |WHEN NOT MATCHED THEN INSERT (id, p, k, v, s) VALUES (s.id, s.p, s.k, s.v, s.s)"""
              .stripMargin))
        }
      case "delete" =>
        h.op("write.delete", t) {
          h.span("sql.query")(spark.sql(s"DELETE FROM $fq WHERE k = ${(st \ "k").extract[Int]}"))
        }
      case "update" =>
        h.op("write.update", t) {
          h.span("sql.query")(spark.sql(
            s"UPDATE $fq SET v = v + ${(st \ "delta").extract[Int]} WHERE k = ${(st \ "k").extract[Int]}"))
        }
    }
    if (h.traced && h.ops.nonEmpty) {
      val after = logFiles(t)
      val added = after.keySet -- before.keySet
      val names = added.map(p => new File(p).getName)
      val c = h.last.counters
      c("write") = 1
      c("versions") = names.count(n => n.matches("\\d{20}\\.json") || n.matches("v\\d+\\.metadata\\.json")).toDouble
      c("log_bytes") = added.toSeq.map(after).sum.toDouble
      c("checkpoints") = names.count(_.contains("checkpoint")).toDouble
    }
    sqlRows("read.fresh", s"SELECT id, v FROM $fq WHERE k = ${(st \ "fresh_k").extract[Int]}")
    scanCounters(t)
    sqlRows("read.point", s"SELECT id, v FROM $fq WHERE k = ${(st \ "point_k").extract[Int]}")
    scanCounters(t)
    sqlRows("read.part_agg",
      s"SELECT k % 10 AS b, COUNT(*) AS n, SUM(v) AS sv FROM $fq " +
        s"WHERE p = '${(st \ "part").extract[String]}' GROUP BY 1")
    scanCounters(t)
    sqlRows("read.meta_agg", s"SELECT COUNT(*) AS n, MIN(id) AS lo, MAX(id) AS hi FROM $fq")
    sqlRows("read.cold",
      s"SELECT COUNT(*) AS n, SUM(v) AS sv FROM $cat.cold.c${(st \ "cold").extract[Int]} " +
        s"WHERE k < ${(st \ "cold_k").extract[Int]}")
    next += 1
  }

  /** Live data files of the table a traced scan read, for files_read_ratio. */
  private def scanCounters(t: String): Unit =
    if (h.traced && h.ops.nonEmpty && h.last.ok) h.last.counters("live_files") = liveFiles(t).toDouble

  def finish(): Map[String, Any] = {
    val dumps = hot.map { t =>
      t -> spark.sql(s"SELECT id, p, k, v, s FROM $cat.hot.$t").collect().map(r =>
        Seq(r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3), r.getString(4))).toSeq
    }.toMap
    val storage = hot.map { t =>
      val snap = SnapshotCache.latest(spark, TableIO.normalize(location(t)))._2
      def bytes(f: File): Long =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(bytes).sum else f.length
      t -> Map("live_files" -> snap.files.size, "live_bytes" -> snap.files.map(_.sizeBytes).sum,
        "stored_bytes" -> bytes(new File(location(t))))
    }.toMap
    Map("steps_done" -> next, "warm_steps" -> round, "tables" -> dumps, "storage" -> storage)
  }
}
