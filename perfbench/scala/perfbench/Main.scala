package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** A workload: its fixtures, a warm-up on them, one closed-loop unit per
  * `step`, and `finish`, which gathers the outputs the checks need once
  * the timed phase is over. Units come in passes of `passLen`, each pass
  * holding the workload's whole op mix; the timed phase ends only between
  * passes.
  */
trait Workload {
  def passLen: Int
  def fixture(): Unit
  def warmup(): Unit
  def step(i: Int): Unit
  def hasMore: Boolean = true
  /** Whether unit i is traced in a traced run. Each position of a pass is
    * traced in every other pass, so over the two passes a traced run makes
    * (or any even number) traced and untraced units hold the same op mix.
    */
  def tracedUnit(i: Int): Boolean = ((i % passLen) + i / passLen) % 2 == 1
  def finish(): Map[String, Any]
}

/** Runs one workload for one seed's inputs and writes the raw run record
  * (ops, units, spans, Spark counters, check material) as JSON.
  *
  * args: workload inputDir workDir seconds trace(0|1) seed
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, inputDir, workDir, runSeconds, trace, seed) = args
    val traceRun = trace == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.sql.GraftSparkSessionExtensions")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val h = new Harness(spark, traceRun)
    val w: Workload = workload match {
      case "olap_headline" => new OlapHeadline(h, inputDir, workDir, seed.toLong)
      case "lakehouse_rw" => new LakehouseRw(h, inputDir, workDir)
      case "curation_ingest" => new CurationIngest(h, inputDir, workDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    def seconds(body: => Unit): Double = {
      val s = System.nanoTime()
      body
      (System.nanoTime() - s) / 1e9
    }
    val fixtureS = seconds(w.fixture())
    val warmupS = seconds(w.warmup())

    val budgetNs = (runSeconds.toDouble * 1e9).toLong
    val start = System.nanoTime()
    // whole passes only, and an even number of them in a traced run
    def boundary(i: Int): Boolean =
      i % w.passLen == 0 && (!traceRun || (i / w.passLen) % 2 == 0)
    h.timed {
      var i = 0
      while (w.hasMore && (System.nanoTime() - start < budgetNs || !boundary(i))) {
        h.unit(i, w.tracedUnit(i))(w.step(i))
        i += 1
      }
    }
    val end = System.nanoTime()
    val heapMb = h.retainedHeapMb()
    val checks = w.finish()

    val record = h.record ++ Map(
      "workload" -> workload, "cores" -> cores,
      "setup" -> Map("session_s" -> sessionS, "fixture_s" -> fixtureS, "warmup_s" -> warmupS),
      "timed" -> Map("t0" -> start, "t1" -> end),
      "retained_heap_mb" -> heapMb,
      "checks" -> checks)
    Files.writeString(Paths.get(workDir, "record.json"), Json(record))
    spark.stop()
  }
}
