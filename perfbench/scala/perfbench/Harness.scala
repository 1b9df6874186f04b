package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the run record (maps, sequences, numbers,
  * strings, booleans, null).
  */
object Json {
  def apply(v: Any): String = { val sb = new StringBuilder; write(v, sb); sb.toString }

  private def write(v: Any, sb: StringBuilder): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(x, sb)
    case s: String => quote(s, sb)
    case b: Boolean => sb ++= b.toString
    case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case f: Float => write(f.toDouble, sb)
    case n: java.lang.Number => sb ++= n.toString
    case m: collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','
        first = false
        quote(k.toString, sb); sb += ':'; write(x, sb)
      }
      sb += '}'
    case a: Array[_] => write(a.toSeq, sb)
    case s: Iterable[_] =>
      sb += '['
      var first = true
      s.foreach { x => if (!first) sb += ','; first = false; write(x, sb) }
      sb += ']'
    case other => quote(other.toString, sb)
  }

  private def quote(s: String, sb: StringBuilder): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}

/** One call of the closed-loop client. `result` holds what the call
  * returned, for the output checks; `counters` holds per-op counts taken
  * at the layer boundaries in traced units.
  */
final class OpRec(val id: Int, val cls: String, val label: String, val unit: Int,
    val traced: Boolean, val t0: Long) {
  var t1 = 0L
  var ok = false
  var err: String = null
  val counters = mutable.LinkedHashMap.empty[String, Double]
  var result: Any = null
  def toMap: Map[String, Any] = Map("id" -> id, "cls" -> cls, "label" -> label, "unit" -> unit,
    "traced" -> traced, "t0" -> t0, "t1" -> t1, "ok" -> ok, "err" -> err,
    "counters" -> counters, "result" -> result)
}

/** A span around one call into a layer: name, interval, parent span, op. */
final class SpanRec(val id: Int, val name: String, val parent: Int, val op: Int, val t0: Long) {
  var t1 = 0L
  def toMap: Map[String, Any] =
    Map("id" -> id, "name" -> name, "parent" -> parent, "op" -> op, "t0" -> t0, "t1" -> t1)
}

/** Spark job/task counters, registered only while a traced unit runs. */
final class JobProbe extends SparkListener {
  final class Job(val id: Int, val t0Ms: Long) {
    var t1Ms = 0L
    var tasks, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    def toMap: Map[String, Any] = Map("id" -> id, "t0_ms" -> t0Ms, "t1_ms" -> t1Ms,
      "tasks" -> tasks, "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
      "shuffle_read" -> shuffleRead, "shuffle_write" -> shuffleWrite, "spill" -> spill)
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new Job(e.jobId, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.t1Ms = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
  def records: Seq[Map[String, Any]] = synchronized(jobs.values.map(_.toMap).toSeq)
}

/** Catalyst phase times and scan facts of every executed query. */
final class QueryProbe extends QueryExecutionListener {
  private val rows = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, durationNs)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, -1L)

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(name: String): Double =
      phases.get(name).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
    val scans = try nodes(qe.executedPlan).collect { case s: FileSourceScanExec => s }
      catch { case NonFatal(_) => Seq.empty }
    val row = Map[String, Any](
      "t0_ms" -> (if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_.startTimeMs).min),
      "parsing_ms" -> ms("parsing"), "analysis_ms" -> ms("analysis"),
      "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"),
      "exec_ms" -> durationNs / 1e6, "file_scans" -> scans.size,
      "scan_files" -> scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum)
    synchronized(rows += row)
  }
  def records: Seq[Map[String, Any]] = synchronized(rows.toList)
}

/** The closed-loop client's bookkeeping: ops, units, spans and probes.
  *
  * Ops are timed in every run. Spans, listener counters and the per-op
  * counters exist only in traced units; a traced run mixes untraced and
  * traced units (see Workload.tracedUnit) so the tracing overhead is the
  * ratio of the two kinds' throughput within one run.
  */
final class Harness(val spark: SparkSession, traceRun: Boolean) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val spans = mutable.ArrayBuffer.empty[SpanRec]
  val units = mutable.ArrayBuffer.empty[Map[String, Any]]
  val jobProbe = new JobProbe
  val queryProbe = new QueryProbe
  /** nanoTime + epochOffsetNs = epoch ns; Spark events carry epoch ms. */
  val epochOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()

  private var recording = false
  private var tracing = false
  private var unitNo = -1
  private var current: OpRec = null
  private var stack: List[SpanRec] = Nil

  def traced: Boolean = tracing
  def isRecording: Boolean = recording
  def last: OpRec = ops.last

  /** Ops run outside `timed` (set-up, warm-up, checks) are not recorded
    * and their failures propagate.
    */
  def timed[T](body: => T): T = { recording = true; try body finally recording = false }

  def unit(i: Int, traceThis: Boolean)(body: => Unit): Unit = {
    unitNo = i
    tracing = traceRun && traceThis
    val sc = spark.sparkContext
    if (tracing) { sc.addSparkListener(jobProbe); spark.listenerManager.register(queryProbe) }
    val n0 = ops.size
    val t0 = System.nanoTime()
    try body
    finally {
      if (tracing) {
        PerfbenchAccess.drainListenerBus(sc)
        sc.removeSparkListener(jobProbe)
        spark.listenerManager.unregister(queryProbe)
      }
      units += Map("i" -> i, "traced" -> tracing, "t0" -> t0, "t1" -> System.nanoTime(),
        "ops" -> (ops.size - n0), "ok" -> ops.drop(n0).count(_.ok))
      tracing = false
    }
  }

  /** One timed call. Only non-fatal errors are caught: the op is recorded
    * as failed with its error class and the loop goes on.
    */
  def op[T](cls: String, label: String = "")(body: => T): Option[T] =
    if (!recording) Some(body)
    else {
      val rec = new OpRec(ops.size, cls, label, unitNo, tracing, System.nanoTime())
      current = rec
      val gc0 = if (tracing) gcMs else 0L
      val (p0, r0) = if (tracing) cacheCounts else (0L, 0L)
      val out =
        try Some(span("op." + cls)(body))
        catch { case NonFatal(e) => rec.err = e.getClass.getName; None }
      rec.t1 = System.nanoTime()
      rec.ok = out.isDefined
      if (tracing) {
        val (p1, r1) = cacheCounts
        rec.counters("driver_gc_ms") = (gcMs - gc0).toDouble
        rec.counters("snapshot_probes") = (p1 - p0).toDouble
        rec.counters("snapshot_replays") = (r1 - r0).toDouble
      }
      ops += rec
      current = null
      out
    }

  def span[T](name: String)(body: => T): T =
    if (!tracing || current == null) body
    else {
      val s = new SpanRec(spans.size, name, stack.headOption.fold(-1)(_.id), current.id,
        System.nanoTime())
      spans += s
      stack = s :: stack
      try body finally { s.t1 = System.nanoTime(); stack = stack.tail }
    }

  private def cacheCounts: (Long, Long) =
    (graft.tables.SnapshotCache.probeCount.get(), graft.tables.SnapshotCache.replayCount.get())

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Driver heap in use after forced full collections. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def record: Map[String, Any] = Map(
    "epoch_offset_ns" -> epochOffsetNs,
    "ops" -> ops.map(_.toMap), "units" -> units, "spans" -> spans.map(_.toMap),
    "jobs" -> jobProbe.records, "queries" -> queryProbe.records)
}
