package graft

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The probe runner Bench and ScaleCheck share. One instance collects the
  * probes of one JSON object of a record, in run order: each label maps
  * to every pass it ran, and the recorded value is the minimum over the
  * passes that succeeded (-1 when none did). Calling `time` again with a
  * label adds passes to it, which is how per-pass fixtures and repeated
  * full passes min-merge. Sections of one record share one error map.
  */
private[graft] final class Probes private (
    tag: String, prefix: String, val errors: mutable.LinkedHashMap[String, String]) {

  def this(tag: String) = this(tag, "", mutable.LinkedHashMap.empty)

  private val passes = mutable.LinkedHashMap.empty[String, Vector[Double]]

  /** A probe set for one nested JSON object of the same record. */
  def section(name: String): Probes = new Probes(tag, s"$prefix$name.", errors)

  /** Runs `check` (a plan-shape or fixture assertion, untimed), then times
    * `passes` runs of `body`, printing `[tag] <label>_pass<i> <t>s` for
    * each. A failure records a -1 pass and the error's class name; the
    * caller carries on with its next probe. Returns the label's value.
    */
  def time(label: String, passes: Int = 1, check: => Unit = ())(body: => Unit): Double = {
    try {
      check
      (1 to passes).foreach { _ =>
        val t = Probes.timed(body)
        add(label, t)
        System.err.println(f"[$tag] $prefix${label}_pass${this.passes(label).size} $t%.2fs")
      }
    } catch { case NonFatal(e) => add(label, -1.0); fail(label, e) }
    value(label)
  }

  /** Runs a fixture shared by several probes: a failure outside any
    * timed body is recorded under `name`, and the caller carries on.
    */
  def group(name: String)(body: => Unit): Unit =
    try body catch { case NonFatal(e) => fail(name, e) }

  /** Prints a diagnostic line that is not a probe. */
  def note(msg: String): Unit = System.err.println(s"[$tag] $prefix$msg")

  def value(label: String): Double =
    passes(label).filter(_ >= 0).minOption.getOrElse(-1.0)

  def results: Seq[(String, Double)] = passes.keys.map(l => l -> value(l)).toSeq

  /** Sum over the probes that succeeded. */
  def total: Double = results.map(_._2).filter(_ >= 0).sum

  private def add(label: String, t: Double): Unit =
    passes(label) = passes.getOrElse(label, Vector.empty) :+ t

  private def fail(name: String, e: Throwable): Unit = {
    errors(prefix + name) = e.getClass.getName
    note(s"$name failed: $e")
  }
}

private[graft] object Probes {

  /** The session every harness main runs in: `SPARK_GRAFT_CPUS` local
    * cores (the main's own default otherwise), one shuffle partition per
    * core, AQE, and CBO with join reordering, so the stamped column
    * statistics graft attaches (GraftPlannerStats) feed filter
    * selectivity and join costing.
    */
  def session(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      // older fixtures store events.ts as TIMESTAMP(NANOS); read as epoch-ns
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.sql.GraftSparkSessionExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Seconds `f` takes to run. */
  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Materializes every row of `df` without writing it anywhere (unlike
    * `count()`, which Catalyst can prune to a scan).
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One JSON object. Values are seconds (Double), strings, nested field
    * lists, maps, or a probe set (its results).
    */
  def json(fields: (String, Any)*): String =
    fields.map { case (k, v) => quote(k) + ":" + jsonValue(v) }.mkString("{", ",", "}")

  private def jsonValue(v: Any): String = v match {
    case d: Double => fmt(d)
    case s: String => quote(s)
    case p: Probes => json(p.results: _*)
    case m: collection.Map[_, _] => json(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case kvs: Seq[_] => json(kvs.collect { case (k: String, x) => k -> x }: _*)
  }

  // 3-decimal floats keep the record line small: the r13/r14 artifacts
  // grew past the driver's tail-capture window on 17-digit doubles and
  // came back front-truncated (unparseable)
  private def fmt(v: Double): String =
    if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  private def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
