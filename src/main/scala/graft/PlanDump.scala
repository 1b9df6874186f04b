package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.execution.ExplainMode

/** Measurement tool (optimization guide §1.1/§7.2): dump
  * `explain("formatted")` for named declared queries to
  * `<outDir>/<name>_<suffix>.txt`, one file per query, using the exact
  * session configuration Verify/Bench run with. Usage:
  *
  *   sbt "runMain graft.PlanDump <sfDir> <outDir> <suffix> [name ...]"
  *
  * With no names, dumps every headline query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names: Seq[String] =
      if (args.length > 3) args.drop(3).toSeq
      else SparkEntry.headlineQueries.map(_.name)
    val spark = Probes.session(defaultCpus = 32)
    new java.io.File(outDir).mkdirs()
    val mode = ExplainMode.fromString("formatted")
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plandump] unknown query: $name")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(mode)
            Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
            println(s"[plandump] wrote ${name}_$suffix.txt")
          } catch {
            case NonFatal(e) =>
              System.err.println(s"[plandump] $name failed: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
