package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** The 16 headline queries over raw parquet, each pass in a seed-shuffled
  * order, each query materialized through the `noop` sink. The inputs are
  * the fixture (generated outside the JVM); the warm-up pass writes every
  * result to parquet, and the checks compare those with the DuckDB oracle
  * SQL over the same inputs.
  */
final class OlapHeadline(h: Harness, in: String, work: String, seed: Long) extends Workload {
  private val spark = h.spark
  private val queries = SparkEntry.headlineQueries
  private val n = queries.size
  private val orders = scala.collection.mutable.Map.empty[Int, Seq[Int]]
  private def query(i: Int): Int =
    orders.getOrElseUpdate(i / n, new scala.util.Random(seed * 1000003L + i / n).shuffle((0 until n).toVector))(i % n)

  def passLen: Int = n

  def fixture(): Unit = ()

  def warmup(): Unit =
    queries.foreach { q =>
      q.fn(spark, in).write.mode("overwrite").parquet(s"$work/results/${q.name}")
    }

  /** Unit i is one query; a pass is n units in a seed-shuffled order. */
  def step(i: Int): Unit = {
    val q = queries(query(i))
    h.op("read.query", q.name) {
      val df = h.span("queries.build")(q.fn(spark, in))
      h.span("spark.execute")(df.write.format("noop").mode("overwrite").save())
    }
  }

  /** Each query is traced in every other pass (odd-numbered queries in
    * even passes, even-numbered in odd ones): passes are shuffled, so the
    * alternation goes by query, not by position.
    */
  override def tracedUnit(i: Int): Boolean = (query(i) + i / n) % 2 == 1

  def finish(): Map[String, Any] = {
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => queries.exists(_.name == k) }
    Files.writeString(Paths.get(work, "oracle_sql.json"), Json(oracle))
    Map("results_dir" -> s"$work/results", "oracle" -> s"$work/oracle_sql.json",
      "queries" -> queries.map(_.name))
  }
}
