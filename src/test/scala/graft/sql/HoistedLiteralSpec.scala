package graft.sql

import org.apache.spark.SparkThrowable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Literal, Remainder}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.catalog.FileType
import graft.client.LakehouseClient
import graft.tables.DeltaLogWriter

/** HoistLiterals: reads that differ only in a numeric, date or timestamp
  * operand share one generated class, compute what the interpreted
  * plan computes, and explain as before.
  */
class HoistedLiteralSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private object Aqe extends AdaptiveSparkPlanHelper

  private def hoisted(df: DataFrame): Boolean =
    Aqe.collect(df.queryExecution.executedPlan) { case p => p.expressions }.flatten
      .exists(_.exists(_.isInstanceOf[HoistedLiteral]))

  test("point and range reads with unseen literals compile no class after the first") {
    val client = new LakehouseClient(spark)
    client.createCatalog("hoist"); client.createSchema("hoist", "s")
    val dir = TestSpark.tmpDir("hoist")
    // k covers 0..99 in both files of each table, so no value skips a file
    val rows = (0 until 400).map(i => (i.toLong, if (i % 2 == 0) "a" else "b", i % 100, i * 3L))
      .toDF("id", "p", "k", "v").repartition(2)
    client.createAsTable(rows, "hoist", "s", "native", FileType.DELTA, s"$dir/native")
    DeltaLogWriter.create(spark, s"$dir/delta", rows)
    client.registerAsTable("hoist", "s", "delta", FileType.DELTA, s"$dir/delta")
    client.createAsTable(rows, "hoist", "s", "iceberg", FileType.ICEBERG, s"$dir/iceberg")
    val shapes = Seq[Int => String](
      i => s"SELECT id, v FROM hoist.s.%s WHERE k = $i",
      i => s"SELECT COUNT(*), SUM(v) FROM hoist.s.%s WHERE k < $i")
    for (t <- Seq("native", "delta", "iceberg"); (shape, s) <- shapes.zipWithIndex) {
      val values = (1 to 20).map(_ + 40 * s)
      def read(i: Int): Array[org.apache.spark.sql.Row] =
        spark.sql(shape(i).format(t)).collect()
      val first = spark.sql(shape(values.head).format(t))
      first.collect()
      assert(hoisted(first), s"$t shape $s: no literal hoisted")
      val before = compiles
      val counts = values.tail.map { i =>
        val r = read(i)
        if (s == 0) r.length.toLong else r.head.getLong(0)
      }
      assert(compiles - before == 0L, s"$t shape $s compiled ${compiles - before} classes")
      // each k in 0..99 holds 4 rows
      val expected = values.tail.map(i => if (s == 0) 4L else 4L * i)
      assert(counts == expected, s"$t shape $s")
    }
  }

  // column, SQL type, literals (edge values included); dates and
  // timestamps only meet comparisons
  private val operands = Seq(
    ("i", "INT", Seq("0", "7", "CAST(-2147483648 AS INT)", "2147483647")),
    ("l", "BIGINT", Seq("0L", "-7L", "9223372036854775807L")),
    ("s", "SMALLINT", Seq("0S", "7S", "32767S")),
    ("b", "TINYINT", Seq("0Y", "-7Y", "127Y")),
    ("f", "FLOAT", Seq("CAST('NaN' AS FLOAT)", "CAST('-0.0' AS FLOAT)", "1.5F")),
    ("d", "DOUBLE", Seq("CAST('NaN' AS DOUBLE)", "-0.0D", "0.0D", "1.7976931348623157E308D")),
    ("dt", "DATE", Seq("DATE'2020-02-29'", "DATE'1969-12-31'")),
    ("ts", "TIMESTAMP", Seq("TIMESTAMP'2020-02-29 12:00:00'")))

  private lazy val edgeTable: String = {
    val dir = TestSpark.tmpDir("hoist-edge")
    spark.sql(
      """SELECT * FROM VALUES
        |  (1, 0, 0L, 0S, 0Y, 0.0F, 0.0D, DATE'2020-02-29', TIMESTAMP'2020-02-29 12:00:00'),
        |  (2, -7, -7L, -7S, -7Y, CAST('-0.0' AS FLOAT), -0.0D, DATE'1969-12-31',
        |     TIMESTAMP'1969-12-31 23:59:59'),
        |  (3, 2147483647, 9223372036854775807L, 32767S, 127Y, CAST('NaN' AS FLOAT),
        |     CAST('NaN' AS DOUBLE), DATE'9999-12-31', TIMESTAMP'2262-04-11 23:47:16'),
        |  (4, CAST(-2147483648 AS INT), CAST('-9223372036854775808' AS BIGINT),
        |     CAST(-32768 AS SMALLINT), CAST(-128 AS TINYINT), 1.5F, 2.5D,
        |     DATE'1900-01-01', TIMESTAMP'1900-01-01 00:00:00'),
        |  (5, 7, 7L, 7S, 7Y, CAST('Infinity' AS FLOAT), 1.7976931348623157E308D,
        |     DATE'2020-03-01', TIMESTAMP'2020-03-01 00:00:00'),
        |  (6, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)
        |AS t(id, i, l, s, b, f, d, dt, ts)""".stripMargin)
      .repartition(2).write.parquet(s"$dir/t")
    s"parquet.`$dir/t`"
  }

  /** Sorted rows (as text, so -0.0 and NaN compare exactly) or the error
    * condition the query raised, and whether its plan hoisted a literal. */
  private def outcome(q: String): (Either[String, Seq[String]], Boolean) = {
    val df = spark.sql(q)
    val result =
      try Right(df.collect().map(_.toString).toSeq.sorted)
      catch {
        case e: Exception =>
          Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .collectFirst { case s: SparkThrowable => Left(s.getCondition) }
            .getOrElse(Left(e.getClass.getName))
      }
    (result, hoisted(df))
  }

  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("hoisted operands compute what the interpreted plan computes, ANSI on and off") {
    val t = edgeTable
    val queries = for {
      (c, ty, lits) <- operands; v <- lits
      q <- s"""SELECT id, $c = $v, $c <=> $v, $c < $v FROM $t
              |WHERE $c = $v OR $c <=> $v OR $c < $v OR id % 2 = 0""".stripMargin +:
        (if (ty == "DATE" || ty == "TIMESTAMP") Nil
        else Seq("+", "-", "*", "/", "%").map(op =>
          s"SELECT id, $c $op $v FROM $t WHERE ($c $op $v) IS NULL OR id % 3 <> 0"))
    } yield q
    val raised = scala.collection.mutable.Set.empty[String]
    for (ansi <- Seq("true", "false")) withConf("spark.sql.ansi.enabled" -> ansi) {
      queries.foreach { q =>
        val (got, rewritten) = outcome(q)
        assert(rewritten, q)
        val (want, _) = withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
          "spark.sql.codegen.wholeStage" -> "false")(outcome(q))
        assert(got == want, s"ansi=$ansi: $q")
        got.left.foreach(raised += _)
      }
    }
    // overflow and divide-by-zero raised, on both sides alike
    assert(raised.contains("ARITHMETIC_OVERFLOW") && raised.contains("DIVIDE_BY_ZERO"),
      raised.toString)
  }

  test("a hoisted literal explains exactly as the literal it replaces") {
    val dir = TestSpark.tmpDir("hoist-explain")
    spark.range(100).selectExpr("id", "CAST(id % 10 AS INT) AS k", "id * 2 AS v")
      .write.parquet(s"$dir/t")
    val df = spark.read.parquet(s"$dir/t").filter("k = 7 AND v < 150")
      .selectExpr("id", "v * 3 + 1 AS w", "k < 5 AS lo")
    val planned = df.queryExecution.sparkPlan
    val rewritten = HoistLiterals(planned)
    assert(rewritten != planned)
    assert(rewritten.treeString(verbose = true) == planned.treeString(verbose = true))
    assert(df.queryExecution.executedPlan.toString.contains("(v#") &&
      hoisted(df) && df.collect().length == 7)
    // the compared value is hoisted, the divisor stays a literal
    val mod = spark.read.parquet(s"$dir/t").filter("k % 7 = 3")
    val cond = Aqe.collect(mod.queryExecution.executedPlan) { case f: FilterExec => f.condition }
    assert(cond.flatMap(_.collect { case r: Remainder => r.right }) == Seq(Literal(7)))
    assert(cond.exists(_.exists(_ == HoistedLiteral(3, IntegerType))) && mod.count() == 10)
    for ((v, t) <- Seq[(Any, DataType)](7 -> IntegerType, Long.MaxValue -> LongType,
        7.toShort -> ShortType, (-7).toByte -> ByteType, Float.NaN -> FloatType,
        -0.0 -> DoubleType, Double.PositiveInfinity -> DoubleType, 18321 -> DateType,
        1582977600000000L -> TimestampType)) {
      val lit = Literal(v, t)
      assert(HoistedLiteral(v, t).toString == lit.toString)
      assert(HoistedLiteral(v, t).sql == lit.sql)
    }
  }
}
