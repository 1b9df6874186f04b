package graft.tables

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.catalog.FileType
import graft.client.LakehouseClient

/** Every way of opening an Iceberg table reads the same snapshot the
  * same way: its position and equality deletes folded into deletion
  * vectors and applied by the one DV filter (DvIsRowLive), never by a
  * delete join.
  */
class IcebergReadPathSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("direct, ref, client and SQL reads of an Iceberg table share one live-rows read") {
    val client = new LakehouseClient(spark)
    client.createCatalog("readpath1")
    client.createSchema("readpath1", "s")
    val loc = TestSpark.tmpDir("ice-readpath") + "/t"
    client.createAsTable((1L to 40L).map(i => (i, s"s$i")).toDF("id", "s").repartition(3),
      "readpath1", "s", "t", FileType.ICEBERG, loc)
    assert(IcebergWriter.delete(spark, loc, "id IN (2, 17, 33)") == 3L)
    IcebergWriter.equalityDelete(spark, loc, Seq("id"), Seq(5L, 21L).toDF("id"))
    val st = IcebergLog.state(spark, loc)
    assert(st.deletes.map(_.content).toSet == Set(1, 2))
    IcebergWriter.createTag(spark, loc, "audited")

    val reads: Seq[(String, DataFrame)] = Seq(
      "IcebergLog.toDF" -> IcebergLog.toDF(spark, loc),
      "IcebergLog.toDFAtRef" -> IcebergLog.toDFAtRef(spark, loc, "audited"),
      "LakehouseClient.readTable" -> client.readTable("readpath1", "s", "t"),
      "SQL SELECT" -> spark.sql("SELECT * FROM readpath1.s.t"),
      "SQL VERSION AS OF 'tag'" ->
        spark.sql("SELECT * FROM readpath1.s.t VERSION AS OF 'audited'"))
    val expected = (1L to 40L).filterNot(Set(2L, 5L, 17L, 21L, 33L)).map(i => (i, s"s$i"))
    reads.foreach { case (name, df) =>
      assert(df.as[(Long, String)].collect().sortBy(_._1).toSeq == expected, name)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dvisrowlive") && !plan.contains("LeftAnti"),
        s"$name must apply deletes through the DV filter, not a join:\n$plan")
    }
  }
}
