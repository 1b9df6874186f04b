package graft.catalog.rest

import org.scalatest.BeforeAndAfterAll

import graft.TestSpark
import graft.catalog._
import graft.types.UcType

/** The full CatalogStore contract executed over HTTP: a RestCatalogStore
  * client against a UcRestServer wrapping an in-memory store — the same
  * client/server split as the reference (uchelper HTTP client ↔ UC OSS
  * server). Every behavior the in-process suite checks must survive the
  * wire round-trip.
  */
class RestCatalogStoreSpec extends CatalogStoreContract with BeforeAndAfterAll {

  private val servers = scala.collection.mutable.ArrayBuffer.empty[UcRestServer]

  override protected def newStore(): CatalogStore = {
    val srv = new UcRestServer(new InMemoryCatalogStore).start()
    servers += srv
    new RestCatalogStore(srv.address)
  }

  override def afterAll(): Unit = servers.foreach(_.stop())
}

/** Wire-format details beyond the shared contract. */
class UcRestWireSpec extends org.scalatest.funsuite.AnyFunSuite with BeforeAndAfterAll {

  private val server = new UcRestServer(new InMemoryCatalogStore).start()
  private val store = new RestCatalogStore(server.address)
  private val servers = scala.collection.mutable.ArrayBuffer(server)

  override def afterAll(): Unit = servers.foreach(_.stop())

  test("health check: UC banner at the root; false against a dead port") {
    assert(store.healthCheck())
    assert(!new RestCatalogStore("http://127.0.0.1:1").healthCheck())
  }

  test("overwriteTable restores the original when an interrupt stops the re-create") {
    val interrupting = new RestCatalogStore(server.address) {
      override def createTable(t: TableInfo): TableInfo =
        if (t.comment.contains("new")) throw new InterruptedException("stopped")
        else super.createTable(t)
    }
    interrupting.createCatalog(CatalogInfo("c_int"))
    interrupting.createSchema(SchemaInfo("s_int", "c_int"))
    val original = interrupting.createTable(TableInfo("t", "c_int", "s_int", TableType.EXTERNAL,
      FileType.DELTA, Seq(ColumnInfo("id", UcType.LongT, 0)), storageLocation = Some("/tmp/t_int"),
      comment = Some("old")))
    val e = intercept[InterruptedException] {
      interrupting.overwriteTable(original.copy(comment = Some("new")))
    }
    assert(e.getMessage == "stopped")
    assert(store.getTable("c_int", "s_int", "t").comment.contains("old"))
  }

  test("column types survive the wire losslessly (decimal, interval, nested, partition index)") {
    store.createCatalog(CatalogInfo("c1", comment = Some("a catalog")))
    store.createSchema(SchemaInfo("s1", "c1"))
    val cols = Seq(
      ColumnInfo("id", UcType.LongT, 0, nullable = false),
      ColumnInfo("d", UcType.DecimalT(12, 4), 1),
      ColumnInfo("iv", UcType.IntervalT("HOUR TO SECOND"), 2),
      ColumnInfo("nested", UcType.ArrayT(UcType.StructT(Seq("x" -> UcType.DoubleT))), 3),
      ColumnInfo("m", UcType.MapT(UcType.StringT, UcType.LongT), 4),
      ColumnInfo("p", UcType.StringT, 5, partitionIndex = Some(0)))
    store.createTable(TableInfo("t", "c1", "s1", TableType.EXTERNAL, FileType.DELTA, cols,
      storageLocation = Some("/tmp/t"), comment = Some("a table"),
      properties = Map("k" -> "v")))
    val t = store.getTable("c1", "s1", "t")
    assert(t.columns.map(c => (c.name, c.dataType)) == cols.map(c => (c.name, c.dataType)))
    assert(t.columns.map(_.nullable) == cols.map(_.nullable))
    assert(t.partitionColumns == Seq("p"))
    assert(t.comment.contains("a table") && t.properties("k") == "v")
    assert(store.getCatalog("c1").comment.contains("a catalog"))
  }

  test("a LakehouseClient runs end-to-end against the REST catalog") {
    val spark = TestSpark.spark
    import spark.implicits._
    // own server: sql() registers views for every cataloged table, so this
    // flow needs a catalog containing only tables with real data behind them
    val srv = new UcRestServer(new InMemoryCatalogStore).start()
    servers += srv
    val client = new graft.client.LakehouseClient(spark, new RestCatalogStore(srv.address))
    client.createCatalog("lake")
    client.createSchema("lake", "core")
    val dir = TestSpark.tmpDir("rest-client")
    client.createAsTable(
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"),
      "lake", "core", "t", FileType.DELTA, s"$dir/t")
    assert(client.readTable("lake", "core", "t").count() == 2)
    client.writeTable(Seq((3L, "c")).toDF("id", "s"), "lake", "core", "t")
    assert(client.sql("SELECT COUNT(*) AS n FROM lake_core_t").collect()(0).getLong(0) == 3)
    assert(client.getTxTable("lake", "core", "t").version == 1L)
  }

  test("concurrent clients are served in parallel, not serialized on one dispatcher") {
    val srv = new UcRestServer(new InMemoryCatalogStore).start()
    servers += srv
    val n = 16
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val tasks = (0 until n).map { i =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          override def call(): Boolean = {
            val st = new RestCatalogStore(srv.address)
            st.createCatalog(graft.catalog.CatalogInfo(s"cat_$i", None))
            st.createSchema(graft.catalog.SchemaInfo(s"s_$i", s"cat_$i", None))
            st.getSchema(s"cat_$i", s"s_$i").name == s"s_$i"
          }
        })
      }
      assert(tasks.forall(_.get(30, java.util.concurrent.TimeUnit.SECONDS)))
      val store2 = new RestCatalogStore(srv.address)
      assert(store2.listCatalogs()._1.size == n)
    } finally pool.shutdown()
  }
}
