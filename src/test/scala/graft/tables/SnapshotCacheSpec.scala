package graft.tables

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.catalog.FileType
import graft.client.LakehouseClient

/** The cross-QUERY snapshot cache: a second query over an unchanged
  * table must replay NO log (the round-15 gap — per-query snapshot
  * resolution swamped metadata-only serves on high-file-count tables),
  * while any commit — including one from a "concurrent writer" that
  * bypasses the SQL layer entirely — must invalidate via the log-dir
  * signature probe, never serving stale data.
  */
class SnapshotCacheSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def replays = SnapshotCache.replayCount.get()
  private def probes = SnapshotCache.probeCount.get()

  test("a second query over an unchanged table does ZERO genuine log replays") {
    val client = new LakehouseClient(spark)
    client.createCatalog("snapc1")
    client.createSchema("snapc1", "core")
    val dir = TestSpark.tmpDir("snapcache1")
    client.createAsTable((1 to 200).map(i => (i.toLong, s"u${i % 7}")).toDF("id", "u"),
      "snapc1", "core", "t", FileType.DELTA, s"$dir/t")
    spark.sql("ANALYZE TABLE snapc1.core.t COMPUTE STATISTICS FOR COLUMNS id, u")
    // warm: the first post-ANALYZE query may replay (the ANALYZE commit
    // moved the signature)
    assert(spark.sql("SELECT SUM(id) AS s FROM snapc1.core.t").collect()(0)
      .getLong(0) == (1L to 200L).sum)
    val (r0, p0) = (replays, probes)
    // DIFFERENT statements (no plan-cache alias): a stamped serve and a
    // plain projection — both resolve the snapshot, neither replays
    val s2 = spark.sql("SELECT COUNT(*) AS n, MAX(id) AS m FROM snapc1.core.t").collect()(0)
    assert(s2.getLong(0) == 200L && s2.getLong(1) == 200L)
    assert(spark.sql("SELECT u FROM snapc1.core.t WHERE id = 7").collect()(0)
      .getString(0) == "u0")
    assert(replays == r0,
      s"unchanged table must serve from the snapshot cache, replayed ${replays - r0}")
    assert(probes > p0, "every cached serve still pays its freshness probe")
  }

  test("a concurrent writer's commit invalidates the cache — no stale serve") {
    val client = new LakehouseClient(spark)
    client.createCatalog("snapc2")
    client.createSchema("snapc2", "core")
    val dir = TestSpark.tmpDir("snapcache2")
    client.createAsTable(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"),
      "snapc2", "core", "t", FileType.DELTA, s"$dir/t")
    assert(spark.sql("SELECT SUM(v) AS s FROM snapc2.core.t").collect()(0)
      .getDouble(0) == 30.0)
    // the "other writer": a raw TxTable append that never touches the
    // SQL layer or the cache's own write paths — only the log moves
    TxTable.forAnyLocation(spark, graft.io.TableIO.normalize(s"$dir/t"))
      .append(Seq((3L, 12.0)).toDF("id", "v"))
    val r0 = replays
    assert(spark.sql("SELECT SUM(v) AS s FROM snapc2.core.t").collect()(0)
      .getDouble(0) == 42.0, "post-commit query must see the new row")
    assert(replays > r0, "the moved log-dir signature must force a genuine replay")
    // and having replayed once, the NEXT query is cached again
    val r1 = replays
    assert(spark.sql("SELECT COUNT(*) AS n FROM snapc2.core.t").collect()(0)
      .getLong(0) == 3L)
    assert(replays == r1)
  }

  test("drop-and-recreate at the same location is never served stale") {
    val client = new LakehouseClient(spark)
    client.createCatalog("snapc3")
    client.createSchema("snapc3", "core")
    val dir = TestSpark.tmpDir("snapcache3")
    val loc = s"$dir/t"
    client.createAsTable(Seq((1L, "old")).toDF("id", "tag"),
      "snapc3", "core", "t", FileType.DELTA, loc)
    assert(spark.sql("SELECT tag FROM snapc3.core.t").collect()(0)
      .getString(0) == "old")
    // recreate from scratch at the SAME path (new log, version numbers
    // restart): the signature folds name+mtime+length, so even a same-
    // version log cannot alias the dead one
    val f = TxLog.fs(spark, loc)
    f.delete(new org.apache.hadoop.fs.Path(loc), true)
    client.deleteTable("snapc3", "core", "t")
    client.createAsTable(Seq((1L, "new"), (2L, "new")).toDF("id", "tag"),
      "snapc3", "core", "t", FileType.DELTA, loc)
    val got = spark.sql("SELECT tag FROM snapc3.core.t ORDER BY id").collect()
    assert(got.length == 2 && got.forall(_.getString(0) == "new"))
  }

  test("the constructed read PLAN is reused across queries and dies with the entry") {
    // plan construction is O(files) driver work (path listing, partition
    // inference) — at 100k files it is the per-query cost that survives
    // snapshot caching, so the DataFrame over a pinned snapshot memoizes
    // per (version, session) and any commit drops the memo with its entry
    val client = new LakehouseClient(spark)
    client.createCatalog("snapc5")
    client.createSchema("snapc5", "core")
    val dir = TestSpark.tmpDir("snapcache5")
    client.createAsTable((1L to 100L).map(i => (i, i % 5)).toDF("id", "p"),
      "snapc5", "core", "t", FileType.DELTA, s"$dir/t")
    val loc = graft.io.TableIO.normalize(s"$dir/t")
    val (_, _, df1) = SnapshotCache.latestDF(spark, loc)
    val (_, _, df2) = SnapshotCache.latestDF(spark, loc)
    assert(df1 eq df2, "an unchanged table must reuse the SAME DataFrame instance")
    assert(spark.sql("SELECT COUNT(*) AS n FROM snapc5.core.t").collect()(0)
      .getLong(0) == 100L)
    TxTable.forAnyLocation(spark, loc).append(Seq((101L, 1L)).toDF("id", "p"))
    val (_, snap3, df3) = SnapshotCache.latestDF(spark, loc)
    assert(!(df3 eq df1), "a commit must invalidate the plan memo")
    assert(df3.count() == 101L && snap3.version > 0L)
    assert(spark.sql("SELECT COUNT(*) AS n FROM snapc5.core.t").collect()(0)
      .getLong(0) == 101L, "the SQL path must see the post-commit plan")
  }

  test("pinned time travel rides the cache only when it IS the cached latest") {
    val client = new LakehouseClient(spark)
    client.createCatalog("snapc4")
    client.createSchema("snapc4", "core")
    val dir = TestSpark.tmpDir("snapcache4")
    client.createAsTable(Seq((1L, 1.0)).toDF("id", "v"),
      "snapc4", "core", "t", FileType.DELTA, s"$dir/t")
    val t = TxTable.forAnyLocation(spark, graft.io.TableIO.normalize(s"$dir/t"))
    t.append(Seq((2L, 2.0)).toDF("id", "v"))
    val vLatest = t.version
    // warm on latest
    assert(spark.sql("SELECT COUNT(*) AS n FROM snapc4.core.t").collect()(0).getLong(0) == 2L)
    val r0 = replays
    // VERSION AS OF latest: cached (0 replays)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM snapc4.core.t VERSION AS OF $vLatest")
      .collect()(0).getLong(0) == 2L)
    assert(replays == r0, "pinning the cached latest version must not replay")
    // VERSION AS OF history: replays honestly, result is the OLD data
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM snapc4.core.t VERSION AS OF ${vLatest - 1}")
      .collect()(0).getLong(0) == 1L)
    assert(replays > r0, "genuine history is not cached")
    assert(replays == r0 + 1, "a served history read replays once, for its read plan")
    // and the history read did not poison the latest entry
    val r1 = replays
    assert(spark.sql("SELECT SUM(v) AS s FROM snapc4.core.t").collect()(0).getDouble(0) == 3.0)
    assert(replays == r1)
  }
}
