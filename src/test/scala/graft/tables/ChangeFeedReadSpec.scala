package graft.tables

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Change feeds are one log read: commit tags ride as partition values
  * of the feed's relation, so a K-commit feed plans one file scan on
  * every log, whatever K is.
  */
class ChangeFeedReadSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private object Plans extends AdaptiveSparkPlanHelper

  /** File scans in the physical plan, adaptive subtrees included. */
  private def scans(df: DataFrame): Int =
    Plans.collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }.size

  private val Commits = 12

  test("a many-commit feed plans one file scan on every log") {
    def appendAll(t: TxTable): Unit = {
      t.create(Seq((0L, 0L)).toDF("id", "v"))
      (1 until Commits).foreach(i => t.append(Seq((i.toLong, i.toLong)).toDF("id", "v")))
    }
    def idVersions(df: DataFrame): Set[(Long, Long)] =
      df.select("id", "_commit_version").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val native = new TxTable(spark, TestSpark.tmpDir("feed-native") + "/t")
    appendAll(native)
    val nativeFeed = native.changesSince(-1L)
    assert(scans(nativeFeed) == 1, "native changesSince")
    assert(idVersions(nativeFeed) == (0 until Commits).map(i => (i.toLong, i.toLong)).toSet)

    val deltaLoc = TestSpark.tmpDir("feed-delta") + "/t"
    val delta = TxTable.forForeignDelta(spark, deltaLoc)
    appendAll(delta)
    val deltaFeed = delta.changesSince(0L)
    assert(scans(deltaFeed) == 1, "foreign-Delta changesSince")
    assert(idVersions(deltaFeed) == (1 until Commits).map(i => (i.toLong, i.toLong)).toSet)
    val cdf = delta.tableChanges(0L)
    assert(scans(cdf) == 1, "Delta tableChanges")
    assert(cdf.filter($"_change_type" === "insert").count() == Commits)

    val iceLoc = TestSpark.tmpDir("feed-ice") + "/t"
    val ice = TxTable.forIceberg(spark, iceLoc)
    appendAll(ice)
    val iceFeed = IcebergLog.tableChanges(spark, iceLoc, 1L)
    assert(scans(iceFeed) == 1, "Iceberg tableChanges")
    assert(idVersions(iceFeed) == (0 until Commits).map(i => (i.toLong, i.toLong + 1L)).toSet)
  }

  test("Iceberg changesSince derives each version's state once") {
    val loc = TestSpark.tmpDir("feed-ice-derive") + "/t"
    val t = TxTable.forIceberg(spark, loc)
    t.create(Seq((0L, 0L)).toDF("id", "v"))
    (1 until Commits).foreach(i => t.append(Seq((i.toLong, i.toLong)).toDF("id", "v")))
    val versions = t.version
    IcebergLog.stateDerivations.set(0L)
    val feed = t.changesSince(0L)
    val derivs: Long = IcebergLog.stateDerivations.get
    assert(derivs <= versions + 1, s"$derivs state derivations over $versions versions")
    assert(feed.count() == Commits)
  }

  test("a deletion-vector table's re-added file reads under each commit's own DV") {
    val loc = TestSpark.tmpDir("feed-dv")
    DeltaLogWriter.create(spark, loc, (0 until 10).map(i => (i.toLong, s"s$i")).toDF("id", "s")
      .repartition(1), properties = Map("delta.enableDeletionVectors" -> "true"))
    val t = TxTable.forForeignDelta(spark, loc)
    t.delete("id = 3")                                   // v1: file re-added with a DV
    t.delete("id = 7")                                   // v2: same file, a wider DV
    assert(t.snapshot.files.size == 1)
    val byVersion = t.changesSince(0L).groupBy("_commit_version").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byVersion == Map(1L -> 9L, 2L -> 8L), byVersion.toString)
    val cdf = t.tableChanges(1L)
    assert(cdf.count() == 36L)
    val byType = cdf.groupBy("_commit_version", "_change_type").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    // each DELETE nets -1: the re-added file under its new DV, minus its prior entry
    assert(byType == Map((1L, "insert") -> 9L, (1L, "delete") -> 10L,
      (2L, "insert") -> 8L, (2L, "delete") -> 9L), byType.toString)
  }

  test("_commit_timestamp is the commit's instant in a non-UTC session time zone") {
    val key = "spark.sql.session.timeZone"
    val saved = spark.conf.get(key)
    def commitTimes(t: TxTable): Map[Long, Long] =
      t.describeHistory.select("version", "timestamp_ms").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def feedTimes(df: DataFrame): Map[Long, Long] =
      df.select("_commit_version", "_commit_timestamp").distinct().collect()
        .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    val delta = TxTable.forForeignDelta(spark, TestSpark.tmpDir("feed-ts-delta") + "/t")
    delta.create(Seq((0L, "a")).toDF("id", "s"))
    delta.append(Seq((1L, "b")).toDF("id", "s"))
    val ice = TxTable.forIceberg(spark, TestSpark.tmpDir("feed-ts-ice") + "/t")
    ice.create(Seq((0L, "a")).toDF("id", "s"))
    ice.append(Seq((1L, "b")).toDF("id", "s"))
    spark.conf.set(key, "America/Los_Angeles")
    try {
      val d = feedTimes(delta.tableChanges(0L))
      assert(d.nonEmpty && d == commitTimes(delta).filter { case (v, _) => d.contains(v) })
      val i = feedTimes(ice.tableChanges(1L))
      assert(i.nonEmpty && i == commitTimes(ice).filter { case (v, _) => i.contains(v) })
    } finally spark.conf.set(key, saved)
  }
}
