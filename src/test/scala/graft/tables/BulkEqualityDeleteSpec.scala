package graft.tables

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A BULK equality delete — the compliance-purge shape: one delete file
  * group carrying O(table keys) rows, not a Flink micro-batch. The two
  * victim joins (the snapshot's DV fold, the changelog delete feed) must
  * leave the build-side choice to AQE: with the broadcast threshold
  * below the delete-key size, NEITHER may plan a BroadcastHashJoin for
  * the semi join (a forced broadcast hint would collect 10^7-10^8 purge
  * keys onto the driver and every executor). The metadata-sized
  * path→sequence lookup joins still broadcast — only the delete-row
  * joins are pinned. Reads apply the folded descriptors (DvIsRowLive)
  * and plan no delete join at all.
  */
class BulkEqualityDeleteSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def planOf(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.toString

  /** The read drops deleted rows through the snapshot's DV descriptors
    * and joins nothing against delete rows; returns the descriptors it
    * broadcast.
    */
  private def readsThroughFold(df: org.apache.spark.sql.DataFrame)
      : Seq[DeletionVectors.Descriptor] = {
    val p = planOf(df)
    assert(p.toLowerCase.contains("dvisrowlive") && !p.contains("LeftAnti") &&
      !p.contains("LeftSemi"), s"deletes must apply as the DV filter, not a join:\n$p")
    // one broadcast per read; the scan's pushed filters repeat it
    df.queryExecution.sparkPlan.flatMap(_.expressions.flatMap(_.collect {
      case d: DvIsRowLive => d.lookup
    })).distinct.flatMap(_.value.descriptors.values)
  }

  private def noBroadcastSemiOrAnti(plan: String, what: String): Unit = {
    val bad = plan.linesIterator.filter(l => l.contains("BroadcastHashJoin") &&
      (l.contains("LeftSemi") || l.contains("LeftAnti"))).toSeq
    assert(bad.isEmpty,
      s"$what must not broadcast the equality-delete rows above the AQE " +
        s"threshold; offending joins:\n${bad.mkString("\n")}\n\nfull plan:\n$plan")
  }

  test("bulk equality delete (1e5 keys, one group): correct and never force-broadcast") {
    import spark.implicits._
    val loc = graft.TestSpark.tmpDir("bulk-eqdel") + "/t"
    val n = 200000L
    val t = TxTable.forIceberg(spark, loc)
    t.create(spark.range(n).select(col("id"), (col("id") % 97).as("g"))
      .repartition(4))
    // ONE delete commit, one equality-ids group, 1e5 keys (even ids)
    IcebergWriter.equalityDelete(spark, loc, Seq("id"),
      spark.range(0L, n, 2L).toDF("id"))
    val deleteVersion = t.history.last

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64 * 1024).toString)
    try {
      // the direct read applies the snapshot's folded descriptors
      val direct = IcebergLog.toDF(spark, loc)
      assert(direct.count() == n / 2)
      assert(direct.agg(sum(col("id"))).as[Long].head() ==
        (1L until n by 2).sum)
      assert(readsThroughFold(direct).map(_.cardinality).sum == n / 2)

      // the fold's victim scan
      val st = IcebergLog.state(spark, loc)
      val victims = IcebergLog.equalityVictimPositions(spark, st)
      assert(victims.count() == n / 2)
      noBroadcastSemiOrAnti(victims.queryExecution.executedPlan.toString,
        "bitmap-fold victim semi-join")

      // changelog delete feed (the dying rows live at v-1)
      val ch = IcebergLog.tableChanges(spark, loc, deleteVersion, Some(deleteVersion))
      assert(ch.filter(col("_change_type") === "delete").count() == n / 2)
      noBroadcastSemiOrAnti(ch.queryExecution.executedPlan.toString,
        "changelog dying-rows semi-join")

      // the folded TxTable surface agrees (bitmaps built from the same scan)
      assert(t.toDF.count() == n / 2)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("dense mass delete: fold spills to executor-written DV sidecars above the threshold") {
    import spark.implicits._
    val loc = graft.TestSpark.tmpDir("dv-spill") + "/t"
    val t = TxTable.forIceberg(spark, loc)
    t.create(spark.range(20000L).select(col("id"), (col("id") % 7).as("g"))
      .repartition(3))
    t.delete("id % 5 != 0") // dense MoR position deletes: 80% of every file
    val expectLive = (0L until 20000L by 5L)

    // force the spill path: threshold below any real delete file
    spark.conf.set(IcebergCommitLog.InlineFoldMaxDeleteBytesConf, "1")
    try {
      IcebergCommitLog.clearDeleteFoldCacheForTest()
      val snap = IcebergCommitLog.snapshot(spark, loc, None)
      val dvs = snap.files.flatMap(_.deletionVector)
      assert(dvs.nonEmpty && dvs.forall(_.storageType == "u"),
        s"above the threshold every folded descriptor must reference a sidecar, got ${dvs.map(_.storageType)}")
      // the sidecar .bin files exist in the table dir and reads fold them
      val bins = new java.io.File(loc).listFiles().filter(_.getName.endsWith(".bin"))
      assert(bins.nonEmpty, "executor-written sidecar .bin files expected")
      assert(t.toDF.select("id").as[Long].collect().sorted.toSeq == expectLive)
      // vacuum keeps live sidecars (the keep-walk follows "u" descriptors)
      t.vacuum(retainVersions = 1, retentionMs = 0L, force = true)
      IcebergCommitLog.clearDeleteFoldCacheForTest()
      assert(t.toDF.count() == expectLive.size)
    } finally spark.conf.unset(IcebergCommitLog.InlineFoldMaxDeleteBytesConf)

    // below the threshold (default) the fold inlines — no new sidecars
    IcebergCommitLog.clearDeleteFoldCacheForTest()
    val snapInline = IcebergCommitLog.snapshot(spark, loc, None)
    val inlineDvs = snapInline.files.flatMap(_.deletionVector)
    assert(inlineDvs.nonEmpty && inlineDvs.forall(_.storageType == "i"),
      s"below the threshold the fold must inline, got ${inlineDvs.map(_.storageType)}")
    assert(t.toDF.count() == expectLive.size)
  }

  test("dense mass delete: the DIRECT read path caps residency above the threshold") {
    import spark.implicits._
    val loc = graft.TestSpark.tmpDir("direct-massdel") + "/t"
    val t = TxTable.forIceberg(spark, loc)
    t.create(spark.range(20000L).select(col("id"), (col("id") % 7).as("g"))
      .repartition(3))
    t.delete("id % 5 != 0") // dense MoR position deletes: 80% of every file
    val expectLive = (0L until 20000L by 5L)

    // below the threshold: the fold inlines its bitmaps, the read
    // applies them through the codegen'd DV filter, no join
    val small = IcebergLog.toDF(spark, loc)
    assert(small.select("id").as[Long].collect().sorted.toSeq == expectLive)
    val inline = readsThroughFold(small)
    assert(inline.nonEmpty && inline.forall(_.storageType == "i"))

    // above the threshold (forced to 1 byte): IcebergLog.toDF must NOT
    // collect+broadcast O(files × bitmap bytes) — the fold spills the
    // bitmaps to executor-written sidecars and the read broadcasts only
    // their "u" descriptors, O(files); executors load the bitmaps of the
    // files they scan. With auto-broadcast off, no delete row may be
    // broadcast either (the read joins none).
    spark.conf.set(IcebergCommitLog.InlineFoldMaxDeleteBytesConf, "1")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val direct = IcebergLog.toDF(spark, loc)
      assert(direct.select("id").as[Long].collect().sorted.toSeq == expectLive)
      val spilled = readsThroughFold(direct)
      assert(spilled.nonEmpty && spilled.forall(_.storageType == "u"),
        s"above the threshold the read must broadcast sidecar descriptors, got " +
          spilled.map(_.storageType))
      assert(!planOf(direct).contains("BroadcastHashJoin"),
        s"mass-delete read must not broadcast delete rows:\n${planOf(direct)}")
    } finally {
      spark.conf.unset(IcebergCommitLog.InlineFoldMaxDeleteBytesConf)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }
}
