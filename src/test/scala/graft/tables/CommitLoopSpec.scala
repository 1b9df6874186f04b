package graft.tables

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataOutputStream, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Every table write publishes through TxTable.commitWithRetryIf and its
  * log's tryCommit: steps after a published commit never fail the write,
  * Iceberg writers race like any other, and the Delta merge-on-read
  * commit obliges other writers to honor its deletion vectors.
  */
class CommitLoopSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def row(i: Long): DataFrame = Seq((i, s"s$i")).toDF("id", "s")

  test("a checkpoint that fails after the commit never fails the write") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.${CommitLoopSpec.Scheme}.impl", classOf[CommitLoopSpec.NoCheckpointFs].getName)
    val root = s"${CommitLoopSpec.Scheme}:" + TestSpark.tmpDir("commitloop-ckpt")
    Seq("native" -> new TxTable(spark, s"$root/native"),
        "delta" -> TxTable.forForeignDelta(spark, s"$root/delta")).foreach { case (log, t) =>
      val refusedBefore = CommitLoopSpec.refused.get
      t.create(row(0L))
      (1L to 9L).foreach(i => t.append(row(i)))
      // version 10 is a checkpoint version on both logs: the commit lands,
      // its checkpoint write fails, and the append still returns normally
      t.append(row(10L))
      assert(CommitLoopSpec.refused.get > refusedBefore, s"$log: no checkpoint was attempted")
      assert(t.version == 10L, log)
      assert(t.toDF.count() == 11L, log)
      t.append(row(11L))
      assert(t.version == 11L, log)
      assert(t.toDF.select("id").as[Long].collect().sorted.toSeq == (0L to 11L), log)
    }
    // the failed Delta checkpoint left no temp dir in the log
    val deltaLog = new java.io.File(root.stripPrefix(s"${CommitLoopSpec.Scheme}:") + "/delta/_delta_log")
    assert(!deltaLog.list().exists(_.startsWith(".ckpt-tmp-")), deltaLog.list().mkString(", "))
  }

  test("IcebergWriter.append enforces CHECK constraints and leaves the version on a violation") {
    val loc = TestSpark.tmpDir("commitloop-ice-check") + "/t"
    IcebergWriter.create(spark, loc, row(1L))
    val t = TxTable.forIceberg(spark, loc)
    t.addConstraint("positive_id", "id > 0")
    val version = t.version
    val e = intercept[Exception](IcebergWriter.append(spark, loc, row(-1L)))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("positive_id")), e.toString)
    assert(t.version == version)
    IcebergWriter.append(spark, loc, row(2L))
    assert(t.toDF.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("concurrent Iceberg merge-on-read deletes and an equality delete all land") {
    for (round <- 0 until 3) {
      val loc = TestSpark.tmpDir(s"commitloop-ice-race-$round") + "/t"
      IcebergWriter.create(spark, loc,
        (0L until 200L).map(i => (i, i % 4)).toDF("id", "p").repartition(4),
        partitionColumns = Seq("p"))
      // four position deletes on a non-partition column, one key each,
      // and one equality delete, all racing for the next version
      val keys = Seq(10L, 51L, 102L, 153L)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val writers = keys.map(k => () => { TxTable.forIceberg(spark, loc).delete(s"id = $k"); () }) :+
        (() => { IcebergWriter.equalityDelete(spark, loc, Seq("id"), Seq(199L).toDF("id")); () })
      val threads = writers.map(w => new Thread(() =>
        try w() catch { case e: Throwable => errors.add(e) }))
      threads.foreach(_.start())
      threads.foreach(_.join(300000))
      assert(errors.isEmpty, s"round $round: ${errors.peek()}")
      val left = TxTable.forIceberg(spark, loc).toDF.select(col("id")).as[Long].collect().sorted
      assert(left.toSeq == (0L until 200L).filterNot((keys :+ 199L).contains),
        s"round $round: rows wrong after the race")
    }
  }

  test("a DV delete upgrades a protocol that lacks deletionVectors") {
    val loc = TestSpark.tmpDir("commitloop-dv-proto")
    val df = (0 until 100).map(i => (i.toLong, s"s$i")).toDF("id", "s")
    DeltaLogWriter.create(spark, loc, df.repartition(2))
    val t = TxTable.forForeignDelta(spark, loc)
    // a foreign writer enabled DVs in the configuration without the
    // protocol feature
    val schemaJson = t.snapshot.schema.json.replace("\\", "\\\\").replace("\"", "\\\"")
    DeltaLogWriter.writeCommit(spark, loc, 1L, Seq(
      """{"commitInfo":{"timestamp":1,"operation":"SET TBLPROPERTIES","operationParameters":{}}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{"delta.enableDeletionVectors":"true"}}}"""))
    assert(DeltaLog.replayState(spark, loc, None)._1.minWriter < 7)

    t.delete("id % 10 = 3")
    val state = DeltaLog.replayState(spark, loc, None)._1
    assert(state.minReader == 3 && state.minWriter == 7)
    assert(state.readerFeatures.contains("deletionVectors"))
    assert(state.writerFeatures.contains("deletionVectors"))
    // the legacy writer version's implied features carry forward
    assert(Set("appendOnly", "invariants").subsetOf(state.writerFeatures))
    assert(t.snapshot.files.flatMap(_.deletionVector).map(_.cardinality).sum == 10L)
    assert(t.toDF.count() == 90L)
  }
}

object CommitLoopSpec {
  private val Scheme = "nocheckpoint"

  /** Checkpoint creates refused so far, across both logs. */
  val refused = new AtomicInteger()

  /** The local file system under its own scheme, failing every create
    * under a checkpoint temp path (the native log's `.tmpckpt-*` file,
    * the Delta log's `.ckpt-tmp-*` directory).
    */
  class NoCheckpointFs extends FilterFileSystem(new RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
  }) {
    override def getScheme: String = Scheme

    override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
        replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
      val p = f.toUri.getPath
      if (p.contains("/.tmpckpt-") || p.contains("/.ckpt-tmp-")) {
        refused.incrementAndGet()
        throw new java.io.IOException(s"checkpoint create refused: $f")
      }
      super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
    }
  }
}
