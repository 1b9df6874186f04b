package graft.tables

import java.net.URI

import org.apache.hadoop.fs.{FileStatus, FileSystem, FilterFileSystem, LocatedFileStatus, Path,
  PathFilter, RawLocalFileSystem, RemoteIterator}
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.catalog.FileType
import graft.io.TableIO

/** Writes put each data file in place once and let the log commit be the
  * only publish: a failed write leaves the table and its directory as
  * they were, a successful one leaves no staging entry, and graft's
  * recursive listings never ask for located statuses (whose permission
  * copy forks a process per file on the local file system).
  */
class InPlaceWriteSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def logs(name: String): Seq[(String, TxTable)] = Seq(
    "native" -> new TxTable(spark, TestSpark.tmpDir(s"$name-native") + "/t"),
    "delta" -> TxTable.forForeignDelta(spark, TestSpark.tmpDir(s"$name-delta") + "/t"),
    "iceberg" -> TxTable.forIceberg(spark, TestSpark.tmpDir(s"$name-ice") + "/t"))

  private def rows(df: DataFrame): Seq[Row] = df.orderBy("id").collect().toSeq

  /** Every status under `dir`, directories included. */
  private def tree(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.flatMap(st => st +: (if (st.isDirectory) tree(fs, st.getPath) else Nil))

  /** Two 10-row tasks, then a 50,000-row task whose last row breaks the
    * table's CHECK constraint, so the failing task is the last to end.
    */
  private def failingAppend: DataFrame =
    spark.range(0, 20, 1, 2).union(spark.range(100, 50100, 1, 1))
      .selectExpr("id", "CAST(id AS STRING) AS s")

  test("a failed multi-task append leaves the table at its pre-state and no file behind") {
    logs("inplace-fail").foreach { case (log, t) =>
      t.create((0 until 10).map(i => (i.toLong, s"s$i")).toDF("id", "s").repartition(2))
      t.addConstraint("below_last", "id < 50099")
      val version = t.version
      val before = rows(t.toDF)
      assert(failingAppend.rdd.getNumPartitions == 3)
      val e = intercept[Exception](t.append(failingAppend))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("below_last")), log)
      assert(t.version == version, log)
      assert(rows(t.toDF) == before, log)
      val fs = TxLog.fs(spark, t.location)
      val onDisk = TxLog.leafFiles(fs, new Path(t.location))
        .map(_.getPath.toUri.getPath).filter(_.endsWith(".parquet")).toSet
      val live = t.snapshot.files
        .map(a => new Path(TxLog.resolve(t.location, a.path)).toUri.getPath).toSet
      assert(onDisk == live, s"$log: files outside the snapshot: ${onDisk -- live}")
    }
  }

  test("a successful write leaves no staging dir, _temporary or _SUCCESS entry") {
    logs("inplace-ok").foreach { case (log, t) =>
      t.create((0 until 10).map(i => (i.toLong, s"s$i", i % 2)).toDF("id", "s", "p"),
        partitionColumns = Seq("p"))
      t.append(spark.range(10, 40, 1, 3).selectExpr("id", "CAST(id AS STRING) AS s",
        "CAST(id % 2 AS INT) AS p"))
      assert(t.toDF.count() == 40, log)
      val names = tree(TxLog.fs(spark, t.location), new Path(t.location)).map(_.getPath.getName)
      val leftovers = names.filter(n =>
        n.startsWith(TxLog.StagingPrefix) || n == "_temporary" || n == "_SUCCESS")
      assert(leftovers.isEmpty, log)
    }
  }

  test("recursive listings never ask for located statuses") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.nolocated.impl", classOf[InPlaceWriteSpec.NoLocatedListingFs].getName)
    val root = "nolocated:" + TestSpark.tmpDir("inplace-nolocated")

    // VACUUM, over a table written, committed and read on that file system
    val t = new TxTable(spark, s"$root/t")
    t.create(Seq((1L, "a"), (2L, "b")).toDF("id", "s").repartition(1))
    t.overwrite(Seq((3L, "c")).toDF("id", "s").repartition(1))
    assert(t.vacuum(retainVersions = 1, retentionMs = 0L, force = true) == 1)
    assert(rows(t.toDF) == Seq(Row(3L, "c")))

    // COPY INTO's source listing
    Seq((4L, "d"), (5L, "e")).toDF("id", "s").repartition(1).write.parquet(s"$root/drop/a")
    assert(CopyInto.run(t, s"$root/drop").filesLoaded == 1L)
    assert(t.toDF.count() == 3L)

    // TableIO's first-data-file sniff and the fixture loader's memo key
    Seq((6L, "f")).toDF("id", "s").write.partitionBy("s").parquet(s"$root/plain")
    assert(TableIO.inferSchema(spark, FileType.PARQUET, s"$root/plain")._2 == Seq("s"))
    Seq((7L, 8L)).toDF("l_orderkey", "l_partkey").write.parquet(s"$root/tpch/lineitem.parquet")
    assert(graft.queries.Tables.lineitem(spark, s"$root/tpch").count() == 1L)
  }
}

object InPlaceWriteSpec {
  private val Scheme = "nolocated"

  /** The local file system under its own scheme, failing every located
    * listing (`listFiles` and `listLocatedStatus`).
    */
  class NoLocatedListingFs extends FilterFileSystem(new RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
  }) {
    override def getScheme: String = Scheme

    private def refuse(f: Path): Nothing =
      throw new AssertionError(s"located listing of $f")

    override def listFiles(f: Path, recursive: Boolean): RemoteIterator[LocatedFileStatus] =
      refuse(f)

    override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = refuse(f)

    override protected def listLocatedStatus(f: Path,
        filter: PathFilter): RemoteIterator[LocatedFileStatus] = refuse(f)
  }
}
