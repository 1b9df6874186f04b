package graft.tables

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.catalog.AlreadyExistsError

/** CLONE (Delta CLONE semantics): SHALLOW = metadata-only fork referencing
  * the source's files by absolute path; DEEP = distributed file copy,
  * self-contained. Either way the clone is a fresh table whose later
  * history is independent of the source's.
  */
class CloneSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def base: DataFrame =
    Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d")).toDF("id", "tag")

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).toSeq.sorted

  test("native shallow clone: zero data files written, reads match, histories diverge") {
    val src = TestSpark.tmpDir("clone-src")
    val t = new TxTable(spark, src)
    t.create(base)                                    // v0
    t.append(Seq((4L, "e")).toDF("id", "tag"))        // v1
    val tgt = TestSpark.tmpDir("clone-tgt")
    val c = t.cloneTo(tgt, shallow = true)
    assert(ids(c.toDF) == Seq(0L, 1L, 2L, 3L, 4L))
    // metadata-only: no parquet under the target
    val tgtParquet = new java.io.File(tgt).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(tgtParquet.isEmpty, "shallow clone must not copy data files")
    // the clone's adds carry absolute paths into the source
    assert(c.snapshot.files.forall(a => TxLog.isAbsolute(a.path)))
    // divergence: writes to one never show in the other
    c.append(Seq((9L, "z")).toDF("id", "tag"))
    t.delete("id = 0")
    assert(ids(c.toDF) == Seq(0L, 1L, 2L, 3L, 4L, 9L))
    assert(ids(t.toDF) == Seq(1L, 2L, 3L, 4L))
  }

  test("native shallow clone at an earlier version (time-travel clone)") {
    val src = TestSpark.tmpDir("clone-ver-src")
    val t = new TxTable(spark, src)
    t.create(base)                                    // v0
    t.append(Seq((4L, "e")).toDF("id", "tag"))        // v1
    val c = t.cloneTo(TestSpark.tmpDir("clone-ver-tgt"), shallow = true, version = Some(0L))
    assert(ids(c.toDF) == Seq(0L, 1L, 2L, 3L))
  }

  test("native shallow clone of a hive-partitioned table keeps partition values and pruning") {
    val src = TestSpark.tmpDir("clone-part-src")
    val t = new TxTable(spark, src)
    // values hive paths escape, and a null partition, come back exactly
    val rows = Seq((0L, "x", "p1"), (1L, "y", "p2"), (2L, "z", "a b"),
      (3L, "w", "x%y"), (4L, "v", "a=b"), (5L, "u", null))
    t.create(rows.toDF("id", "tag", "pt"), partitionColumns = Seq("pt"))
    val c = t.cloneTo(TestSpark.tmpDir("clone-part-tgt"))
    assert(c.toDF.orderBy("id").collect().map(r => (r.getLong(0), r.getString(2))).toSeq ==
      rows.map(r => (r._1, r._3)))
    assert(ids(c.toDF.filter("pt = 'p2'")) == Seq(1L))
    assert(ids(c.toDF.filter("pt = 'a b'")) == Seq(2L))
    assert(ids(c.toDF.filter("pt = 'x%y'")) == Seq(3L))
    assert(ids(c.toDF.filter("pt = 'a=b'")) == Seq(4L))
    assert(ids(c.toDF.filter("pt IS NULL")) == Seq(5L))
  }

  test("native deep clone is self-contained: survives deleting the source") {
    val src = TestSpark.tmpDir("clone-deep-src")
    val t = new TxTable(spark, src)
    t.create(base)
    val tgt = TestSpark.tmpDir("clone-deep-tgt")
    val c = t.cloneTo(tgt, shallow = false)
    assert(c.snapshot.files.forall(a => !TxLog.isAbsolute(a.path)))
    // obliterate the source — a deep clone must not care
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(src))
    assert(ids(new TxTable(spark, tgt).toDF) == Seq(0L, 1L, 2L, 3L))
  }

  test("foreign Delta shallow clone rewrites DV descriptors to absolute storage") {
    val src = TestSpark.tmpDir("clone-dv-src")
    // one data file, so a 1-row delete must DV (a 1-row file would instead
    // be removed outright and the clone would have nothing to rewrite)
    DeltaLogWriter.create(spark, src, base.repartition(1),
      properties = Map("delta.enableDeletionVectors" -> "true"))
    val t = TxTable.forForeignDelta(spark, src)
    t.delete("id = 1")                                // v1: merge-on-read DV
    assert(ids(t.toDF) == Seq(0L, 2L, 3L))
    val c = t.cloneTo(TestSpark.tmpDir("clone-dv-tgt"), shallow = true)
    val dvs = c.snapshot.files.flatMap(_.deletionVector)
    assert(dvs.nonEmpty && dvs.forall(_.storageType == "p"),
      s"shallow-cloned DVs must use absolute 'p' storage, got $dvs")
    assert(ids(c.toDF) == Seq(0L, 2L, 3L))
  }

  test("foreign Delta deep clone copies DV files too") {
    val src = TestSpark.tmpDir("clone-dvdeep-src")
    DeltaLogWriter.create(spark, src, base.repartition(1),
      properties = Map("delta.enableDeletionVectors" -> "true"))
    val t = TxTable.forForeignDelta(spark, src)
    t.delete("id = 2")
    val tgt = TestSpark.tmpDir("clone-dvdeep-tgt")
    val c = t.cloneTo(tgt, shallow = false)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(src))
    assert(ids(TxTable.forForeignDelta(spark, tgt).toDF) == Seq(0L, 1L, 3L))
  }

  test("row-tracked source: clone records the id watermark, later appends allocate above it") {
    val src = TestSpark.tmpDir("clone-rt-src")
    DeltaLogWriter.create(spark, src, base,
      properties = Map("delta.enableRowTracking" -> "true"))
    val t = TxTable.forForeignDelta(spark, src)
    val srcIds = DeltaLog.toDFWithRowIds(spark, src)
      .select("_row_id").collect().map(_.getLong(0)).toSet
    val tgt = TestSpark.tmpDir("clone-rt-tgt")
    val c = t.cloneTo(tgt, shallow = true)
    c.append(Seq((8L, "h"), (9L, "i")).toDF("id", "tag"))
    val cloneIds = DeltaLog.toDFWithRowIds(spark, tgt)
      .select("_row_id").collect().map(_.getLong(0)).toSeq
    assert(cloneIds.distinct.size == cloneIds.size, "row ids must stay unique after clone+append")
    assert(srcIds.subsetOf(cloneIds.toSet), "cloned rows keep their source row ids")
  }

  test("partitioned shallow-clone reads are ONE scan, not a union per partition tuple") {
    val src = TestSpark.tmpDir("clone-manytuple-src")
    val n = 200
    val df = spark.range(0, n * 3)
      .selectExpr("id", "CAST(id % " + n + " AS INT) AS p", "id * 2 AS v")
    val t = new TxTable(spark, src)
    t.create(df, partitionColumns = Seq("p"))
    val tgt = TestSpark.tmpDir("clone-manytuple-tgt")
    val c = t.cloneTo(tgt, shallow = true)
    val read = c.toDF
    // correctness: all rows, partition values intact
    assert(read.count() == n * 3L)
    assert(read.filter("p = 7").count() == 3L)
    assert(read.selectExpr("sum(v)").collect()(0).getLong(0) ==
      (0L until n * 3).map(_ * 2).sum)
    // plan shape: one parquet scan + one broadcast lookup — NOT O(tuples)
    // children (a 10k-tuple clone would pay superlinear analysis on every
    // read, forever)
    val plan = read.queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected 1 parquet scan, got $scans\n${plan.take(4000)}")
    assert(!plan.contains("Union"), s"per-tuple union is back\n${plan.take(4000)}")
  }

  test("low-tuple-count clone reads keep planning-time partition pruning") {
    val src = TestSpark.tmpDir("clone-prune-src")
    val t = new TxTable(spark, src)
    t.create(Seq((0L, "p1"), (1L, "p2"), (2L, "p3")).toDF("id", "pt"),
      partitionColumns = Seq("pt"))
    val c = t.cloneTo(TestSpark.tmpDir("clone-prune-tgt"), shallow = true)
    val filtered = c.toDF.filter("pt = 'p2'")
    assert(filtered.collect().map(_.getLong(0)).toSeq == Seq(1L))
    // the partition filter prunes in the read's file index: the plan
    // references only p2's file
    val scanned = filtered.queryExecution.executedPlan.toString
    assert(!scanned.contains("pt=p1") && !scanned.contains("pt=p3"),
      s"non-matching partitions still scanned\n${scanned.take(3000)}")
    assert(c.filesAfterPruning("pt = 'p2'") == 1)
  }

  test("shallow-clone paths are fully qualified URIs (scheme survives)") {
    val src = TestSpark.tmpDir("clone-uri-src")
    val t = new TxTable(spark, src)
    t.create(base)
    val tgt = TestSpark.tmpDir("clone-uri-tgt")
    val c = t.cloneTo(tgt, shallow = true)
    // scheme-less absolute paths resolve against the READER's default
    // filesystem — on s3/hdfs clusters that reads the wrong store
    c.snapshot.files.foreach { a =>
      assert(a.path.startsWith("file:"), s"clone path not a full URI: ${a.path}")
    }
    assert(ids(c.toDF) == Seq(0L, 1L, 2L, 3L))
  }

  test("row-id watermark survives a clone of a source that deleted its highest-id files") {
    val src = TestSpark.tmpDir("clone-hwm-src")
    DeltaLogWriter.create(spark, src, base,
      properties = Map("delta.enableRowTracking" -> "true"))          // ids 0..3
    val t = TxTable.forForeignDelta(spark, src)
    t.append(Seq((8L, "h"), (9L, "i")).toDF("id", "tag"))             // ids 4..5
    t.delete("id >= 8")        // the file holding ids 4..5 is fully removed
    val priorIds = (0L to 5L).toSet
    val tgt = TestSpark.tmpDir("clone-hwm-tgt")
    val c = t.cloneTo(tgt, shallow = true)
    c.append(Seq((20L, "x")).toDF("id", "tag"))
    // live files max out at id 3, but the SOURCE watermark is 5: the
    // clone's first append must not reallocate ids 4..5
    val newIds = DeltaLog.toDFWithRowIds(spark, tgt)
      .filter("id = 20").select("_row_id").collect().map(_.getLong(0)).toSet
    assert(newIds.intersect(priorIds).isEmpty,
      s"clone reallocated retired row ids: $newIds")
  }

  test("clone refuses an occupied target") {
    val src = TestSpark.tmpDir("clone-guard-src")
    val t = new TxTable(spark, src)
    t.create(base)
    val tgt = TestSpark.tmpDir("clone-guard-tgt")
    new TxTable(spark, tgt).create(base)
    intercept[AlreadyExistsError](t.cloneTo(tgt))
  }

  test("iceberg shallow clone: metadata-only fork, reads match, histories diverge") {
    val src = TestSpark.tmpDir("clone-ice-src")
    IcebergWriter.create(spark, src, base)
    val t = TxTable.forIceberg(spark, src)
    t.append(Seq((4L, "e")).toDF("id", "tag"))
    val tgt = TestSpark.tmpDir("clone-ice-tgt")
    val c = t.cloneTo(tgt, shallow = true)
    assert(c.log eq IcebergCommitLog)
    assert(IcebergLog.isIcebergTable(spark, tgt))
    assert(ids(c.toDF) == Seq(0L, 1L, 2L, 3L, 4L))
    // metadata-only: no parquet under the target, anywhere
    def parquets(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) parquets(f) else if (f.getName.endsWith(".parquet")) Seq(f) else Nil)
    assert(parquets(new java.io.File(tgt)).isEmpty, "shallow clone must not copy data files")
    // divergence: writes to one never show in the other
    c.append(Seq((9L, "z")).toDF("id", "tag"))
    t.delete("id = 0")
    assert(ids(c.toDF) == Seq(0L, 1L, 2L, 3L, 4L, 9L))
    assert(ids(t.toDF) == Seq(1L, 2L, 3L, 4L))
  }

  test("iceberg shallow clone carries position deletes by reference") {
    val src = TestSpark.tmpDir("clone-icedv-src")
    IcebergWriter.create(spark, src, base.repartition(1))
    IcebergWriter.delete(spark, src, "id = 1")        // v2 position delete
    assert(ids(IcebergLog.toDF(spark, src)) == Seq(0L, 2L, 3L))
    val tgt = TestSpark.tmpDir("clone-icedv-tgt")
    IcebergWriter.shallowClone(spark, src, tgt)
    assert(ids(IcebergLog.toDF(spark, tgt)) == Seq(0L, 2L, 3L),
      "cloned snapshot must keep the source's position deletes in force")
  }

  test("iceberg shallow clone at an earlier metadata version (time-travel clone)") {
    val src = TestSpark.tmpDir("clone-icever-src")
    IcebergWriter.create(spark, src, base)            // metadata v1
    val t = TxTable.forIceberg(spark, src)
    t.append(Seq((4L, "e")).toDF("id", "tag"))        // metadata v2
    val c = t.cloneTo(TestSpark.tmpDir("clone-icever-tgt"), shallow = true,
      version = Some(1L))
    assert(ids(c.toDF) == Seq(0L, 1L, 2L, 3L))
  }

  test("iceberg partitioned shallow clone keeps partition values and pruning") {
    val src = TestSpark.tmpDir("clone-icepart-src")
    IcebergWriter.create(spark, src,
      Seq((0L, "x", "p1"), (1L, "y", "p2")).toDF("id", "tag", "pt"),
      partitionColumns = Seq("pt"))
    val tgt = TestSpark.tmpDir("clone-icepart-tgt")
    IcebergWriter.shallowClone(spark, src, tgt)
    assert(ids(IcebergLog.scan(spark, tgt, "pt = 'p2'")) == Seq(1L))
    // manifest-level pruning still plans a strict file subset
    assert(IcebergLog.filesAfterPruning(spark, tgt, "pt = 'p2'") == 1)
  }

  test("iceberg deep clone is refused; occupied target is refused") {
    val src = TestSpark.tmpDir("clone-iceguard-src")
    IcebergWriter.create(spark, src, base)
    val t = TxTable.forIceberg(spark, src)
    intercept[graft.catalog.UnsupportedOperationError](
      t.cloneTo(TestSpark.tmpDir("clone-iceguard-tgt"), shallow = false))
    val occupied = TestSpark.tmpDir("clone-iceguard-occ")
    IcebergWriter.create(spark, occupied, base)
    intercept[AlreadyExistsError](t.cloneTo(occupied))
  }
}
