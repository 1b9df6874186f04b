package graft

import org.apache.spark.sql.SparkSession

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(graft.sql.GraftSqlExtensions.install)
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // cost-based optimizer ON: the stamped column statistics the
      // engine attaches (GraftPlannerStats) feed filter selectivity and
      // join-reorder costing; relations without stats fall back to
      // size-only estimation exactly as before
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // analyze once so graft sizes the generated-class cache before any
    // spec encodes a local Seq: that encoding generates code before the
    // session analyzes anything, and Spark creates its JVM-wide cache at
    // the first code generation
    s.range(0)
    s
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
