package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.tables.{DeltaLog, DeltaLogWriter}

import Det._

/** Driver-visible queries over the real-Delta (`_delta_log`) interop path
  * (graft/tables/DeltaInterop.scala). The query materializes a subset of
  * lineitem THROUGH the Delta protocol — partitioned create + append, then
  * a log-replay read — so the hash check proves the round-trip is
  * byte-exact: the oracle computes the same aggregate straight from the
  * source parquet, so any loss/dup/reorder in the Delta write or the
  * manifest-planned read breaks the hash.
  *
  * Reference: Delta is the reference's primary format
  * (/root/reference/uchelper/dataframe.py:198-199, 305-354).
  */
object InteropQueries {

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q67_delta_interop_roundtrip",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q67-delta").toString
        val li = Tables.lineitem(s, dir)
        DeltaLogWriter.create(s, loc, li.filter(col("l_quantity") <= 10),
          partitionColumns = Seq("l_returnflag"))
        DeltaLogWriter.append(s, loc, li.filter(col("l_quantity") > 10 && col("l_quantity") <= 15))
        DeltaLog.toDF(s, loc)
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity").cast(LongType)).as("sum_qty"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
        FROM lineitem WHERE l_quantity <= 15
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // incremental change feed: only the rows appended AFTER the base
    // version flow out, tagged with their commit; the oracle recomputes
    // the appended slice directly from parquet
    QueryDef(
      "q70_change_feed",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q70-cdc").toString
        val li = Tables.lineitem(s, dir)
        val t = new graft.tables.TxTable(s, loc)
        t.create(li.filter(col("l_quantity") <= 5))                                // v0: base
        t.append(li.filter(col("l_quantity") > 5 && col("l_quantity") <= 10))      // v1
        t.append(li.filter(col("l_quantity") > 10 && col("l_quantity") <= 12))     // v2
        t.changesSince(0L)
          .groupBy(col("_commit_version").as("commit_version"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity").cast(LongType)).as("sum_qty"))
          .orderBy(col("commit_version"))
      },
      Some("""SELECT CAST(CASE WHEN l_quantity <= 10 THEN 1 ELSE 2 END AS BIGINT) AS commit_version,
          COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem WHERE l_quantity > 5 AND l_quantity <= 12
        GROUP BY 1 ORDER BY 1""")),

    // the round-4 foreign-Delta WRITE matrix end-to-end: create through the
    // Delta protocol, replaceWhere (remove+add rewrite), then a MERGE
    // schema-evolution append (metaData action) — the final log-replay read
    // must hash-match an oracle that reconstructs the same state straight
    // from the source parquet
    QueryDef(
      "q76_foreign_delta_write_matrix",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q76-fdw").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"), col("l_extendedprice"))
        DeltaLogWriter.create(s, loc, li.filter(col("l_quantity") <= 10))
        val t = graft.tables.TxTable.forForeignDelta(s, loc)
        t.replaceWhere(
          li.filter(col("l_quantity") <= 10 && col("l_returnflag") === "R")
            .withColumn("l_extendedprice", col("l_extendedprice") * 2),
          "l_returnflag = 'R'")
        t.append(
          li.filter(col("l_quantity") > 10 && col("l_quantity") <= 12)
            .withColumn("src", lit("late")),
          graft.catalog.SchemaEvolution.MERGE)
        DeltaLog.toDF(s, loc)
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity").cast(LongType)).as("sum_qty"),
            dsum(col("l_extendedprice")).as("revenue"),
            count(col("src")).as("n_late"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""WITH state AS (
          SELECT l_returnflag, l_quantity,
            CASE WHEN l_returnflag = 'R' THEN l_extendedprice * 2 ELSE l_extendedprice END AS price,
            NULL AS src
          FROM lineitem WHERE l_quantity <= 10
          UNION ALL
          SELECT l_returnflag, l_quantity, l_extendedprice AS price, 'late' AS src
          FROM lineitem WHERE l_quantity > 10 AND l_quantity <= 12)
        SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          ${sqlSum("price")} AS revenue,
          CAST(COUNT(src) AS BIGINT) AS n_late
        FROM state GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // round-5 deletion vectors end-to-end: two merge-on-read DELETEs commit
    // bitmaps (no file rewrite — DeletionVectorsSpec asserts that shape);
    // the log-replay read must drop exactly the deleted rows, so the hash
    // check against an oracle filtering the source parquet proves the DV
    // write AND the DV-filtered scan agree row-for-row
    QueryDef(
      "q79_dv_delete",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q79-dv").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"), col("l_extendedprice"))
        DeltaLogWriter.create(s, loc, li.filter(col("l_quantity") <= 12),
          properties = Map("delta.enableDeletionVectors" -> "true"))
        val t = graft.tables.TxTable.forForeignDelta(s, loc)
        t.delete("l_quantity <= 3")
        t.delete("l_returnflag = 'A' AND l_quantity <= 6")
        // merge-on-read UPDATE: old rows into DVs, new versions appended
        t.update("l_quantity = 12", Map("l_extendedprice" -> "l_extendedprice * 3"))
        DeltaLog.toDF(s, loc)
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity").cast(LongType)).as("sum_qty"),
            dsum(col("l_extendedprice")).as("revenue"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          ${sqlSum("CASE WHEN l_quantity = 12 THEN l_extendedprice * 3 ELSE l_extendedprice END")} AS revenue
        FROM lineitem
        WHERE l_quantity <= 12 AND NOT (l_quantity <= 3)
          AND NOT (l_returnflag = 'A' AND l_quantity <= 6)
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // round-5+ change data feed: a CDF-enabled Delta table takes a DELETE
    // and an UPDATE; tableChanges must reproduce the exact per-change-type
    // row sets (cdc actions written by this library, read back by it), and
    // the oracle reconstructs the same changes straight from the source
    // parquet — delete rows, update pre- and postimages
    QueryDef(
      "q82_change_data_feed",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q82-cdf").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"), col("l_extendedprice"))
        DeltaLogWriter.create(s, loc, li.filter(col("l_quantity") <= 15),
          properties = Map("delta.enableChangeDataFeed" -> "true"))
        val t = graft.tables.TxTable.forForeignDelta(s, loc)
        t.delete("l_quantity > 10")                                        // v1: cdc deletes
        t.update("l_quantity <= 3", Map("l_extendedprice" -> "l_extendedprice * 2")) // v2: pre/post
        t.tableChanges(1)
          .groupBy(col("_change_type").as("change_type"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity").cast(LongType)).as("sum_qty"),
            dsum(col("l_extendedprice")).as("revenue"))
          .orderBy(col("change_type"))
      },
      Some(s"""WITH changes AS (
          SELECT 'delete' AS change_type, l_quantity, l_extendedprice AS price
          FROM lineitem WHERE l_quantity > 10 AND l_quantity <= 15
          UNION ALL
          SELECT 'update_preimage' AS change_type, l_quantity, l_extendedprice AS price
          FROM lineitem WHERE l_quantity <= 3
          UNION ALL
          SELECT 'update_postimage' AS change_type, l_quantity,
            CAST(l_extendedprice * 2 AS DECIMAL(12,2)) AS price
          FROM lineitem WHERE l_quantity <= 3)
        SELECT change_type, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          ${sqlSum("price")} AS revenue
        FROM changes GROUP BY change_type ORDER BY change_type""")),

    // a compaction between two appends must be INVISIBLE to the change
    // feed (dataChange=false actions): the feed over the whole history
    // sees exactly the appended rows, never the rewritten bytes
    QueryDef(
      "q83_cdf_skips_optimize",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q83-opt").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"), col("l_extendedprice"))
        DeltaLogWriter.create(s, loc, li.filter(col("l_quantity") <= 8).repartition(8),
          properties = Map("delta.enableChangeDataFeed" -> "true"))
        val t = graft.tables.TxTable.forForeignDelta(s, loc)
        t.optimize()                                                        // v1: dataChange=false
        t.append(li.filter(col("l_quantity") > 8 && col("l_quantity") <= 10)) // v2
        t.tableChanges(0)
          .groupBy(col("_change_type").as("change_type"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity").cast(LongType)).as("sum_qty"))
          .orderBy(col("change_type"))
      },
      Some("""SELECT 'insert' AS change_type, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem WHERE l_quantity <= 10""")),

    // RESTORE TO VERSION: after a destructive DELETE and UPDATE, one
    // metadata commit flips the table back to v0 — the restored read must
    // hash-match the original slice recomputed from the source parquet
    // (nothing is rewritten; the manifest diff is the whole operation)
    QueryDef(
      "q84_restore",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q84-restore").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"), col("l_extendedprice"))
        DeltaLogWriter.create(s, loc, li.filter(col("l_quantity") <= 12))
        val t = graft.tables.TxTable.forForeignDelta(s, loc)
        t.delete("l_quantity > 8")
        t.update("l_quantity <= 2", Map("l_extendedprice" -> "0.0"))
        t.restore(0L)
        DeltaLog.toDF(s, loc)
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity").cast(LongType)).as("sum_qty"),
            dsum(col("l_extendedprice")).as("revenue"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          ${sqlSum("l_extendedprice")} AS revenue
        FROM lineitem WHERE l_quantity <= 12
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // round-5 SetTransaction ("txn") idempotence on a REAL Delta log: batch
    // 0 is delivered TWICE (the crash-recovery re-run every at-least-once
    // stream sink produces) plus a batch 1; each lands through
    // appendIdempotent, which commits rows + (appId, version) watermark in
    // one atomic action. The oracle counts each slice exactly once — a
    // duplicated batch-0 append doubles its rows and breaks the hash
    QueryDef(
      "q85_idempotent_txn_append",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q85-txn").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"), col("l_extendedprice"))
        DeltaLogWriter.create(s, loc, li.filter(col("l_quantity") <= 8))
        val t = graft.tables.TxTable.forForeignDelta(s, loc)
        val b0 = li.filter(col("l_quantity") > 8 && col("l_quantity") <= 10)
        val b1 = li.filter(col("l_quantity") > 10 && col("l_quantity") <= 12)
        t.appendIdempotent(b0, "q85-stream", 0L)
        t.appendIdempotent(b0, "q85-stream", 0L) // re-delivered: must no-op
        t.appendIdempotent(b1, "q85-stream", 1L)
        DeltaLog.toDF(s, loc)
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity").cast(LongType)).as("sum_qty"),
            dsum(col("l_extendedprice")).as("revenue"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          ${sqlSum("l_extendedprice")} AS revenue
        FROM lineitem WHERE l_quantity <= 12
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // round-5 variant type end-to-end: events.props parses into a VARIANT
    // column, lands in a Delta table, replays, and extracts typed fields —
    // the oracle computes the same aggregate from the raw JSON strings, so
    // any loss in the variant encode/decode or the Delta round-trip breaks
    // the hash (extraction semantics proven engine-identical by q33)
    QueryDef(
      "q90_variant_roundtrip",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q90-variant").toString
        val e = Tables.events(s, dir).select(col("event_id"), col("event_type"),
          parse_json(col("props")).as("v"))
        DeltaLogWriter.create(s, loc, e)
        DeltaLog.toDF(s, loc)
          .select(col("event_type"),
            variant_get(col("v"), "$.k", "long").as("k"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("k")).as("sum_k"),
            max(col("k")).as("max_k"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, COUNT(*) AS n,
          CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // round-6 row tracking through REWRITES: a single sorted file gives
    // every row a deterministic fresh id (baseRowId 0 + position); a
    // copy-on-write DELETE then an UPDATE rewrite the file, materializing
    // ids into the replacement files. The PER-ROW output pins every
    // surviving (id, commit version): survivors keep id+version, updated
    // rows keep the id but take the UPDATE commit's version — the oracle
    // replays ids as ROW_NUMBER over the same sort
    QueryDef(
      "q94_row_tracking_rewrite",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q94-rt").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"), col("l_extendedprice"))
          .filter(col("l_quantity") <= 12)
          .repartition(1).sortWithinPartitions("l_orderkey", "l_linenumber")
        DeltaLogWriter.create(s, loc, li,
          properties = Map("delta.enableRowTracking" -> "true"))
        val t = graft.tables.TxTable.forForeignDelta(s, loc)
        t.delete("l_quantity > 8")                                           // v1: rewrite
        t.update("l_quantity <= 2", Map("l_extendedprice" -> "l_extendedprice * 2")) // v2
        DeltaLog.toDFWithRowIds(s, loc)
          .select(col("l_orderkey"), col("l_linenumber"), col("_row_id"),
            col("_row_commit_version"), col("l_extendedprice"))
          .orderBy(col("_row_id"))
      },
      Some("""WITH base AS (
          SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
            ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS rid
          FROM lineitem WHERE l_quantity <= 12)
        SELECT l_orderkey, l_linenumber, CAST(rid AS BIGINT) AS _row_id,
          CAST(CASE WHEN l_quantity <= 2 THEN 2 ELSE 0 END AS BIGINT) AS _row_commit_version,
          CASE WHEN l_quantity <= 2 THEN l_extendedprice * 2
               ELSE l_extendedprice END AS l_extendedprice
        FROM base WHERE NOT (l_quantity > 8)
        ORDER BY _row_id""")),

    // round-6 Apache Iceberg interop (the north star's other format): a
    // lineitem slice goes THROUGH the Iceberg v2 metadata — create +
    // append write real manifests/manifest lists/metadata.json, the read
    // replays them — so the hash check proves the metadata round-trip is
    // byte-exact against an oracle computing the same aggregate straight
    // from the source parquet
    QueryDef(
      "q95_iceberg_roundtrip",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q95-ice").toString + "/t"
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"), col("l_extendedprice"))
        graft.tables.IcebergWriter.create(s, loc, li.filter(col("l_quantity") <= 10))
        graft.tables.IcebergWriter.append(s, loc,
          li.filter(col("l_quantity") > 10 && col("l_quantity") <= 15))
        graft.tables.IcebergLog.toDF(s, loc)
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity").cast(LongType)).as("sum_qty"),
            dsum(col("l_extendedprice")).as("revenue"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          ${sqlSum("l_extendedprice")} AS revenue
        FROM lineitem WHERE l_quantity <= 15
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // q96: an identity-PARTITIONED Iceberg table read through scan() —
    // manifest partition values and lower/upper bounds prune files before
    // Spark plans the read, and the hash check proves pruning loses no
    // qualifying row: the oracle replays the same predicate on the source
    QueryDef(
      "q96_iceberg_partitioned_scan",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q96-ice").toString + "/t"
        val orders = Tables.orders(s, dir).select(
          col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        graft.tables.IcebergWriter.create(s, loc, orders,
          partitionColumns = Seq("o_orderpriority"))
        graft.tables.IcebergLog.scan(s, loc,
          "o_orderpriority = '1-URGENT' AND o_totalprice > 100000")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy(col("o_orderpriority"))
      },
      Some(s"""SELECT o_orderpriority, COUNT(*) AS n,
          ${sqlSum("o_totalprice")} AS total
        FROM orders WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 100000
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // q97: a position-delete (merge-on-read) DELETE through the Iceberg
    // v2 metadata — the delete plans distributed (no row funnels through
    // the driver), commits as a content=1 manifest, and the read applies
    // it through the broadcast bitmap filter; the oracle replays the
    // delete predicate as WHERE NOT(...)
    QueryDef(
      "q97_iceberg_position_delete",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q97-ice").toString + "/t"
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"), col("l_extendedprice"))
          .filter(col("l_quantity") <= 20)
        graft.tables.IcebergWriter.create(s, loc, li)
        graft.tables.IcebergWriter.delete(s, loc,
          "l_returnflag = 'A' AND l_quantity > 10")
        graft.tables.IcebergLog.toDF(s, loc)
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity").cast(LongType)).as("sum_qty"),
            dsum(col("l_extendedprice")).as("revenue"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          ${sqlSum("l_extendedprice")} AS revenue
        FROM lineitem
        WHERE l_quantity <= 20 AND NOT (l_returnflag = 'A' AND l_quantity > 10)
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // q98: MERGE through the Iceberg log — the SAME TxMerge machinery the
    // Delta and native logs use commits a spec-compliant Iceberg v2
    // snapshot (matched rows double their quantity, unmatched source rows
    // insert), proving the one-write-surface-over-three-logs design; the
    // oracle replays the merge as SQL set operations
    QueryDef(
      "q98_iceberg_merge",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q98-ice").toString + "/t"
        // the synthetic lineitem is TPC-H-ish, not key-unique — aggregate
        // both sides to a unique (orderkey, linenumber) grain first
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        val target = li.filter(col("l_quantity") <= 5)
          .groupBy(col("l_orderkey"), col("l_linenumber"))
          .agg(sum(col("l_quantity").cast(LongType)).as("l_quantity"))
        val source = li.filter(col("l_quantity") > 3 && col("l_quantity") <= 8)
          .groupBy(col("l_orderkey"), col("l_linenumber"))
          .agg(sum(col("l_quantity").cast(LongType)).as("l_quantity"))
        val t = graft.tables.TxTable.forIceberg(s, loc)
        t.create(target, Seq.empty)
        t.merge(source, "s.l_orderkey = t.l_orderkey AND s.l_linenumber = t.l_linenumber")
          .whenMatchedUpdate(Map("l_quantity" -> "t.l_quantity * 2"))
          .whenNotMatchedInsertAll()
          .execute()
        t.toDF
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity").cast(LongType)).as("sum_qty"))
      },
      Some("""WITH target AS (
          SELECT l_orderkey, l_linenumber,
            CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS l_quantity
          FROM lineitem WHERE l_quantity <= 5 GROUP BY 1, 2),
        source AS (
          SELECT l_orderkey, l_linenumber,
            CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS l_quantity
          FROM lineitem WHERE l_quantity > 3 AND l_quantity <= 8 GROUP BY 1, 2),
        merged AS (
          SELECT t.l_orderkey, t.l_linenumber,
            CASE WHEN s.l_orderkey IS NOT NULL THEN t.l_quantity * 2
                 ELSE t.l_quantity END AS l_quantity
          FROM target t LEFT JOIN source s
            ON s.l_orderkey = t.l_orderkey AND s.l_linenumber = t.l_linenumber
          UNION ALL
          SELECT s.l_orderkey, s.l_linenumber, s.l_quantity
          FROM source s LEFT JOIN target t
            ON s.l_orderkey = t.l_orderkey AND s.l_linenumber = t.l_linenumber
          WHERE t.l_orderkey IS NULL)
        SELECT COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM merged""")),

    // q102: an EQUALITY delete (content=2, the Flink-upsert shape) through
    // the Iceberg v2 metadata — keys are committed as a delete file with
    // stamped field ids and NO data file is read or rewritten; the read
    // applies the delete with the spec's strictly-smaller sequence rule,
    // so rows re-appended AFTER the delete survive. The oracle replays
    // kept-rows UNION re-appended-rows
    QueryDef(
      "q102_iceberg_equality_delete",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q102-ice").toString + "/t"
        val c = Tables.customer(s, dir).select(
          col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
        graft.tables.IcebergWriter.create(s, loc, c)
        graft.tables.IcebergWriter.equalityDelete(s, loc, Seq("c_nationkey"),
          s.range(1, 4).select(col("id").as("c_nationkey"))) // nations 1,2,3
        // re-insert nation 2 AFTER the delete: later sequence ⇒ survives
        graft.tables.IcebergWriter.append(s, loc, c.filter(col("c_nationkey") === 2))
        graft.tables.IcebergLog.toDF(s, loc)
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("sum_bal"))
          .orderBy(col("c_nationkey"))
      },
      Some(s"""WITH live AS (
          SELECT c_custkey, c_nationkey, c_acctbal FROM customer
          WHERE c_nationkey NOT IN (1, 2, 3)
          UNION ALL
          SELECT c_custkey, c_nationkey, c_acctbal FROM customer
          WHERE c_nationkey = 2)
        SELECT c_nationkey, COUNT(*) AS n, ${sqlSum("c_acctbal")} AS sum_bal
        FROM live GROUP BY c_nationkey ORDER BY c_nationkey""")),

    // q104: HIDDEN PARTITIONING — the table is bucket- and month-
    // partitioned through Iceberg's spec transforms (murmur3 bucket of
    // the custkey, UTC month ordinal of the order date); the scan filters
    // on the RAW columns and the planner projects the predicates through
    // the transforms to prune manifest entries (IcebergTransformsSpec
    // asserts the file counts; here the hash check proves projection
    // pruning loses no qualifying row — the Iceberg scan optimization
    // that matters most at 100 TB)
    QueryDef(
      "q104_iceberg_hidden_partitioning",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q104-ice").toString + "/t"
        val orders = Tables.orders(s, dir).select(
          col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
        graft.tables.IcebergWriter.create(s, loc, orders,
          partitionColumns = Seq("bucket(8, o_custkey)", "month(o_orderdate)"))
        graft.tables.IcebergLog.scan(s, loc,
          "o_custkey = 371 AND o_orderdate >= TIMESTAMP_NTZ'1995-01-01 00:00:00'")
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy(col("o_custkey"))
      },
      Some(s"""SELECT o_custkey, COUNT(*) AS n, ${sqlSum("o_totalprice")} AS total
        FROM orders WHERE o_custkey = 371 AND o_orderdate >= TIMESTAMP '1995-01-01'
        GROUP BY o_custkey ORDER BY o_custkey""")),

    // q105: the `$partitions` INSPECTION table — per-partition file and
    // row counts computed from manifest stats ALONE (IcebergMeta reads
    // metadata JSON + manifest avro; no data file is opened, which is
    // what makes the answer O(metadata) at any table size). The oracle
    // recomputes the same counts by scanning the data, so the hash check
    // proves the manifest stats our writer emits are exact.
    QueryDef(
      "q105_iceberg_partitions_meta",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q105-ice").toString + "/t"
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
        graft.tables.IcebergWriter.create(s, loc, li,
          partitionColumns = Seq("l_returnflag"))
        graft.tables.IcebergMeta.table(s, loc, "partitions")
          .select(element_at(col("partition"), "l_returnflag").as("l_returnflag"),
            col("record_count"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(*) AS record_count
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // q106: UPDATE through the Iceberg log — the shared copy-on-write
    // rewrite (file-pruned to the files that can match) commits an
    // Iceberg "overwrite" snapshot; the oracle replays the assignment as
    // a CASE expression over the source rows
    QueryDef(
      "q106_iceberg_update",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q106-ice").toString + "/t"
        val c = Tables.customer(s, dir).select(
          col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        val t = graft.tables.TxTable.forIceberg(s, loc)
        t.create(c, Seq.empty)
        t.update("c_mktsegment = 'BUILDING' AND c_acctbal < 0",
          Map("c_acctbal" -> "0.0 - c_acctbal"))
        t.toDF
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("sum_bal"))
          .orderBy(col("c_mktsegment"))
      },
      Some(s"""WITH updated AS (
          SELECT c_mktsegment,
            CASE WHEN c_mktsegment = 'BUILDING' AND c_acctbal < 0
                 THEN 0.0 - c_acctbal ELSE c_acctbal END AS c_acctbal
          FROM customer)
        SELECT c_mktsegment, COUNT(*) AS n, ${sqlSum("c_acctbal")} AS sum_bal
        FROM updated GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // q108: DUAL-FORMAT publish (Delta UniForm's shape) — a real Delta
    // table (partitioned, then thinned by a copy-on-write DELETE) is
    // mirrored into spec-compliant Iceberg v2 metadata over the SAME
    // data files, and the result is read back through the ICEBERG scan
    // path (manifest planning, partition-value column projection). The
    // hash check proves the two formats agree row-for-row on shared
    // bytes; the oracle replays create+delete straight from the source
    QueryDef(
      "q108_dual_format_publish",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q108-uni").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"))
          .filter(col("l_quantity") <= 15)
        DeltaLogWriter.create(s, loc, li, partitionColumns = Seq("l_returnflag"))
        graft.tables.TxTable.forForeignDelta(s, loc).delete("l_quantity <= 5")
        graft.tables.IcebergWriter.publishFromDelta(s, loc)
        graft.tables.IcebergLog.scan(s, loc, "l_returnflag <> 'N'")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(LongType)).as("sum_qty"),
            dsum(col("l_extendedprice")).as("revenue"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          ${sqlSum("l_extendedprice")} AS revenue
        FROM lineitem
        WHERE l_quantity <= 15 AND l_quantity > 5 AND l_returnflag <> 'N'
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- metadata-only count: count(*) must not scan 100 TB ----
    // a DV-bearing Delta table's live row count computed purely from the
    // log (per-file numRecords minus DV cardinalities); the in-query
    // require()s pin that the DV path was actually exercised, the oracle
    // pins the arithmetic against DuckDB's scan-based count
    QueryDef(
      "q109_metadata_count",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q109-cnt").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"))
        graft.tables.DeltaLogWriter.create(s, loc, li.repartition(4),
          properties = Map("delta.enableDeletionVectors" -> "true"))
        val t = graft.tables.TxTable.forForeignDelta(s, loc)
        t.delete("l_quantity <= 4")
        require(t.snapshot.files.exists(_.deletionVector.exists(_.cardinality > 0)),
          "q109 expects live deletion vectors")
        import s.implicits._
        Seq(t.countRows()).toDF("n_live")
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_live
        FROM lineitem WHERE l_quantity > 4""")),

    // ---- incremental compaction preserves data exactly ----
    // trickle appends leave small-file debris next to one well-sized file;
    // optimizeCompact must rewrite ONLY the debris (the require()s pin
    // both the commit and the surviving big file) and the post-compaction
    // aggregate hash-matches an oracle computed from the raw source
    QueryDef(
      "q110_compaction",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q110-compact").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"), col("l_extendedprice"))
        val t = new graft.tables.TxTable(s, loc)
        t.create(li.filter(col("l_linenumber") === 1).repartition(1))
        (2 to 7).foreach { k =>
          t.append(li.filter(col("l_linenumber") === k).repartition(1))
        }
        val big = t.snapshot.files.maxBy(_.sizeBytes)
        require(t.optimizeCompact(minFileBytes = big.sizeBytes, targetFileBytes = 1L << 30),
          "q110 expects a compaction commit")
        val after = t.snapshot
        require(after.files.exists(_.path == big.path), "well-sized file must survive")
        require(after.files.size < 7, "debris must have been binned")
        t.toDF
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(LongType)).as("sum_qty"),
            dsum(col("l_extendedprice")).as("revenue"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          ${sqlSum("l_extendedprice")} AS revenue
        FROM lineitem WHERE l_linenumber <= 7
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- per-partition metadata stats with merge-on-read deletes ----
    // partitionStats answers "rows per partition" from the log alone
    // (numRecords minus DV cardinalities, per tuple); the oracle recounts
    // from the raw source, so the hash pins the metadata arithmetic
    QueryDef(
      "q112_partition_stats",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q112-pstats").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"))
        graft.tables.DeltaLogWriter.create(s, loc, li,
          partitionColumns = Seq("l_returnflag"),
          properties = Map("delta.enableDeletionVectors" -> "true"))
        val t = graft.tables.TxTable.forForeignDelta(s, loc)
        t.delete("l_quantity <= 7")
        require(t.snapshot.files.exists(_.deletionVector.exists(_.cardinality > 0)),
          "q112 expects live deletion vectors")
        import s.implicits._
        t.partitionStats()
          .map { case (pv, st) => (pv("l_returnflag"), st.rowCount) }
          .toDF("l_returnflag", "n_live")
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_live
        FROM lineitem WHERE l_quantity > 7
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- the SQL DML surface end-to-end ----
    // a catalog Delta table driven ONLY through spark.sql statements —
    // INSERT INTO ... SELECT, DELETE, UPDATE, and MERGE ... WHEN MATCHED
    // THEN DELETE on 3-part names (GraftSqlDml rewrites them into the
    // TxTable write surface); the oracle replays the statement sequence
    // as one set-algebra expression over the raw source
    QueryDef(
      "q111_sql_dml",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q111cat")
        client.createSchema("q111cat", "s")
        val loc = java.nio.file.Files.createTempDirectory("q111-dml").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"), col("l_extendedprice"))
        li.createOrReplaceTempView("q111_src")
        client.createAsTable(
          li.filter(col("l_linenumber") <= 2 && col("l_quantity") <= 20),
          "q111cat", "s", "t", graft.catalog.FileType.DELTA, s"$loc/t")
        s.sql("""INSERT INTO q111cat.s.t
          SELECT * FROM q111_src WHERE l_linenumber = 3 AND l_quantity <= 20""")
        s.sql("DELETE FROM q111cat.s.t WHERE l_quantity <= 5")
        s.sql("""UPDATE q111cat.s.t SET l_extendedprice = l_extendedprice * 2
          WHERE l_returnflag = 'R'""")
        // DISTINCT keys: the synthetic lineitem carries duplicate
        // (orderkey, linenumber) pairs, and MERGE (correctly) refuses a
        // target row matching multiple source rows
        s.sql("""MERGE INTO q111cat.s.t AS t
          USING (SELECT DISTINCT l_orderkey, l_linenumber FROM q111_src
                 WHERE l_linenumber = 1 AND l_quantity >= 19) AS src
          ON t.l_orderkey = src.l_orderkey AND t.l_linenumber = src.l_linenumber
          WHEN MATCHED THEN DELETE""")
        s.sql("SELECT * FROM q111cat.s.t")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(LongType)).as("sum_qty"),
            dsum(col("l_extendedprice")).as("revenue"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          ${sqlSum("CASE WHEN l_returnflag = 'R' THEN l_extendedprice * 2 ELSE l_extendedprice END")} AS revenue
        FROM lineitem
        WHERE l_linenumber <= 3 AND l_quantity <= 20 AND l_quantity > 5
          AND NOT (l_linenumber = 1 AND l_orderkey IN (
            SELECT l_orderkey FROM lineitem
            WHERE l_linenumber = 1 AND l_quantity >= 19))
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- q113: the SAME SQL DML sequence on an ICEBERG catalog table ----
    // q111's statement-for-statement twin with FileType.ICEBERG: every
    // INSERT/DELETE/UPDATE/MERGE routes through IcebergCommitLog (v2
    // snapshots, position deletes, copy-on-write updates) instead of the
    // Delta protocol — same oracle, so the SQL write surface is
    // hash-anchored on BOTH transactional backends
    QueryDef(
      "q113_iceberg_sql_dml",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q113cat")
        client.createSchema("q113cat", "s")
        val loc = java.nio.file.Files.createTempDirectory("q113-dml").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"), col("l_extendedprice"))
        li.createOrReplaceTempView("q113_src")
        client.createAsTable(
          li.filter(col("l_linenumber") <= 2 && col("l_quantity") <= 20),
          "q113cat", "s", "t", graft.catalog.FileType.ICEBERG, s"$loc/t")
        s.sql("""INSERT INTO q113cat.s.t
          SELECT * FROM q113_src WHERE l_linenumber = 3 AND l_quantity <= 20""")
        s.sql("DELETE FROM q113cat.s.t WHERE l_quantity <= 5")
        s.sql("""UPDATE q113cat.s.t SET l_extendedprice = l_extendedprice * 2
          WHERE l_returnflag = 'R'""")
        s.sql("""MERGE INTO q113cat.s.t AS t
          USING (SELECT DISTINCT l_orderkey, l_linenumber FROM q113_src
                 WHERE l_linenumber = 1 AND l_quantity >= 19) AS src
          ON t.l_orderkey = src.l_orderkey AND t.l_linenumber = src.l_linenumber
          WHEN MATCHED THEN DELETE""")
        s.sql("SELECT * FROM q113cat.s.t")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(LongType)).as("sum_qty"),
            dsum(col("l_extendedprice")).as("revenue"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          ${sqlSum("CASE WHEN l_returnflag = 'R' THEN l_extendedprice * 2 ELSE l_extendedprice END")} AS revenue
        FROM lineitem
        WHERE l_linenumber <= 3 AND l_quantity <= 20 AND l_quantity > 5
          AND NOT (l_linenumber = 1 AND l_orderkey IN (
            SELECT l_orderkey FROM lineitem
            WHERE l_linenumber = 1 AND l_quantity >= 19))
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- q114: Iceberg maintenance end-to-end: expire → vacuum → read ----
    // create + append + MoR delete leave three snapshots; expireSnapshots
    // truncates history to the current one and vacuum (retention floor
    // forced to 0) physically removes what expiry orphaned. The oracle
    // pins THREE facts at once: the surviving read's aggregate (vacuum
    // deleted no live file — the scan would throw), the $snapshots count
    // (= 1, expiry actually truncated), and the $files/$delete_files
    // record-count sums (manifest replay still plans exactly the written
    // and deleted row populations; file COUNTS would be layout-dependent,
    // row sums are exact)
    QueryDef(
      "q114_iceberg_expire_vacuum",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q114-ice").toString + "/t"
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_returnflag"),
          col("l_quantity"), col("l_extendedprice"))
        graft.tables.IcebergWriter.create(s, loc, li.filter(col("l_quantity") <= 10))
        graft.tables.IcebergWriter.append(s, loc,
          li.filter(col("l_quantity") > 10 && col("l_quantity") <= 14))
        graft.tables.IcebergWriter.delete(s, loc, "l_quantity <= 4")
        graft.tables.IcebergWriter.expireSnapshots(s, loc, Long.MaxValue, retainLast = 1)
        graft.tables.TxTable.forIceberg(s, loc)
          .vacuum(retainVersions = 1, retentionMs = 0L, force = true)
        val snaps = graft.tables.IcebergMeta.table(s, loc, "snapshots")
          .agg(count(lit(1)).as("n_snapshots"))
        val dataRows = graft.tables.IcebergMeta.table(s, loc, "files")
          .agg(sum(col("record_count")).as("data_rows"))
        val delRows = graft.tables.IcebergMeta.table(s, loc, "delete_files")
          .agg(sum(col("record_count")).as("deleted_rows"))
        graft.tables.IcebergLog.toDF(s, loc)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(LongType)).as("sum_qty"),
            dsum(col("l_extendedprice")).as("revenue"))
          .crossJoin(broadcast(snaps))
          .crossJoin(broadcast(dataRows))
          .crossJoin(broadcast(delRows))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          ${sqlSum("l_extendedprice")} AS revenue,
          CAST(1 AS BIGINT) AS n_snapshots,
          (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 14) AS data_rows,
          (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 4) AS deleted_rows
        FROM lineitem WHERE l_quantity <= 14 AND l_quantity > 4
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- q115: streaming CHANGE FEED over a foreign _delta_log table ----
    // the TxTable streaming source in readChangeFeed mode replays a real
    // Delta table's history — base create, append, then a CDF-backed
    // DELETE — as insert/delete change rows through an AvailableNow
    // micro-batch run; the oracle reconstructs the same change stream
    // set-algebraically from the raw source
    QueryDef(
      "q115_stream_cdf_foreign_delta",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q115-cdf").toString
        val ckpt = java.nio.file.Files.createTempDirectory("q115-ckpt").toString
        val sink = "q115_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"))
        graft.tables.DeltaLogWriter.create(s, loc, li.filter(col("l_quantity") <= 8),
          properties = Map("delta.enableChangeDataFeed" -> "true"))
        val t = graft.tables.TxTable.forForeignDelta(s, loc)
        t.append(li.filter(col("l_quantity") > 8 && col("l_quantity") <= 12))
        t.delete("l_quantity <= 3")
        val q = s.readStream.format("graft.streaming.TxTableSourceProvider")
          .option("readChangeFeed", "true").load(loc)
          .writeStream.format("memory").queryName(sink)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.table(sink)
          .groupBy(col("_change_type").as("change_type"), col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(LongType)).as("sum_qty"))
          .orderBy(col("change_type"), col("l_returnflag"))
      },
      Some("""SELECT change_type, l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM (
          SELECT 'insert' AS change_type, l_returnflag, l_quantity
          FROM lineitem WHERE l_quantity <= 12
          UNION ALL
          SELECT 'delete' AS change_type, l_returnflag, l_quantity
          FROM lineitem WHERE l_quantity <= 3)
        GROUP BY change_type, l_returnflag
        ORDER BY change_type, l_returnflag""")),

    // ---- q116: SHALLOW CLONE pins a state, histories diverge ----
    // A Delta table — PARTITIONED by l_returnflag, so the clone's read
    // path must take partition columns from the log (absolute-path
    // files carry no hive layout of the clone's own) — is mutated, SHALLOW-CLONED through
    // the SQL surface (CREATE TABLE ... SHALLOW CLONE, a metadata-only
    // commit referencing the source's files by absolute path), then BOTH
    // tables are mutated further. The query reads the CLONE; the oracle
    // replays the statements that reached it — so the hash breaks if the
    // clone sees a post-clone source write (isolation), misses a
    // pre-clone one (completeness), its absolute-path read drops/dups
    // rows, or the partition-value rebuild mislabels them (the grouping
    // key IS the partition column).
    QueryDef(
      "q116_shallow_clone",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q116cat")
        client.createSchema("q116cat", "s")
        val loc = java.nio.file.Files.createTempDirectory("q116-clone").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"))
        client.createAsTable(li.filter(col("l_linenumber") === 1),
          "q116cat", "s", "src", graft.catalog.FileType.DELTA, s"$loc/src",
          partitionColumns = Seq("l_returnflag"))
        s.sql("DELETE FROM q116cat.s.src WHERE l_quantity > 40")
        s.sql(s"CREATE TABLE q116cat.s.c SHALLOW CLONE q116cat.s.src LOCATION '$loc/c'")
        // post-clone writes: the source loses 'R', the clone loses tiny rows
        s.sql("DELETE FROM q116cat.s.src WHERE l_returnflag = 'R'")
        s.sql("DELETE FROM q116cat.s.c WHERE l_quantity <= 3")
        s.sql("SELECT * FROM q116cat.s.c")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(LongType)).as("sum_qty"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem
        WHERE l_linenumber = 1 AND l_quantity <= 40 AND l_quantity > 3
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- q118: SCD Type-2 dimension maintenance in one MERGE ----
    // customer becomes an SCD2 dimension (valid_from/valid_to/is_current);
    // a batch then changes every 7th key's balance, repeats every other
    // key UNCHANGED (must be a no-op), and adds shifted brand-new keys.
    // The oracle replays the version algebra: closed old versions, still-
    // current originals, new versions, fresh inserts — so the hash pins
    // change detection (including the no-op filter), the close-out
    // update, and the double-row insert all in one commit.
    QueryDef(
      "q118_scd2_dimension",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q118-scd2").toString
        val cust = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        val t = new graft.tables.TxTable(s, s"$loc/dim")
        t.create(graft.tables.Scd2.init(cust, tsVersion = 0L))
        val changes = cust
          .withColumn("c_acctbal",
            when(pmod(col("c_custkey"), lit(7)) === 0, col("c_acctbal") + 100.0)
              .otherwise(col("c_acctbal")))
          .unionAll(cust.filter(pmod(col("c_custkey"), lit(11)) === 0)
            .withColumn("c_custkey", col("c_custkey") + lit(1000000L)))
        graft.tables.Scd2.applyChanges(t, changes, Seq("c_custkey"), tsVersion = 1L)
        t.toDF.groupBy(col("is_current"), col("valid_from"))
          .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("sum_bal"))
          .orderBy(col("is_current"), col("valid_from"))
      },
      Some(s"""WITH c AS (SELECT c_custkey, c_acctbal FROM customer),
        final AS (
          SELECT FALSE AS is_current, 0 AS valid_from, c_acctbal FROM c WHERE c_custkey % 7 = 0
          UNION ALL
          SELECT TRUE, 0, c_acctbal FROM c WHERE c_custkey % 7 <> 0
          UNION ALL
          SELECT TRUE, 1, c_acctbal + 100.0 FROM c WHERE c_custkey % 7 = 0
          UNION ALL
          SELECT TRUE, 1, c_acctbal FROM c WHERE c_custkey % 11 = 0)
        SELECT is_current, CAST(valid_from AS BIGINT) AS valid_from,
          COUNT(*) AS n, ${sqlSum("c_acctbal")} AS sum_bal
        FROM final GROUP BY is_current, valid_from
        ORDER BY is_current, valid_from""")),

    // ---- q120: SCD2 PARTIAL-attribute batch (attrs inherit) ----
    // The change batch carries ONLY (c_custkey, c_acctbal) — no
    // c_mktsegment. Existing keys' new versions must INHERIT their
    // current segment through the merge; brand-new keys get null. The
    // result groups BY the segment, so a dropped/nulled inherited value
    // breaks the hash, not just the row count.
    QueryDef(
      "q120_scd2_partial_batch",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q120-scd2p").toString
        val cust = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        val t = new graft.tables.TxTable(s, s"$loc/dim")
        t.create(graft.tables.Scd2.init(cust, tsVersion = 0L))
        val partial = cust.filter(pmod(col("c_custkey"), lit(3)) === 0)
          .select(col("c_custkey"), (col("c_acctbal") + 25.0).as("c_acctbal"))
          .unionAll(cust.filter(pmod(col("c_custkey"), lit(4)) === 0)
            .select((col("c_custkey") + 2000000L).as("c_custkey"),
              (col("c_acctbal") + 7.0).as("c_acctbal")))
        graft.tables.Scd2.applyChanges(t, partial, Seq("c_custkey"), tsVersion = 1L)
        t.toDF.groupBy(col("is_current"), col("valid_from"), col("c_mktsegment"))
          .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("sum_bal"))
          .orderBy(col("is_current"), col("valid_from"), col("c_mktsegment"))
      },
      Some(s"""WITH c AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
        final AS (
          SELECT FALSE AS is_current, 0 AS valid_from, c_mktsegment, c_acctbal
          FROM c WHERE c_custkey % 3 = 0
          UNION ALL
          SELECT TRUE, 0, c_mktsegment, c_acctbal FROM c WHERE c_custkey % 3 <> 0
          UNION ALL
          SELECT TRUE, 1, c_mktsegment, c_acctbal + 25.0 FROM c WHERE c_custkey % 3 = 0
          UNION ALL
          SELECT TRUE, 1, NULL, c_acctbal + 7.0 FROM c WHERE c_custkey % 4 = 0)
        SELECT is_current, CAST(valid_from AS BIGINT) AS valid_from, c_mktsegment,
          COUNT(*) AS n, ${sqlSum("c_acctbal")} AS sum_bal
        FROM final GROUP BY is_current, valid_from, c_mktsegment
        ORDER BY is_current, valid_from, c_mktsegment""")),

    // ---- q121: incremental materialized view, all three refresh modes ----
    // A per-returnflag count/sum MV over a native table driven through its
    // full lifecycle: first refresh (creates + folds), an append-only
    // refresh (exact delta via changesSince), a source DELETE forcing the
    // full re-sync merge, then another incremental refresh on top. The
    // oracle recomputes the final aggregate from scratch — the hash
    // breaks if any delta double-counts (watermark), misses rows
    // (append-only detection), or the re-sync leaves stale groups.
    // Refresh-mode assertions are inline: a wrong mode throws -> err.
    QueryDef(
      "q121_incremental_mv",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q121-mv").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity").cast("double").as("l_quantity"))
        val src = new graft.tables.TxTable(s, s"$loc/src")
        src.create(li.filter(col("l_linenumber") <= 2))
        val mv = s"$loc/mv"
        def refresh(expect: String): Unit = {
          val r = graft.tables.IncrementalView.refresh(
            src, mv, Seq("l_returnflag"), Seq("l_quantity"))
          require(r.mode == expect, s"expected $expect refresh, got ${r.mode}")
        }
        refresh("initial")
        src.append(li.filter(col("l_linenumber") === 3 || col("l_linenumber") === 4))
        refresh("incremental")
        src.delete("l_orderkey % 10 = 0")          // non-append -> re-sync
        refresh("full")
        src.append(li.filter(col("l_linenumber") >= 5))
        refresh("incremental")
        refresh("noop")
        graft.tables.TxTable.forLocation(s, mv).toDF
          .select(col("l_returnflag"), col("n_rows"),
            col("sum_l_quantity").as("sum_qty"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n_rows,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sum_qty
        FROM lineitem
        WHERE (l_linenumber <= 4 AND l_orderkey % 10 <> 0) OR l_linenumber >= 5
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- q123: SQL materialized view (CREATE ... AS SELECT / REFRESH) ----
    // The SQL face of q121: CREATE MATERIALIZED VIEW registers a
    // catalog-queryable view table and runs the first fold; SQL DML then
    // mutates the source and REFRESH MATERIALIZED VIEW reports its mode
    // (inline-required: wrong mode -> err). The oracle recomputes the
    // final aggregate — the hash breaks if the parser mis-extracts
    // keys/sums, the refresh double-counts, or the re-sync leaves stale
    // groups behind.
    QueryDef(
      "q123_sql_materialized_view",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q123cat")
        client.createSchema("q123cat", "s")
        val loc = java.nio.file.Files.createTempDirectory("q123-mv").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity").cast("double").as("l_quantity"))
        client.createAsTable(li.filter(col("l_linenumber") <= 3),
          "q123cat", "s", "src", graft.catalog.FileType.DELTA, s"$loc/src")
        s.sql(s"""CREATE MATERIALIZED VIEW q123cat.s.v LOCATION '$loc/v' AS
          SELECT l_returnflag, COUNT(*) AS n_rows, SUM(l_quantity) AS sum_l_quantity
          FROM q123cat.s.src GROUP BY l_returnflag""")
        def refresh(expect: String): Unit = {
          val mode = s.sql("REFRESH MATERIALIZED VIEW q123cat.s.v").collect()(0).getString(0)
          require(mode == expect, s"expected $expect refresh, got $mode")
        }
        client.getTxTable("q123cat", "s", "src")
          .append(li.filter(col("l_linenumber") > 3))
        refresh("incremental")
        s.sql("DELETE FROM q123cat.s.src WHERE l_orderkey % 10 = 0")
        refresh("full")
        refresh("noop")
        s.sql("""SELECT l_returnflag, n_rows, sum_l_quantity AS sum_qty
          FROM q123cat.s.v ORDER BY l_returnflag""")
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n_rows,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sum_qty
        FROM lineitem WHERE l_orderkey % 10 <> 0
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- q124: DESCRIBE HISTORY pins the audit trail ----
    // A scripted table lifecycle (create, SQL INSERT, SQL DELETE, SQL
    // OPTIMIZE ZORDER) read back through SQL DESCRIBE HISTORY; only the
    // deterministic columns (version, operation) are emitted, against a
    // literal oracle — the hash breaks if an operation mislabels, a
    // commit is skipped, or maintenance self-triggers extra versions.
    QueryDef(
      "q124_describe_history",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q124cat")
        client.createSchema("q124cat", "s")
        val loc = java.nio.file.Files.createTempDirectory("q124-hist").toString + "/t"
        val li = Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_quantity"))
          .filter(col("l_linenumber") === 1)
        new graft.tables.TxTable(s, loc).create(li)                 // v0 CREATE
        client.registerAsTable("q124cat", "s", "t",
          graft.catalog.FileType.DELTA, loc)
        s.sql("INSERT INTO q124cat.s.t VALUES (999999999, 1)")      // v1 APPEND
        s.sql("DELETE FROM q124cat.s.t WHERE l_quantity > 45")      // v2 DELETE
        s.sql("OPTIMIZE q124cat.s.t ZORDER BY (l_orderkey)")        // v3 ZORDER
        s.sql("DESCRIBE HISTORY q124cat.s.t")
          .select(col("version"), col("operation"))
          .orderBy(col("version"))
      },
      Some("""SELECT * FROM (VALUES
          (CAST(0 AS BIGINT), 'CREATE'), (1, 'APPEND'),
          (2, 'DELETE'), (3, 'ZORDER')) AS t(version, operation)
        ORDER BY version""")),

    // ---- q125: STREAMING materialized-view maintenance ----
    // maintainView drives IncrementalView from the TxTable streaming
    // source: two AvailableNow runs bracket a source append, so the
    // second trigger must fold ONLY the new commit (the stream is the
    // commit signal; refresh reads the unapplied range under its own
    // watermark). The oracle recomputes the final aggregate — the hash
    // breaks if a trigger double-folds, misses the append, or the
    // checkpoint and view watermark disagree.
    QueryDef(
      "q125_streaming_mv",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q125-smv").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_linenumber"), col("l_returnflag"),
          col("l_quantity").cast("double").as("l_quantity"))
        val src = new graft.tables.TxTable(s, s"$loc/src")
        src.create(li.filter(col("l_linenumber") <= 2))
        def runOnce(): Unit = {
          val q = graft.streaming.StreamOps.maintainView(s, s"$loc/src",
            s"$loc/mv", Seq("l_returnflag"), Seq("l_quantity"), s"$loc/ckpt")
          q.awaitTermination(120000)
          q.stop()
          val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
          while (s.streams.active.nonEmpty && System.nanoTime() < deadline)
            Thread.sleep(50)
        }
        runOnce()
        src.append(li.filter(col("l_linenumber") > 2))
        runOnce()
        graft.tables.TxTable.forLocation(s, s"$loc/mv").toDF
          .select(col("l_returnflag"), col("n_rows"),
            col("sum_l_quantity").as("sum_qty"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n_rows,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- q126: CONVERT TO DELTA migrates parquet in place ----
    // A hive-partitioned parquet directory written by plain Spark gains
    // a real _delta_log via SQL CONVERT (zero bytes copied), registers
    // in the catalog, and takes a transactional DELETE. The grouping key
    // IS the partition column, so the hash breaks if conversion drops or
    // duplicates files, mis-parses partition values from the layout, or
    // the post-convert write surface misbehaves.
    QueryDef(
      "q126_convert_to_delta",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q126cat")
        client.createSchema("q126cat", "s")
        val loc = java.nio.file.Files.createTempDirectory("q126-convert").toString + "/t"
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
            col("l_quantity"))
          .filter(col("l_linenumber") === 1)
          .write.partitionBy("l_returnflag").parquet(loc)
        s.sql(s"CONVERT TO DELTA parquet.`$loc`")
        client.registerAsTable("q126cat", "s", "t", graft.catalog.FileType.DELTA, loc)
        s.sql("DELETE FROM q126cat.s.t WHERE l_quantity > 40")
        s.sql("SELECT * FROM q126cat.s.t")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(LongType)).as("sum_qty"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem WHERE l_linenumber = 1 AND l_quantity <= 40
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- q119: SHALLOW CLONE of an ICEBERG table pins a state ----
    // The source is an Iceberg v2 table mutated merge-on-read (DELETE →
    // position-delete snapshot, never a rewrite). The clone is a
    // metadata-only fork: new table-metadata + a manifest-list that
    // re-lists the SOURCE's immutable manifests (data AND delete) by
    // absolute path. Both tables are then mutated further. The query
    // reads the CLONE; the oracle replays only the statements that
    // reached it — the hash breaks if the clone misses the carried
    // position deletes (pre-clone DELETE), sees a post-clone source
    // write (isolation), or its own post-clone delete leaks back.
    QueryDef(
      "q119_iceberg_shallow_clone",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q119cat")
        client.createSchema("q119cat", "s")
        val loc = java.nio.file.Files.createTempDirectory("q119-clone").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"))
        client.createAsTable(li.filter(col("l_linenumber") === 1),
          "q119cat", "s", "src", graft.catalog.FileType.ICEBERG, s"$loc/src",
          partitionColumns = Seq("l_returnflag"))
        s.sql("DELETE FROM q119cat.s.src WHERE l_quantity > 40")   // carried deletes
        s.sql(s"CREATE TABLE q119cat.s.c SHALLOW CLONE q119cat.s.src LOCATION '$loc/c'")
        // post-clone writes: the source loses 'R', the clone loses tiny rows
        s.sql("DELETE FROM q119cat.s.src WHERE l_returnflag = 'R'")
        s.sql("DELETE FROM q119cat.s.c WHERE l_quantity <= 3")
        s.sql("SELECT * FROM q119cat.s.c")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(LongType)).as("sum_qty"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem
        WHERE l_linenumber = 1 AND l_quantity <= 40 AND l_quantity > 3
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- q127: REORG TABLE ... APPLY (PURGE) ----
    // Merge-on-read DELETEs leave the dead rows ON DISK (the file stays
    // live; only a bitmap says which rows to skip) — PURGE is the
    // deferred rewrite that materializes survivors for exactly the files
    // carrying deletion vectors. The query deletes twice (DVs merge),
    // purges via SQL, then PROVES the physical state inside the plan:
    // `n_dv_files` counts DV-carrying files after the purge (must be 0)
    // and `physical_rows` sums the log's per-file row counts (must equal
    // the live count — dead rows really left the storage). The oracle
    // recomputes both from the fixture: any purge bug — lost survivors,
    // resurrected deletes, files skipped — breaks the hash.
    QueryDef(
      "q127_reorg_purge",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q127cat")
        client.createSchema("q127cat", "s")
        val loc = java.nio.file.Files.createTempDirectory("q127-reorg").toString + "/t"
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"), col("l_extendedprice"))
        graft.tables.DeltaLogWriter.create(s, loc,
          li.filter(col("l_linenumber") <= 2).repartition(4),
          properties = Map("delta.enableDeletionVectors" -> "true"))
        client.registerAsTable("q127cat", "s", "t", graft.catalog.FileType.DELTA, loc)
        s.sql("DELETE FROM q127cat.s.t WHERE l_quantity <= 5")
        s.sql("DELETE FROM q127cat.s.t WHERE l_returnflag = 'A' AND l_quantity <= 15")
        s.sql("REORG TABLE q127cat.s.t APPLY (PURGE)")
        val snap = client.getTxTable("q127cat", "s", "t").snapshot
        val nDvFiles = snap.files.count(_.deletionVector.exists(_.cardinality > 0)).toLong
        val physicalRows = snap.files.map(_.rows).sum
        s.sql("SELECT * FROM q127cat.s.t")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(LongType)).as("sum_qty"),
            dsum(col("l_extendedprice")).as("revenue"))
          .withColumn("n_dv_files", lit(nDvFiles))
          .withColumn("physical_rows", lit(physicalRows))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""WITH live AS (
          SELECT * FROM lineitem
          WHERE l_linenumber <= 2 AND NOT (l_quantity <= 5)
            AND NOT (l_returnflag = 'A' AND l_quantity <= 15)
        )
        SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          ${sqlSum("l_extendedprice")} AS revenue,
          CAST(0 AS BIGINT) AS n_dv_files,
          (SELECT COUNT(*) FROM live) AS physical_rows
        FROM live
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- q128: CONVERT TO ICEBERG over a hive-partitioned parquet dir ----
    // Zero-copy migration: one listing + one footer pass mints Iceberg v2
    // metadata IN PLACE over files a plain `write.partitionBy` produced
    // (the files do NOT contain the partition column — reads must
    // substitute the manifest's identity-partition value per the spec's
    // column-projection rule). The converted table then takes a
    // merge-on-read DELETE and an append through the same TxTable surface.
    // `meta_rows` pins the metadata-only count (manifest record_count
    // minus delete cardinalities — zero data read); the oracle recomputes
    // the surviving rows from the fixture.
    QueryDef(
      "q128_convert_to_iceberg",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q128cat")
        client.createSchema("q128cat", "s")
        val loc = java.nio.file.Files.createTempDirectory("q128-convert").toString + "/t"
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
            col("l_quantity"))
          .filter(col("l_linenumber") === 1)
          .write.partitionBy("l_returnflag").parquet(loc)
        s.sql(s"CONVERT TO ICEBERG parquet.`$loc`")
        client.registerAsTable("q128cat", "s", "t", graft.catalog.FileType.ICEBERG, loc)
        s.sql("DELETE FROM q128cat.s.t WHERE l_quantity > 40")
        // hive layout puts the partition column LAST in the converted
        // schema — insert BY NAME, not positionally
        s.sql("INSERT INTO q128cat.s.t BY NAME " +
          "SELECT * FROM q128cat.s.t WHERE l_quantity = 1")
        val metaRows = client.getTxTable("q128cat", "s", "t").countRows()
        s.sql("SELECT * FROM q128cat.s.t")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(LongType)).as("sum_qty"))
          .withColumn("meta_rows", lit(metaRows))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH live AS (
          SELECT l_returnflag, l_quantity FROM lineitem
          WHERE l_linenumber = 1 AND l_quantity <= 40
        ), final AS (
          SELECT * FROM live
          UNION ALL
          SELECT * FROM live WHERE l_quantity = 1
        )
        SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          (SELECT COUNT(*) FROM final) AS meta_rows
        FROM final
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- q130: metadata-only RENAME/DROP COLUMN through SQL ----
    // A real-`_delta_log` table is renamed (column mapping auto-upgraded
    // in the same commit — physical layout untouched, old files resolve
    // through the mapping) and a column is dropped; a post-rename append
    // and a predicate on the renamed column prove the write path runs
    // through the mapping too. `n_files_rewritten` pins metadata-only-ness
    // in the hash: the pre-DDL file set must survive both statements
    // verbatim. The oracle replays the logical effect from the fixture.
    QueryDef(
      "q130_rename_drop_column",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q130cat")
        client.createSchema("q130cat", "s")
        val loc = java.nio.file.Files.createTempDirectory("q130-rename").toString + "/t"
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"), col("l_extendedprice"))
        graft.tables.DeltaLogWriter.create(s, loc,
          li.filter(col("l_linenumber") === 1).repartition(4))
        client.registerAsTable("q130cat", "s", "t", graft.catalog.FileType.DELTA, loc)
        val before = client.getTxTable("q130cat", "s", "t").snapshot.files.map(_.path).toSet
        s.sql("ALTER TABLE q130cat.s.t RENAME COLUMN l_quantity TO qty")
        s.sql("ALTER TABLE q130cat.s.t DROP COLUMN l_extendedprice")
        // the write path threads the mapping: appended rows land under
        // the renamed column's physical name
        s.sql("INSERT INTO q130cat.s.t BY NAME " +
          "SELECT l_orderkey, l_linenumber, l_returnflag, qty FROM q130cat.s.t WHERE qty = 1")
        val after = client.getTxTable("q130cat", "s", "t").snapshot.files.map(_.path).toSet
        val rewritten = (before -- after).size.toLong
        s.sql("SELECT * FROM q130cat.s.t WHERE qty <= 40")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("qty").cast(LongType)).as("sum_qty"))
          .withColumn("n_files_rewritten", lit(rewritten))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH base AS (
          SELECT l_returnflag, l_quantity AS qty FROM lineitem WHERE l_linenumber = 1
        ), final AS (
          SELECT * FROM base
          UNION ALL
          SELECT * FROM base WHERE qty = 1
        )
        SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(qty AS BIGINT)) AS BIGINT) AS sum_qty,
          CAST(0 AS BIGINT) AS n_files_rewritten
        FROM final WHERE qty <= 40
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- q131: Iceberg write-audit-publish (branch stage + fastForward) ----
    // The staged append advances only the audit branch: `staged_rows`
    // (main's count read BETWEEN stage and publish) must equal the
    // pre-stage count — any leak of staged rows into main breaks the
    // hash. After fastForward, main carries base + staged rows; the
    // audit read itself gates the publish (rows with l_quantity > 45
    // would fail the audit, so the stage only ships <= 45).
    QueryDef(
      "q131_iceberg_wap",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q131-wap").toString + "/t"
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"))
        graft.tables.IcebergWriter.create(s, loc, li.filter(col("l_linenumber") === 1))
        graft.tables.IcebergWriter.createBranch(s, loc, "audit")
        graft.tables.IcebergWriter.appendToBranch(s, loc,
          li.filter(col("l_linenumber") === 2 && col("l_quantity") <= 45), "audit")
        // audit: the STAGED rows (linenumber 2 on this branch) must all
        // pass the quality gate before anything reaches main
        val auditOk = graft.tables.IcebergLog.toDFAtRef(s, loc, "audit")
          .filter(col("l_linenumber") === 2 && col("l_quantity") > 45).count() == 0L
        val stagedInvisible = graft.tables.IcebergLog.toDF(s, loc).count()
        require(auditOk, "audit must pass by construction")
        graft.tables.IcebergWriter.fastForward(s, loc, "audit")
        graft.tables.IcebergLog.toDF(s, loc)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(LongType)).as("sum_qty"))
          .withColumn("rows_before_publish", lit(stagedInvisible))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH published AS (
          SELECT l_returnflag, l_quantity FROM lineitem WHERE l_linenumber = 1
          UNION ALL
          SELECT l_returnflag, l_quantity FROM lineitem
          WHERE l_linenumber = 2 AND l_quantity <= 45
        )
        SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          (SELECT COUNT(*) FROM lineitem WHERE l_linenumber = 1) AS rows_before_publish
        FROM published
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- q134: GENERATE symlink_format_manifest round trip ----
    // The manifest is how Presto/Trino/Athena read a Delta table with no
    // Delta reader: text files of absolute parquet URIs, one per
    // partition. The query DELETEs (copy-on-write here — no DVs, so
    // generation is legal), generates, then reads the table back THROUGH
    // the manifests alone (spark.read.parquet over the listed URIs, the
    // external engine's view) — plus `n_manifests` = live partition
    // count. Any stale/missing/extra path breaks the hash.
    QueryDef(
      "q134_symlink_manifest",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q134cat")
        client.createSchema("q134cat", "s")
        val loc = java.nio.file.Files.createTempDirectory("q134-gen").toString + "/t"
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"))
        graft.tables.DeltaLogWriter.create(s, loc,
          li.filter(col("l_linenumber") === 1), partitionColumns = Seq("l_returnflag"))
        client.registerAsTable("q134cat", "s", "t", graft.catalog.FileType.DELTA, loc)
        s.sql("DELETE FROM q134cat.s.t WHERE l_quantity > 40") // copy-on-write
        val nManifests = s.sql(
          "GENERATE symlink_format_manifest FOR TABLE q134cat.s.t")
          .collect()(0).getInt(0).toLong
        // the external engine's read: manifests -> file URIs -> parquet
        val root = java.nio.file.Paths.get(loc, "_symlink_format_manifest")
        val paths = java.nio.file.Files.walk(root).iterator()
        val uris = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        while (paths.hasNext) {
          val p = paths.next()
          if (p.getFileName.toString == "manifest") {
            val part = graft.tables.TxLog.unescapePathName(
              p.getParent.getFileName.toString.stripPrefix("l_returnflag="))
            java.nio.file.Files.readString(p).trim.split("\n")
              .foreach(u => uris += ((part, u)))
          }
        }
        val perPart = uris.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
        val frames = perPart.toSeq.sortBy(_._1).map { case (part, us) =>
          s.read.parquet(us: _*).select(
            lit(part).as("l_returnflag"), col("l_quantity"))
        }
        frames.reduce(_ unionAll _)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(LongType)).as("sum_qty"))
          .withColumn("n_manifests", lit(nManifests))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH live AS (
          SELECT l_returnflag, l_quantity FROM lineitem
          WHERE l_linenumber = 1 AND l_quantity <= 40
        )
        SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          (SELECT COUNT(DISTINCT l_returnflag) FROM live) AS n_manifests
        FROM live
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- q135: the WAP cycle entirely through SQL ----
    // Same contract as q131 but every step is a statement a SQL-only
    // user would run: CREATE BRANCH, staged INSERT via the suffix
    // relation, audit via VERSION AS OF 'branch', FAST FORWARD, DROP
    // BRANCH, and a post-publish tag whose pinned count rides the hash
    // (the tag must NOT see the row inserted after it).
    QueryDef(
      "q135_sql_wap_cycle",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q135cat")
        client.createSchema("q135cat", "s")
        val loc = java.nio.file.Files.createTempDirectory("q135-wap").toString + "/t"
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"))
        client.createAsTable(li.filter(col("l_linenumber") === 1),
          "q135cat", "s", "t", graft.catalog.FileType.ICEBERG, loc)
        s.sql("ALTER TABLE q135cat.s.t CREATE BRANCH audit")
        s.sql("INSERT INTO q135cat.s.t.branch_audit " +
          "SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity " +
          "FROM q135cat.s.t WHERE l_quantity <= 5")
        val mainBlind = s.sql("SELECT COUNT(*) FROM q135cat.s.t")
          .collect()(0).getLong(0)
        val auditSees = s.sql("SELECT COUNT(*) FROM q135cat.s.t VERSION AS OF 'audit'")
          .collect()(0).getLong(0)
        s.sql("ALTER TABLE q135cat.s.t FAST FORWARD TO audit")
        s.sql("ALTER TABLE q135cat.s.t DROP BRANCH audit")
        s.sql("ALTER TABLE q135cat.s.t CREATE TAG published")
        s.sql("INSERT INTO q135cat.s.t BY NAME SELECT 999999999 AS l_orderkey, " +
          "9 AS l_linenumber, 'Z' AS l_returnflag, 1 AS l_quantity")
        val tagPinned = s.sql("SELECT COUNT(*) FROM q135cat.s.t.tag_published")
          .collect()(0).getLong(0)
        s.sql("SELECT * FROM q135cat.s.t WHERE l_returnflag <> 'Z'")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(LongType)).as("sum_qty"))
          .withColumn("rows_main_blind", lit(mainBlind))
          .withColumn("rows_audit_sees", lit(auditSees))
          .withColumn("rows_tag_pinned", lit(tagPinned))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH base AS (
          SELECT l_returnflag, l_quantity FROM lineitem WHERE l_linenumber = 1
        ), staged AS (
          SELECT * FROM base WHERE l_quantity <= 5
        ), published AS (
          SELECT * FROM base UNION ALL SELECT * FROM staged
        )
        SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          (SELECT COUNT(*) FROM base) AS rows_main_blind,
          (SELECT COUNT(*) FROM published) AS rows_audit_sees,
          (SELECT COUNT(*) FROM published) AS rows_tag_pinned
        FROM published
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- q136: Iceberg snapshot-diff changelog (CDF without a log of row
    // events) ----
    // Iceberg has no cdc actions; the row feed is DERIVED: appends diff
    // to inserts, position-delete files join back to exactly the dying
    // rows (read under the PREVIOUS deletes, so re-deleting a dead
    // position emits nothing — the second DELETE below overlaps the
    // first and must surface only newly-dead rows). The oracle
    // reconstructs the same per-version feed from the fixture; an
    // OPTIMIZE between the deletes pins that replace snapshots emit no
    // change rows.
    QueryDef(
      "q136_iceberg_changelog",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q136-chlog").toString + "/t"
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"))
        val t = graft.tables.TxTable.forIceberg(s, loc)
        t.create(li.filter(col("l_linenumber") === 1))                  // v1: inserts
        t.append(li.filter(col("l_linenumber") === 2))                  // v2: inserts
        t.delete("l_quantity <= 10")                                    // v3: deletes
        t.optimizeCompact(minFileBytes = 1L << 30)                      // v4 replace: nothing
        t.delete("l_quantity <= 20 AND l_returnflag = 'A'")             // v5: overlaps v3
        graft.tables.IcebergLog.tableChanges(s, loc, 1L)
          .groupBy(col("_commit_version").as("v"), col("_change_type"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("l_quantity").cast(LongType)).as("sum_qty"))
          .orderBy(col("v"), col("_change_type"))
      },
      Some("""WITH l1 AS (SELECT l_returnflag, l_quantity FROM lineitem WHERE l_linenumber = 1),
        l2 AS (SELECT l_returnflag, l_quantity FROM lineitem WHERE l_linenumber = 2),
        lall AS (SELECT * FROM l1 UNION ALL SELECT * FROM l2),
        feed AS (
          SELECT 1 AS v, 'insert' AS ct, l_quantity FROM l1
          UNION ALL
          SELECT 2, 'insert', l_quantity FROM l2
          UNION ALL
          SELECT 3, 'delete', l_quantity FROM lall WHERE l_quantity <= 10
          UNION ALL
          SELECT 5, 'delete', l_quantity FROM lall
          WHERE l_quantity > 10 AND l_quantity <= 20 AND l_returnflag = 'A'
        )
        SELECT CAST(v AS BIGINT) AS v, ct AS _change_type,
          COUNT(*) AS n_rows,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM feed GROUP BY v, ct ORDER BY v, ct""")),

    // ---- q137: incremental MV maintenance over Iceberg MoR deletes ----
    // q121's lifecycle on an ICEBERG source: before the changelog, every
    // DELETE forced a full source rescan; now it folds as a signed row
    // feed (inline-required mode strings pin that: the delete refresh
    // MUST report "cdf", appends "incremental"). The oracle recomputes
    // the final aggregate — a double-counted delete, a stale group, or a
    // sign error breaks the hash.
    QueryDef(
      "q137_mv_iceberg_mor",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q137-mv").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity").cast("double").as("l_quantity"))
        val src = graft.tables.TxTable.forIceberg(s, s"$loc/src")
        src.create(li.filter(col("l_linenumber") <= 2))
        val mv = s"$loc/mv"
        def refresh(expect: String): Unit = {
          val r = graft.tables.IncrementalView.refresh(
            src, mv, Seq("l_returnflag"), Seq("l_quantity"))
          require(r.mode == expect, s"expected $expect refresh, got ${r.mode}")
        }
        refresh("initial")
        src.append(li.filter(col("l_linenumber") === 3))
        refresh("incremental")
        src.delete("l_orderkey % 10 = 0")   // MoR position deletes -> cdf fold
        refresh("cdf")
        src.delete("l_returnflag = 'N' AND l_orderkey % 10 = 1") // overlap-free second delete
        refresh("cdf")
        // an EQUALITY delete (the Flink-upsert shape) is also derivable:
        // the refresh must stay on the cdf path, not fall back to re-sync
        graft.tables.IcebergWriter.equalityDelete(s, s"$loc/src", Seq("l_orderkey"),
          li.filter(col("l_linenumber") <= 3)
            .filter(col("l_orderkey") % 10 === 2)
            .select(col("l_orderkey")).distinct())
        refresh("cdf")
        // an OVERWRITE-labeled commit (CoW UPDATE rewrite) is derivable
        // from file diffs too — the refresh must STAY on the cdf path
        // (carried rows surface as delete+insert pairs and net to zero
        // under the signed fold), never fall back to a full re-sync
        src.update("l_orderkey % 10 = 3", Map("l_quantity" -> "l_quantity + 1"))
        refresh("cdf")
        refresh("noop")
        graft.tables.TxTable.forLocation(s, mv).toDF
          .select(col("l_returnflag"), col("n_rows"),
            col("sum_l_quantity").as("sum_qty"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n_rows,
          CAST(SUM(CAST(l_quantity AS BIGINT))
            + SUM(CASE WHEN l_orderkey % 10 = 3 THEN 1 ELSE 0 END) AS DOUBLE) AS sum_qty
        FROM lineitem
        WHERE l_linenumber <= 3 AND l_orderkey % 10 <> 0
          AND NOT (l_returnflag = 'N' AND l_orderkey % 10 = 1)
          AND l_orderkey % 10 <> 2
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- q139: changelog over a Flink-upsert-shaped Iceberg history ----
    // Streaming upsert engines commit EQUALITY deletes (content=2):
    // O(keys) delete files, no data rewrite. Their row delta IS
    // derivable — the previous live state semi-joined on the delete's
    // key columns under the spec's strictly-smaller-sequence rule. The
    // history pins the two subtle cases: a key re-inserted AFTER its
    // delete survives (higher data sequence), and a second delete of the
    // same key kills ONLY the re-inserted row (the first victim is
    // already dead in the previous state).
    QueryDef(
      "q139_iceberg_upsert_changelog",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q139-upsert").toString + "/t"
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"))
        val l1 = li.filter(col("l_linenumber") === 1)
        val l2 = li.filter(col("l_linenumber") === 2 && col("l_orderkey") % 7 === 0)
        val t = graft.tables.TxTable.forIceberg(s, loc)
        t.create(l1)                                                     // v1: inserts
        graft.tables.IcebergWriter.equalityDelete(s, loc, Seq("l_orderkey"),
          l1.filter(col("l_orderkey") % 7 === 0).select("l_orderkey").distinct()) // v2
        t.append(l2)                                                     // v3: re-inserts survive
        graft.tables.IcebergWriter.equalityDelete(s, loc, Seq("l_orderkey"),
          li.filter(col("l_orderkey") % 14 === 0).select("l_orderkey").distinct()) // v4
        graft.tables.IcebergLog.tableChanges(s, loc, 1L)
          .groupBy(col("_commit_version").as("v"), col("_change_type"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("l_quantity").cast(LongType)).as("sum_qty"))
          .orderBy(col("v"), col("_change_type"))
      },
      Some("""WITH l1 AS (
          SELECT l_orderkey, l_quantity FROM lineitem WHERE l_linenumber = 1
        ),
        l2 AS (
          SELECT l_orderkey, l_quantity FROM lineitem
          WHERE l_linenumber = 2 AND l_orderkey % 7 = 0
        ),
        feed AS (
          SELECT 1 AS v, 'insert' AS ct, l_quantity FROM l1
          UNION ALL
          SELECT 2, 'delete', l_quantity FROM l1 WHERE l_orderkey % 7 = 0
          UNION ALL
          SELECT 3, 'insert', l_quantity FROM l2
          UNION ALL
          SELECT 4, 'delete', l_quantity FROM l2 WHERE l_orderkey % 14 = 0
        )
        SELECT CAST(v AS BIGINT) AS v, ct AS _change_type,
          COUNT(*) AS n_rows,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM feed GROUP BY v, ct ORDER BY v, ct""")),

    // ---- q140: DESCRIBE DETAIL + VACUUM DRY RUN, oracle-anchored ----
    // The storage-audit pair: DESCRIBE DETAIL's file/row/size counters
    // come straight from the log (zero data read), and VACUUM DRY RUN
    // lists what reclamation WOULD delete without touching anything. The
    // fixture makes both deterministic: an explicit repartition pins the
    // live file count, an overwrite strands a known number of stale
    // files, and the oracle recomputes the row counts from the source —
    // the dry run deleting anything would break rows_after_dry_run.
    QueryDef(
      "q140_detail_vacuum_audit",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q140cat")
        client.createSchema("q140cat", "s")
        val loc = java.nio.file.Files.createTempDirectory("q140-detail").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        client.createAsTable(li.repartition(4), "q140cat", "s", "t",
          graft.catalog.FileType.DELTA, s"$loc/t")                     // v0: 4 files
        val t = new graft.tables.TxTable(s, s"$loc/t")
        t.overwrite(li.filter(col("l_quantity") <= 25).repartition(3)) // v1: 3 live, 4 stale
        val candidates = t.vacuumDryRun(retainVersions = 1, retentionMs = 0L, force = true)
        val after = t.toDF.count()
        s.sql("DESCRIBE DETAIL q140cat.s.t")
          .select(col("num_files"), col("num_rows"),
            (col("size_bytes") > 0L).as("size_positive"),
            lit(candidates.size.toLong).as("dry_run_candidates"),
            lit(after).as("rows_after_dry_run"))
      },
      Some("""SELECT CAST(3 AS BIGINT) AS num_files,
          (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 25) AS num_rows,
          TRUE AS size_positive,
          CAST(4 AS BIGINT) AS dry_run_candidates,
          (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 25) AS rows_after_dry_run""")),

    // ---- q142: the change feed as a SQL table-valued function ----
    // Delta's `table_changes('cat.sch.t', from[, to])` user surface,
    // resolved by the analyzer extension over BOTH feed implementations
    // (Delta CDF, Iceberg snapshot-diff changelog) — the TVF output
    // composes with ordinary SQL (grouping here). Same derived-feed
    // semantics q136 pins; this entry pins the SQL route end-to-end.
    QueryDef(
      "q142_sql_table_changes",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q142cat")
        client.createSchema("q142cat", "s")
        val loc = java.nio.file.Files.createTempDirectory("q142-tvf").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"))
        client.createAsTable(li.filter(col("l_linenumber") === 1),
          "q142cat", "s", "t", graft.catalog.FileType.ICEBERG, s"$loc/t") // v1
        val t = client.getTxTable("q142cat", "s", "t")
        t.append(li.filter(col("l_linenumber") === 2))                   // v2
        t.delete("l_quantity <= 10")                                     // v3
        s.sql("SELECT * FROM table_changes('q142cat.s.t', 1)")
          .groupBy(col("_commit_version").as("v"), col("_change_type"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("l_quantity").cast(LongType)).as("sum_qty"))
          .orderBy(col("v"), col("_change_type"))
      },
      Some("""WITH l1 AS (SELECT l_quantity FROM lineitem WHERE l_linenumber = 1),
        l2 AS (SELECT l_quantity FROM lineitem WHERE l_linenumber = 2),
        feed AS (
          SELECT 1 AS v, 'insert' AS ct, l_quantity FROM l1
          UNION ALL
          SELECT 2, 'insert', l_quantity FROM l2
          UNION ALL
          SELECT 3, 'delete', l_quantity FROM l1 WHERE l_quantity <= 10
          UNION ALL
          SELECT 3, 'delete', l_quantity FROM l2 WHERE l_quantity <= 10
        )
        SELECT CAST(v AS BIGINT) AS v, ct AS _change_type,
          COUNT(*) AS n_rows,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM feed GROUP BY v, ct ORDER BY v, ct""")),

    // ---- q145: changelog over OVERWRITE snapshots ----
    // Spark's own Iceberg writer labels dynamic-partition-overwrite and
    // CoW MERGE commits `overwrite` — the single most common write shape
    // on batch-maintained tables. Their row delta derives from file
    // diffs: removed files' still-live rows (read under the previous
    // deletes) are the delete feed, added files' rows the insert feed.
    // A CoW rewrite also CARRIES untouched rows of rewritten files —
    // those surface as delete+insert pairs at the same version and net
    // to zero under the signed fold, so the verification is two-grain:
    // the partition-aligned v2 overwrite is pinned with EXACT per-version
    // counts, the file-boundary-dependent v3 merge through the signed
    // net fold (which must equal the final table state DuckDB replays).
    QueryDef(
      "q145_iceberg_overwrite_changelog",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q145-ovw").toString + "/t"
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity").cast(LongType).as("l_quantity"))
        val t = graft.tables.TxTable.forIceberg(s, loc)
        t.create(li.filter(col("l_linenumber") === 1), Seq("l_returnflag"))    // v1
        // v2: dynamic partition overwrite — replaces EXACTLY partition 'A'
        t.overwritePartitionsDynamic(
          li.filter(col("l_linenumber") === 2 && col("l_returnflag") === "A"))
        // v3: CoW MERGE (source aggregated to a unique key grain;
        // matched rows bump quantity, unmatched insert)
        val src = li.filter(col("l_linenumber").isin(1, 4) && col("l_returnflag") === "N")
          .groupBy(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
          .agg(sum(col("l_quantity")).as("l_quantity"))
        t.merge(src, "s.l_orderkey = t.l_orderkey AND s.l_linenumber = t.l_linenumber" +
            " AND s.l_returnflag = t.l_returnflag")
          .whenMatchedUpdate(Map("l_quantity" -> "t.l_quantity + 100"))
          .whenNotMatchedInsertAll()
          .execute()
        val chg = graft.tables.IcebergLog.tableChanges(s, loc, 1L).persist()
        def n(v: Int, ct: String): Long =
          chg.filter(col("_commit_version") === v && col("_change_type") === ct).count()
        val sign = when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L))
        val out = chg.groupBy(col("l_returnflag"))
          .agg(sum(sign).as("net_rows"), sum(sign * col("l_quantity")).as("net_qty"))
          .withColumn("v1_inserts", lit(n(1, "insert")))
          .withColumn("v2_deletes", lit(n(2, "delete")))
          .withColumn("v2_inserts", lit(n(2, "insert")))
          .orderBy(col("l_returnflag"))
        chg.unpersist()
        out
      },
      Some("""WITH l AS (SELECT l_orderkey, l_linenumber, l_returnflag,
            CAST(l_quantity AS BIGINT) AS l_quantity FROM lineitem),
        l1 AS (SELECT * FROM l WHERE l_linenumber = 1),
        l2a AS (SELECT * FROM l WHERE l_linenumber = 2 AND l_returnflag = 'A'),
        tgt AS (SELECT * FROM l1 WHERE l_returnflag <> 'A' UNION ALL SELECT * FROM l2a),
        src AS (SELECT l_orderkey, l_linenumber, l_returnflag,
            CAST(SUM(l_quantity) AS BIGINT) AS l_quantity
          FROM l WHERE l_linenumber IN (1, 4) AND l_returnflag = 'N' GROUP BY 1, 2, 3),
        merged AS (
          SELECT t.l_returnflag,
            CASE WHEN s.l_orderkey IS NOT NULL THEN t.l_quantity + 100
                 ELSE t.l_quantity END AS l_quantity
          FROM tgt t LEFT JOIN src s
            ON s.l_orderkey = t.l_orderkey AND s.l_linenumber = t.l_linenumber
              AND s.l_returnflag = t.l_returnflag
          UNION ALL
          SELECT s.l_returnflag, s.l_quantity
          FROM src s LEFT JOIN tgt t
            ON s.l_orderkey = t.l_orderkey AND s.l_linenumber = t.l_linenumber
              AND s.l_returnflag = t.l_returnflag
          WHERE t.l_orderkey IS NULL)
        SELECT m.l_returnflag,
          COUNT(*) AS net_rows,
          CAST(SUM(l_quantity) AS BIGINT) AS net_qty,
          (SELECT COUNT(*) FROM l1) AS v1_inserts,
          (SELECT COUNT(*) FROM l1 WHERE l_returnflag = 'A') AS v2_deletes,
          (SELECT COUNT(*) FROM l2a) AS v2_inserts
        FROM merged m GROUP BY m.l_returnflag ORDER BY m.l_returnflag""")),

    // ---- q146: table_changes with TIMESTAMP bounds ----
    // Schedulers write timestamp-bounded feeds ("changes since last
    // night"), not version-bounded ones. The TVF's from/to dispatch on
    // TYPE (integral = version, string/timestamp = timestamp); a FROM
    // timestamp resolves to the first commit at-or-after it, a TO
    // timestamp to the last at-or-before — pinned here by querying with
    // the EXACT commit timestamps of v2 and v3 (both boundaries
    // inclusive), one as a STRING literal and one as TIMESTAMP'...'.
    QueryDef(
      "q146_sql_table_changes_timestamps",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q146cat")
        client.createSchema("q146cat", "s")
        val loc = java.nio.file.Files.createTempDirectory("q146-ts").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"))
        client.createAsTable(li.filter(col("l_linenumber") === 1),
          "q146cat", "s", "t", graft.catalog.FileType.ICEBERG, s"$loc/t") // v1
        val t = client.getTxTable("q146cat", "s", "t")
        t.append(li.filter(col("l_linenumber") === 2))                    // v2
        t.delete("l_quantity <= 10")                                      // v3
        val vts = s.sql("""SELECT DISTINCT _commit_version, _commit_timestamp
            FROM table_changes('q146cat.s.t', 1)""")
          .collect().map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
        val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS")
        fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
        s.sql(s"""SELECT _change_type, COUNT(*) AS n_rows,
            CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
          FROM table_changes('q146cat.s.t',
            '${fmt.format(vts(2L))}', TIMESTAMP'${fmt.format(vts(3L))}')
          GROUP BY _change_type ORDER BY _change_type""")
      },
      Some("""WITH l1 AS (SELECT l_quantity FROM lineitem WHERE l_linenumber = 1),
        l2 AS (SELECT l_quantity FROM lineitem WHERE l_linenumber = 2),
        feed AS (
          SELECT 'insert' AS ct, l_quantity FROM l2
          UNION ALL
          SELECT 'delete', l_quantity FROM l1 WHERE l_quantity <= 10
          UNION ALL
          SELECT 'delete', l_quantity FROM l2 WHERE l_quantity <= 10
        )
        SELECT ct AS _change_type, COUNT(*) AS n_rows,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM feed GROUP BY ct ORDER BY ct""")),

    // ---- q147: metadata-only MIN/MAX from per-file log stats ----
    // The other query every dashboard fires at a 100 TB table:
    // ungrouped COUNT(*)/MIN/MAX on stats-covered columns answers from
    // ONE snapshot read (per-file footer min/max folded on the driver),
    // zero data scanned — plan-pinned by the metadata_only column. The
    // provability rules bail to the scan when the answer could differ:
    // string extremes (writers may truncate string stats) are pinned
    // here taking the FileScan path and still hash-matching.
    QueryDef(
      "q147_metadata_minmax",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q147cat")
        client.createSchema("q147cat", "s")
        val loc = java.nio.file.Files.createTempDirectory("q147-minmax").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey").cast(LongType).as("l_orderkey"),
          col("l_linenumber"),
          col("l_quantity").cast(LongType).as("l_quantity"),
          col("l_returnflag"), col("l_shipdate"))
        client.createAsTable(li.filter(col("l_linenumber") <= 3).repartition(3),
          "q147cat", "s", "t", graft.catalog.FileType.DELTA, s"$loc/t")
        client.getTxTable("q147cat", "s", "t")
          .append(li.filter(col("l_linenumber") > 3).repartition(2))
        val q = s.sql("""SELECT COUNT(*) AS n_rows,
            MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok,
            MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
            MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship
          FROM q147cat.s.t""")
        val plan = q.queryExecution.executedPlan.toString
        val metadataOnly = plan.contains("LocalTableScan") && !plan.contains("FileScan")
        val flagQ = s.sql("SELECT MIN(l_returnflag) AS min_flag FROM q147cat.s.t")
        val flagScanned = flagQ.queryExecution.executedPlan.toString.contains("FileScan")
        q.withColumn("metadata_only", lit(metadataOnly))
          .withColumn("min_flag", lit(flagQ.collect()(0).getString(0)))
          .withColumn("flag_scanned", lit(flagScanned))
      },
      Some("""SELECT COUNT(*) AS n_rows,
          CAST(MIN(l_orderkey) AS BIGINT) AS min_ok,
          CAST(MAX(l_orderkey) AS BIGINT) AS max_ok,
          CAST(MIN(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_qty,
          CAST(MAX(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty,
          MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
          TRUE AS metadata_only,
          MIN(l_returnflag) AS min_flag,
          TRUE AS flag_scanned
        FROM lineitem""")),

    // ---- q151: partition-grouped metadata-only aggregates ----
    // `SELECT part, COUNT(*), MIN/MAX(x) GROUP BY part` on a partitioned
    // transactional table answers from the FILE LIST when every group
    // key is a partition column: files carry exact partition values, so
    // the rollup is one snapshot read (plan-pinned LocalTableScan, no
    // FileScan). After a merge-on-read DELETE plants deletion vectors,
    // grouped COUNT(*) stays metadata-only (per-file DV cardinalities
    // subtract per group) while grouped MIN/MAX correctly falls back to
    // the scan — a DV row could have been a group's extreme.
    QueryDef(
      "q151_metadata_grouped_agg",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q151cat")
        client.createSchema("q151cat", "s")
        val loc = java.nio.file.Files.createTempDirectory("q151-grp").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey").cast(LongType).as("l_orderkey"),
          col("l_quantity").cast(LongType).as("l_quantity"),
          col("l_returnflag"), col("l_shipdate"))
        // foreign Delta with DVs enabled so the DELETE below is
        // merge-on-read (bitmaps, no file rewrite) — the shape that
        // exercises the per-group DV-cardinality subtraction
        DeltaLogWriter.create(s, s"$loc/t", li.repartition(4),
          partitionColumns = Seq("l_returnflag"),
          properties = Map("delta.enableDeletionVectors" -> "true"))
        client.registerAsTable("q151cat", "s", "t",
          graft.catalog.FileType.DELTA, s"$loc/t")
        val pre = s.sql("""SELECT l_returnflag, COUNT(*) AS n_rows,
            MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok,
            MIN(l_shipdate) AS min_ship
          FROM q151cat.s.t GROUP BY l_returnflag""")
        val prePlan = pre.queryExecution.executedPlan.toString
        val preMeta = prePlan.contains("LocalTableScan") && !prePlan.contains("FileScan")
        client.getTxTable("q151cat", "s", "t").delete("l_quantity <= 2")
        val post = s.sql("""SELECT l_returnflag, COUNT(*) AS n_live
          FROM q151cat.s.t GROUP BY l_returnflag""")
        val postPlan = post.queryExecution.executedPlan.toString
        val postMeta = postPlan.contains("LocalTableScan") && !postPlan.contains("FileScan")
        val mm = s.sql("""SELECT l_returnflag, MIN(l_quantity) AS min_q
          FROM q151cat.s.t GROUP BY l_returnflag""")
        val mmScanned = mm.queryExecution.executedPlan.toString.contains("FileScan")
        pre.join(post, Seq("l_returnflag")).join(mm, Seq("l_returnflag"))
          .withColumn("grouped_metadata_only", lit(preMeta))
          .withColumn("count_post_dv_metadata_only", lit(postMeta))
          .withColumn("minmax_post_dv_scanned", lit(mmScanned))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH li AS (
          SELECT l_orderkey, CAST(l_quantity AS BIGINT) AS q,
            l_returnflag, l_shipdate
          FROM lineitem
        ),
        pre AS (
          SELECT l_returnflag, COUNT(*) AS n_rows,
            CAST(MIN(l_orderkey) AS BIGINT) AS min_ok,
            CAST(MAX(l_orderkey) AS BIGINT) AS max_ok,
            MIN(l_shipdate) AS min_ship
          FROM li GROUP BY l_returnflag
        ),
        post AS (
          SELECT l_returnflag, COUNT(*) AS n_live, MIN(q) AS min_q
          FROM li WHERE NOT q <= 2 GROUP BY l_returnflag
        )
        SELECT pre.l_returnflag, pre.n_rows, pre.min_ok, pre.max_ok,
          pre.min_ship, post.n_live, post.min_q,
          TRUE AS grouped_metadata_only,
          TRUE AS count_post_dv_metadata_only,
          TRUE AS minmax_post_dv_scanned
        FROM pre JOIN post USING (l_returnflag)
        ORDER BY l_returnflag""")),

    // ---- q154: Bloom file-skipping index (manifest-level point-lookup
    // pruning) ----
    // min/max stats can't prune equality lookups on a high-cardinality
    // UNCLUSTERED column: hash-repartitioned files all span the full
    // doc_id range, so every file "might" hold any key. The per-file
    // Bloom sidecar (BloomIndex, Delta's bloom-index DDL shape) proves
    // absence, so the point lookup reads ~1 file of 8 instead of all 8.
    // Pinned here end-to-end THROUGH the SQL surface: CREATE BLOOMFILTER
    // INDEX builds the sidecar, an append leaves the new file
    // conservatively unpruned until REFRESH BLOOMFILTER INDEX indexes
    // exactly the missing (file, column) pairs. Booleans pin the pruning
    // (stats alone = all files; bloom < half; absent key = 0 files
    // modulo one legal false positive); row values pin exactness.
    QueryDef(
      "q154_bloom_index_scan",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q154cat")
        client.createSchema("q154cat", "s")
        val loc = java.nio.file.Files.createTempDirectory("q154-bloom").toString
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("n_chars"))
        // 8 hash-partitioned files: every file's [min,max] on doc_id
        // spans ~the whole range -> stats pruning is provably useless
        client.createAsTable(docs.filter(col("doc_id") < 400).repartition(8),
          "q154cat", "s", "t", graft.catalog.FileType.DELTA, s"$loc/t")
        s.sql("CREATE BLOOMFILTER INDEX ON q154cat.s.t FOR COLUMNS (doc_id) OPTIONS (fpp = 0.01)")
        val t = client.getTxTable("q154cat", "s", "t")
        val total = t.snapshot.files.size
        val statsOnly = graft.tables.FileStats
          .survivingFiles(s, t.snapshot, "doc_id = 42").size
        val bloomed = t.filesAfterPruning("doc_id = 42")
        val absent = t.filesAfterPruning("doc_id = 100000")
        // append arrives unindexed: lookups into it stay conservative
        // (exact results), then REFRESH indexes exactly the new file
        t.append(docs.filter(col("doc_id") >= 400).repartition(1))
        val preRefresh = t.scan("doc_id = 473").count()
        val built = s.sql("REFRESH BLOOMFILTER INDEX ON q154cat.s.t")
          .collect()(0).getLong(0)
        t.scan("doc_id IN (42, 473)")
          .select(col("doc_id"), col("source"), col("n_chars"))
          .withColumn("stats_cannot_prune", lit(statsOnly == total))
          .withColumn("bloom_pruned", lit(bloomed <= total / 2))
          .withColumn("absent_proven", lit(absent <= 1))
          .withColumn("unindexed_exact", lit(preRefresh == 1L))
          .withColumn("refresh_incremental", lit(built == 1L))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, source, n_chars,
          TRUE AS stats_cannot_prune,
          TRUE AS bloom_pruned,
          TRUE AS absent_proven,
          TRUE AS unindexed_exact,
          TRUE AS refresh_incremental
        FROM documents WHERE doc_id IN (42, 473)
        ORDER BY doc_id""")),

    // ---- q156: incremental MV with APPROX_COUNT_DISTINCT state ----
    // Daily-uniques at 100 TB: the view keeps a KMV sketch per group
    // (`uniq_<c>`, array of the 4096 smallest value hashes) and each
    // append refresh folds the BATCH's sketch in with kmv_merge inside
    // the MERGE — never re-scanning the source. The merged estimate
    // must behave as if built from scratch: l_suppkey (100 distinct per
    // flag, exact regime) is pinned EQUAL to DuckDB's exact
    // COUNT(DISTINCT); l_orderkey (~11k distinct per flag, genuine
    // estimate regime) is pinned inside 4x the 1/sqrt(k) envelope.
    // Mode assertions are inline: a refresh that re-syncs instead of
    // folding throws -> err.
    QueryDef(
      "q156_mv_approx_distinct",
      (s, dir) => {
        val loc = java.nio.file.Files.createTempDirectory("q156-mvuniq").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_suppkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_quantity").cast("double").as("l_quantity"))
        val src = new graft.tables.TxTable(s, s"$loc/src")
        src.create(li.filter(col("l_linenumber") <= 3))
        val mv = s"$loc/mv"
        def refresh(expect: String): Unit = {
          val r = graft.tables.IncrementalView.refresh(
            src, mv, Seq("l_returnflag"), Seq("l_quantity"),
            uniqCols = Seq("l_orderkey", "l_suppkey"))
          require(r.mode == expect, s"expected $expect refresh, got ${r.mode}")
        }
        refresh("initial")
        src.append(li.filter(col("l_linenumber") > 3))
        refresh("incremental")
        refresh("noop")
        val view = graft.tables.IncrementalView.withDistinctEstimates(
          graft.tables.TxTable.forLocation(s, mv).toDF,
          Seq("l_orderkey", "l_suppkey"))
        val exact = li.groupBy(col("l_returnflag")).agg(
          countDistinct(col("l_orderkey")).as("exact_orders"),
          countDistinct(col("l_suppkey")).as("exact_supps"))
        view.join(exact, Seq("l_returnflag"))
          .select(col("l_returnflag"), col("n_rows"),
            col("exact_orders"), col("exact_supps"),
            (abs(col("approx_uniq_l_orderkey") - col("exact_orders")) /
              col("exact_orders") < 0.0625).as("orders_est_ok"),
            (col("approx_uniq_l_suppkey") === col("exact_supps")
              .cast(DoubleType)).as("supps_exact"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n_rows,
          COUNT(DISTINCT l_orderkey) AS exact_orders,
          COUNT(DISTINCT l_suppkey) AS exact_supps,
          TRUE AS orders_est_ok, TRUE AS supps_exact
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- q159: ANALYZE TABLE column stats + stats-served approx agg ----
    // One ANALYZE scan stamps per-column NDV (KMV, exact below 4096
    // distinct) with a snapshot fingerprint; while the fingerprint
    // matches, ungrouped APPROX_COUNT_DISTINCT answers from the stamped
    // stat — one snapshot read on a 100 TB table — and ANY data commit
    // silently invalidates (fingerprint mismatch → scan). Booleans pin:
    // below-k columns EQUAL exact, the estimate-regime column inside
    // the envelope, the approx query plan-pinned scan-free, and the
    // post-append staleness fallback plan-pinned scanning.
    QueryDef(
      "q159_analyze_ndv",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q159cat")
        client.createSchema("q159cat", "s")
        val loc = java.nio.file.Files.createTempDirectory("q159-ndv").toString
        val li = Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
        client.createAsTable(li, "q159cat", "s", "t",
          graft.catalog.FileType.DELTA, s"$loc/t")
        val ndv = s.sql("""ANALYZE TABLE q159cat.s.t COMPUTE STATISTICS
            FOR COLUMNS l_returnflag, l_suppkey, l_orderkey""")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val q = s.sql("SELECT APPROX_COUNT_DISTINCT(l_suppkey) AS du FROM q159cat.s.t")
        val servedMeta = {
          val p = q.queryExecution.executedPlan.toString
          q.collect()(0).getLong(0) == ndv("l_suppkey") &&
            p.contains("LocalTableScan") && !p.contains("FileScan")
        }
        // staleness: a DELETE (not fold-able — appends now FOLD into the
        // stamp, see q165) must flip the plan back to a scan
        client.getTxTable("q159cat", "s", "t").delete("l_returnflag = 'A'")
        val stale = s.sql("SELECT APPROX_COUNT_DISTINCT(l_suppkey) AS du FROM q159cat.s.t")
        val staleScans = stale.queryExecution.executedPlan.toString.contains("FileScan")
        // partial re-ANALYZE: restamping ONE column refreshes the table
        // fingerprint, so the stamping commit must CLEAR the other
        // columns' NDV keys — a never-restamped column has to plan a
        // scan, not get re-validated into a stale metadata-only answer
        s.sql("ANALYZE TABLE q159cat.s.t COMPUTE STATISTICS FOR COLUMNS l_suppkey")
        val qPart = s.sql("SELECT APPROX_COUNT_DISTINCT(l_orderkey) AS dv FROM q159cat.s.t")
        val partialSafe =
          qPart.queryExecution.executedPlan.toString.contains("FileScan")
        val ex = li.agg(
          countDistinct(col("l_returnflag")).as("ef"),
          countDistinct(col("l_suppkey")).as("es"),
          countDistinct(col("l_orderkey")).as("eo")).collect()(0)
        import s.implicits._
        Seq(
          ("l_returnflag", ex.getLong(0), ndv("l_returnflag") == ex.getLong(0)),
          ("l_suppkey", ex.getLong(1), ndv("l_suppkey") == ex.getLong(1)),
          ("l_orderkey", ex.getLong(2),
            math.abs(ndv("l_orderkey") - ex.getLong(2)).toDouble / ex.getLong(2) < 0.0625))
          .toDF("column", "exact_ndv", "ndv_ok")
          .withColumn("served_metadata_only", lit(servedMeta))
          .withColumn("stale_falls_back", lit(staleScans))
          .withColumn("partial_reanalyze_safe", lit(partialSafe))
          .orderBy(col("column"))
      },
      Some("""SELECT * FROM (
          SELECT 'l_returnflag' AS "column",
            COUNT(DISTINCT l_returnflag) AS exact_ndv,
            TRUE AS ndv_ok, TRUE AS served_metadata_only, TRUE AS stale_falls_back,
            TRUE AS partial_reanalyze_safe
          FROM lineitem
          UNION ALL
          SELECT 'l_suppkey', COUNT(DISTINCT l_suppkey), TRUE, TRUE, TRUE, TRUE FROM lineitem
          UNION ALL
          SELECT 'l_orderkey', COUNT(DISTINCT l_orderkey), TRUE, TRUE, TRUE, TRUE FROM lineitem
        ) ORDER BY "column"""")),

    // ---- q160: partition-only WHERE absorbed by the metadata-only
    // aggregate rules ----
    // `SELECT COUNT(*), MIN(x), MAX(x) FROM t WHERE part = 'A'` (and the
    // IN-list + grouped variants) answer from the FILE LIST: partition
    // values are exact, so a partition-only equality/IN predicate just
    // drops whole file groups from the same per-file arithmetic — one
    // snapshot read instead of a scan on the most common filtered
    // dashboard shape. Plan-pinned scan-free; the non-partition-filter
    // twin (l_quantity > 25) is plan-pinned SCANNING — the log cannot
    // prove row-level predicates. Values all recomputed by DuckDB.
    QueryDef(
      "q160_metadata_partition_filter",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q160cat")
        client.createSchema("q160cat", "s")
        val loc = java.nio.file.Files.createTempDirectory("q160-pf").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey").cast(LongType).as("l_orderkey"),
          col("l_quantity").cast(LongType).as("l_quantity"),
          col("l_returnflag"))
        client.createAsTable(li.repartition(4), "q160cat", "s", "t",
          graft.catalog.FileType.DELTA, s"$loc/t",
          partitionColumns = Seq("l_returnflag"))
        def planOf(q: org.apache.spark.sql.DataFrame) =
          q.queryExecution.executedPlan.toString
        val eq = s.sql("""SELECT COUNT(*) AS n_a, MIN(l_orderkey) AS lo_a,
            MAX(l_orderkey) AS hi_a
          FROM q160cat.s.t WHERE l_returnflag = 'A'""")
        val eqMeta = planOf(eq).contains("LocalTableScan") &&
          !planOf(eq).contains("FileScan")
        val grp = s.sql("""SELECT l_returnflag, COUNT(*) AS n
          FROM q160cat.s.t WHERE l_returnflag IN ('A', 'R')
          GROUP BY l_returnflag""")
        val grpMeta = !planOf(grp).contains("FileScan")
        // RANGE over the partition column — binary string ordering,
        // identical in Spark (default collation) and DuckDB
        val rng = s.sql(
          "SELECT COUNT(*) AS n_ge_n FROM q160cat.s.t WHERE l_returnflag >= 'N'")
        val rngMeta = !planOf(rng).contains("FileScan")
        val twin = s.sql(
          "SELECT COUNT(*) AS n_q25 FROM q160cat.s.t WHERE l_quantity > 25")
        val twinScans = planOf(twin).contains("FileScan")
        // negation: `<>` is provable from exact partition values (null
        // partitions drop under three-valued logic)
        val ne = s.sql(
          "SELECT COUNT(*) AS n_ne_a FROM q160cat.s.t WHERE l_returnflag <> 'A'")
        val neMeta = !planOf(ne).contains("FileScan")
        // a second table with PLANTED NULL partition values ('N' → null):
        // IS NULL is exactly the provable-true case for the hive default
        // partition, IS NOT NULL its complement, and OR-of-equalities
        // normalizes to IN — all one snapshot read
        client.createAsTable(
          li.withColumn("p", expr("nullif(l_returnflag, 'N')"))
            .repartition(4),
          "q160cat", "s", "tn", graft.catalog.FileType.DELTA, s"$loc/tn",
          partitionColumns = Seq("p"))
        val isn = s.sql(
          "SELECT COUNT(*) AS n_p_null FROM q160cat.s.tn WHERE p IS NULL")
        val isnMeta = !planOf(isn).contains("FileScan")
        val inn = s.sql(
          "SELECT COUNT(*) AS n_p_notnull FROM q160cat.s.tn WHERE p IS NOT NULL")
        val innMeta = !planOf(inn).contains("FileScan")
        val orq = s.sql(
          "SELECT COUNT(*) AS n_or FROM q160cat.s.tn WHERE p = 'A' OR p = 'R'")
        val orMeta = !planOf(orq).contains("FileScan")
        // trailing-% LIKE is exact prefix equality on partition values
        val lk = s.sql(
          "SELECT COUNT(*) AS n_like FROM q160cat.s.tn WHERE p LIKE 'A%'")
        val lkMeta = !planOf(lk).contains("FileScan")
        eq.crossJoin(grp.groupBy().pivot("l_returnflag", Seq("A", "R")).sum("n")
            .select(col("A").as("n_in_a"), col("R").as("n_in_r")))
          .crossJoin(rng)
          .crossJoin(twin)
          .crossJoin(ne)
          .crossJoin(isn)
          .crossJoin(inn)
          .crossJoin(orq)
          .crossJoin(lk)
          .withColumn("part_eq_metadata_only", lit(eqMeta))
          .withColumn("part_in_grouped_metadata_only", lit(grpMeta))
          .withColumn("part_range_metadata_only", lit(rngMeta))
          .withColumn("nonpart_filter_scans", lit(twinScans))
          .withColumn("part_ne_metadata_only", lit(neMeta))
          .withColumn("part_isnull_metadata_only", lit(isnMeta))
          .withColumn("part_isnotnull_metadata_only", lit(innMeta))
          .withColumn("part_or_metadata_only", lit(orMeta))
          .withColumn("part_like_metadata_only", lit(lkMeta))
      },
      Some("""SELECT
          (SELECT COUNT(*) FROM lineitem WHERE l_returnflag = 'A') AS n_a,
          (SELECT CAST(MIN(l_orderkey) AS BIGINT) FROM lineitem
            WHERE l_returnflag = 'A') AS lo_a,
          (SELECT CAST(MAX(l_orderkey) AS BIGINT) FROM lineitem
            WHERE l_returnflag = 'A') AS hi_a,
          (SELECT COUNT(*) FROM lineitem WHERE l_returnflag = 'A') AS n_in_a,
          (SELECT COUNT(*) FROM lineitem WHERE l_returnflag = 'R') AS n_in_r,
          (SELECT COUNT(*) FROM lineitem WHERE l_returnflag >= 'N') AS n_ge_n,
          (SELECT COUNT(*) FROM lineitem
            WHERE CAST(l_quantity AS BIGINT) > 25) AS n_q25,
          (SELECT COUNT(*) FROM lineitem WHERE l_returnflag <> 'A') AS n_ne_a,
          (SELECT COUNT(*) FROM lineitem
            WHERE NULLIF(l_returnflag, 'N') IS NULL) AS n_p_null,
          (SELECT COUNT(*) FROM lineitem
            WHERE NULLIF(l_returnflag, 'N') IS NOT NULL) AS n_p_notnull,
          (SELECT COUNT(*) FROM lineitem
            WHERE NULLIF(l_returnflag, 'N') = 'A'
               OR NULLIF(l_returnflag, 'N') = 'R') AS n_or,
          (SELECT COUNT(*) FROM lineitem
            WHERE NULLIF(l_returnflag, 'N') LIKE 'A%') AS n_like,
          TRUE AS part_eq_metadata_only,
          TRUE AS part_in_grouped_metadata_only,
          TRUE AS part_range_metadata_only,
          TRUE AS nonpart_filter_scans,
          TRUE AS part_ne_metadata_only,
          TRUE AS part_isnull_metadata_only,
          TRUE AS part_isnotnull_metadata_only,
          TRUE AS part_or_metadata_only,
          TRUE AS part_like_metadata_only""")),

    // ---- q161: COPY INTO — exactly-once bulk file ingestion ----
    // The nightly drop-zone pickup: files land in a directory, COPY INTO
    // loads each exactly once across any number of re-runs (write-ahead
    // intent in an ingest-log TxTable + SetTransaction-confirmed target
    // append — see tables/CopyInto.scala). Pinned: the first run loads
    // everything, an immediate re-run is a no-op, newly landed files
    // load incrementally without re-reading the old ones, and the final
    // table equals the full source (DuckDB recomputes count + sums from
    // the same lineitem slice).
    QueryDef(
      "q161_copy_into",
      (s, dir) => {
        val root = java.nio.file.Files.createTempDirectory("q161-cpin").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey").cast(LongType).as("l_orderkey"),
          col("l_quantity").cast(LongType).as("l_quantity"),
          col("l_returnflag"))
        // two drops: the first two thirds, then the rest
        li.filter(col("l_orderkey") % 3 =!= 0).repartition(3)
          .write.mode("append").parquet(s"$root/drop")
        val t = new graft.tables.TxTable(s, s"$root/t")
        t.create(li.limit(0))
        val r1 = graft.tables.CopyInto.run(t, s"$root/drop")
        val r2 = graft.tables.CopyInto.run(t, s"$root/drop") // no-op
        li.filter(col("l_orderkey") % 3 === 0).repartition(2)
          .write.mode("append").parquet(s"$root/drop")
        val r3 = graft.tables.CopyInto.run(t, s"$root/drop") // only the new files
        import s.implicits._
        t.toDF.agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity")).as("sum_qty"))
          .withColumn("first_run_loaded", lit(r1.filesLoaded == 3L && r1.rowsLoaded > 0L))
          .withColumn("rerun_noop", lit(r2.filesLoaded == 0L && r2.rowsLoaded == 0L))
          .withColumn("incremental_only_new", lit(r3.filesLoaded == 2L))
          .withColumn("batches", lit(r3.batch))
      },
      Some("""SELECT COUNT(*) AS n_rows,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          TRUE AS first_run_loaded, TRUE AS rerun_noop,
          TRUE AS incremental_only_new, CAST(2 AS BIGINT) AS batches
        FROM lineitem""")),

    // ---- q162: null-sensitive COUNT(col) answered from null counts ----
    // `SELECT COUNT(x)` (and the partition-grouped form) answers from
    // per-file NULL COUNT stats — Σ(rows − nullCount) — one snapshot
    // read instead of a scan, with the same provability discipline as
    // MIN/MAX: any file missing the null count, or any live deletion
    // vector (a deleted row's nullness is unknowable from metadata),
    // falls back to the scan. Nulls are PLANTED (doc_id % 7) so the
    // subtraction is non-trivial, and both the ungrouped and grouped
    // plans are pinned scan-free.
    QueryDef(
      "q162_metadata_count_col",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q162cat")
        client.createSchema("q162cat", "s")
        val loc = java.nio.file.Files.createTempDirectory("q162-cc").toString
        val d = Tables.documents(s, dir).select(
          col("doc_id"), col("source"),
          when(col("doc_id") % 7 === 0, lit(null).cast(StringType))
            .otherwise(col("lang")).as("maybe_lang"))
        client.createAsTable(d.repartition(4), "q162cat", "s", "t",
          graft.catalog.FileType.DELTA, s"$loc/t",
          partitionColumns = Seq("source"))
        def planOf(q: org.apache.spark.sql.DataFrame) =
          q.queryExecution.executedPlan.toString
        val u = s.sql("""SELECT COUNT(*) AS n_rows, COUNT(maybe_lang) AS n_lang
          FROM q162cat.s.t""")
        val uMeta = planOf(u).contains("LocalTableScan") && !planOf(u).contains("FileScan")
        val g = s.sql("""SELECT source, COUNT(maybe_lang) AS n_lang_src
          FROM q162cat.s.t GROUP BY source""")
        val gMeta = !planOf(g).contains("FileScan")
        u.crossJoin(g.agg(min(col("n_lang_src")).as("min_src_lang"),
            max(col("n_lang_src")).as("max_src_lang")))
          .withColumn("ungrouped_metadata_only", lit(uMeta))
          .withColumn("grouped_metadata_only", lit(gMeta))
      },
      Some("""WITH d AS (
          SELECT doc_id, source,
            CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS maybe_lang
          FROM documents
        ),
        g AS (
          SELECT source, COUNT(maybe_lang) AS n FROM d GROUP BY source
        )
        SELECT (SELECT COUNT(*) FROM d) AS n_rows,
          (SELECT COUNT(maybe_lang) FROM d) AS n_lang,
          (SELECT MIN(n) FROM g) AS min_src_lang,
          (SELECT MAX(n) FROM g) AS max_src_lang,
          TRUE AS ungrouped_metadata_only,
          TRUE AS grouped_metadata_only""")),

    // ---- q163: ANALYZE-stamped EXACT SUM served scan-free ----
    // The ANALYZE scan that stamps NDVs also stamps exact integral sums
    // (decimal-38 accumulation, so a 100 TB sum can't wrap) under the
    // same snapshot fingerprint: `SELECT SUM(x)` answers from one
    // property read while fresh. Appends FOLD (sketch merge + sum add),
    // and since round 14 a provable copy-on-write DELETE folds too
    // (subtraction); an UPDATE's value delta is never derivable, so it
    // silently invalidates back to the scan — every direction
    // plan-pinned, the values recomputed by DuckDB.
    QueryDef(
      "q163_analyze_sum",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q163cat")
        client.createSchema("q163cat", "s")
        val loc = java.nio.file.Files.createTempDirectory("q163-sum").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey").cast(LongType).as("l_orderkey"),
          col("l_quantity").cast(LongType).as("l_quantity"))
        client.createAsTable(li, "q163cat", "s", "t",
          graft.catalog.FileType.DELTA, s"$loc/t")
        s.sql("ANALYZE TABLE q163cat.s.t COMPUTE STATISTICS FOR ALL COLUMNS")
        def planOf(q: org.apache.spark.sql.DataFrame) =
          q.queryExecution.executedPlan.toString
        val fresh = s.sql(
          "SELECT SUM(l_quantity) AS sum_qty, SUM(l_orderkey) AS sum_ok FROM q163cat.s.t")
        val freshMeta = planOf(fresh).contains("LocalTableScan") &&
          !planOf(fresh).contains("FileScan")
        // an APPEND folds into the stamp (sum-neutral rows here): still
        // scan-free, still exact
        s.sql("INSERT INTO q163cat.s.t VALUES (-1, 0)")
        val folded = s.sql("SELECT SUM(l_quantity) AS sum_qty2 FROM q163cat.s.t")
        val foldedMeta = !planOf(folded).contains("FileScan")
        // round 14: a provable DELETE now folds TOO — the removed rows'
        // sum subtracts (removing the planted zero row restores the
        // original sums), SUM keeps answering scan-free
        s.sql("DELETE FROM q163cat.s.t WHERE l_orderkey = -1")
        val afterDel = s.sql("SELECT SUM(l_quantity) AS sum_qty3 FROM q163cat.s.t")
        val delMeta = !planOf(afterDel).contains("FileScan")
        // an UPDATE's value changes are never derivable: honest
        // invalidation back to the scan, still exact (no-op assignment)
        s.sql("UPDATE q163cat.s.t SET l_quantity = l_quantity WHERE l_orderkey = 1")
        val stale = s.sql("SELECT SUM(l_quantity) AS sum_qty4 FROM q163cat.s.t")
        val staleScans = planOf(stale).contains("FileScan")
        fresh.crossJoin(folded)
          .crossJoin(afterDel)
          .crossJoin(stale)
          .withColumn("fresh_metadata_only", lit(freshMeta))
          .withColumn("append_folds_scan_free", lit(foldedMeta))
          .withColumn("delete_folds_scan_free", lit(delMeta))
          .withColumn("stale_falls_back", lit(staleScans))
      },
      Some("""SELECT
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          CAST(SUM(CAST(l_orderkey AS BIGINT)) AS BIGINT) AS sum_ok,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty2,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty3,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty4,
          TRUE AS fresh_metadata_only, TRUE AS append_folds_scan_free,
          TRUE AS delete_folds_scan_free, TRUE AS stale_falls_back
        FROM lineitem""")),

    // ---- q165: incrementally-MAINTAINED ANALYZE stats across appends ----
    // The 100 TB production path: a COPY INTO-fed table appends nightly;
    // a point-in-time stamp would die on the first drop and force a full
    // re-scan ANALYZE each morning. Instead every append FOLDS its batch
    // into the stamp (exact KMV sketch merge + sum addition, one
    // column-pruned O(batch) aggregate over just the appended files —
    // tables/ColumnStats.foldAppend), so APPROX_COUNT_DISTINCT and
    // SUM keep answering SCAN-FREE after ANALYZE → COPY INTO → append,
    // with values DuckDB recomputes over the fully-grown table. A DELETE
    // twin pins round 14's split verdict: SUM folds the removal by
    // subtraction (still scan-free, DuckDB-recomputed post-delete),
    // while the KMV sketch honestly cannot un-see removed values, so
    // APPROX_COUNT_DISTINCT falls back to the scan.
    QueryDef(
      "q165_incremental_analyze_fold",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q165cat")
        client.createSchema("q165cat", "s")
        val root = java.nio.file.Files.createTempDirectory("q165-fold").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey").cast(LongType).as("l_orderkey"),
          col("l_suppkey").cast(LongType).as("l_suppkey"),
          col("l_quantity").cast(LongType).as("l_quantity"))
        // a third of the data is born with the table; the rest arrives
        // later through BOTH append paths (COPY INTO + plain append)
        client.createAsTable(li.filter(col("l_orderkey") % 3 === 1),
          "q165cat", "s", "t", graft.catalog.FileType.DELTA, s"$root/t")
        s.sql("ANALYZE TABLE q165cat.s.t COMPUTE STATISTICS FOR ALL COLUMNS")
        li.filter(col("l_orderkey") % 3 === 2).repartition(2)
          .write.mode("append").parquet(s"$root/drop")
        val t = client.getTxTable("q165cat", "s", "t")
        graft.tables.CopyInto.run(t, s"$root/drop")          // appendIdempotent fold
        t.append(li.filter(col("l_orderkey") % 3 === 0))     // plain append fold
        def planOf(q: org.apache.spark.sql.DataFrame) =
          q.queryExecution.executedPlan.toString
        val q = s.sql("""SELECT COUNT(*) AS n_rows,
            APPROX_COUNT_DISTINCT(l_suppkey) AS du_suppkey,
            APPROX_COUNT_DISTINCT(l_orderkey) AS du_orderkey,
            SUM(l_quantity) AS sum_qty
          FROM q165cat.s.t""")
        val servedMeta = planOf(q).contains("LocalTableScan") &&
          !planOf(q).contains("FileScan")
        val row = q.collect()(0)
        // suppkey is in the sketch's EXACT regime (< k distinct) — must
        // equal DuckDB's COUNT(DISTINCT); orderkey is estimate-regime —
        // pinned inside the KMV error envelope against the exact count
        val exactOrders = li.agg(countDistinct(col("l_orderkey"))).collect()(0).getLong(0)
        // tightened round 14: ~3x the KMV theoretical RSE at k=4096
        // (1/sqrt(k-2) ≈ 1.56%) so an estimator regression actually
        // surfaces instead of hiding under a generous envelope
        val estOk =
          math.abs(row.getLong(2) - exactOrders).toDouble / exactOrders < 0.05
        // the delete twin (round 14): a provable retention DELETE FOLDS
        // — SUM keeps answering scan-free by subtraction (DuckDB
        // recomputes over the post-delete rows) — while the sketch
        // honestly CANNOT un-see the removed values, so
        // APPROX_COUNT_DISTINCT falls back to the scan until re-ANALYZE
        t.delete("l_quantity = 1")
        val q2 = s.sql("SELECT SUM(l_quantity) AS sum_after_delete FROM q165cat.s.t")
        val deleteSumFolds = !planOf(q2).contains("FileScan")
        val q3 = s.sql(
          "SELECT APPROX_COUNT_DISTINCT(l_suppkey) AS d FROM q165cat.s.t")
        val deleteNdvScans = planOf(q3).contains("FileScan")
        import s.implicits._
        Seq((row.getLong(0), row.getLong(1), row.getLong(3)))
          .toDF("n_rows", "du_suppkey", "sum_qty")
          .crossJoin(q2)
          .withColumn("orderkey_est_ok", lit(estOk))
          .withColumn("served_scan_free", lit(servedMeta))
          .withColumn("delete_sum_folds", lit(deleteSumFolds))
          .withColumn("delete_ndv_falls_back", lit(deleteNdvScans))
      },
      Some("""SELECT
          (SELECT COUNT(*) FROM lineitem) AS n_rows,
          (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem) AS du_suppkey,
          (SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
            FROM lineitem) AS sum_qty,
          (SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
            FROM lineitem
            WHERE CAST(l_quantity AS BIGINT) <> 1) AS sum_after_delete,
          TRUE AS orderkey_est_ok,
          TRUE AS served_scan_free,
          TRUE AS delete_sum_folds,
          TRUE AS delete_ndv_falls_back""")),

    // ---- q166: ANALYZE-stamped exact MIN/MAX for footer-refused types ----
    // Per-file footer stats can NEVER soundly answer string extremes
    // (writers truncate them) or float extremes (NaN/-0.0 hazards), so
    // the metadata-only MIN/MAX rule honestly scans — pinned here
    // pre-ANALYZE. But the ANALYZE scan computes the TRUE extreme with
    // Spark's own ordering and stamps it ("n"/"v"-encoded, type-faithful),
    // so afterwards MIN(string)/MAX(double) answer scan-free; an append
    // with PLANTED new extremes folds them in exactly (min/max merge);
    // a delete falls back. Values recomputed by DuckDB (LEAST/GREATEST
    // fold the planted row in independently).
    QueryDef(
      "q166_analyze_minmax",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q166cat")
        client.createSchema("q166cat", "s")
        val root = java.nio.file.Files.createTempDirectory("q166-mm").toString
        val li = Tables.lineitem(s, dir)
        client.createAsTable(li, "q166cat", "s", "t",
          graft.catalog.FileType.DELTA, s"$root/t")
        def planOf(q: org.apache.spark.sql.DataFrame) =
          q.queryExecution.executedPlan.toString
        val exprsSql = """MIN(l_returnflag) AS min_rf,
            MAX(l_extendedprice) AS max_price, MIN(l_extendedprice) AS min_price"""
        // pre-ANALYZE: string/double extremes are unprovable from
        // footers -> the plan must scan
        val preScans =
          planOf(s.sql(s"SELECT $exprsSql FROM q166cat.s.t")).contains("FileScan")
        s.sql("ANALYZE TABLE q166cat.s.t COMPUTE STATISTICS FOR ALL COLUMNS")
        val q1 = s.sql(s"SELECT $exprsSql FROM q166cat.s.t")
        val stampedMeta = planOf(q1).contains("LocalTableScan") &&
          !planOf(q1).contains("FileScan")
        // planted NEW extremes arrive by append: the fold must pick
        // them up without a scan
        val t = client.getTxTable("q166cat", "s", "t")
        t.append(li.limit(1)
          .withColumn("l_returnflag", lit("0"))
          .withColumn("l_extendedprice", lit(9999999.25)))
        val q2 = s.sql("""SELECT MIN(l_returnflag) AS min_rf_2,
            MAX(l_extendedprice) AS max_price_2 FROM q166cat.s.t""")
        val foldMeta = !planOf(q2).contains("FileScan")
        // delete the planted row: it TIES the stamped string-min AND
        // double-max, so the delete fold must DROP those pairs (the
        // extreme-holder is gone) -> scan, values revert
        t.delete("l_returnflag = '0'")
        val q3 = s.sql("SELECT MIN(l_returnflag) AS min_rf_3 FROM q166cat.s.t")
        val delScans = planOf(q3).contains("FileScan")
        q1.crossJoin(q2).crossJoin(q3)
          .withColumn("prestats_scans", lit(preScans))
          .withColumn("stamped_metadata_only", lit(stampedMeta))
          .withColumn("fold_keeps_metadata", lit(foldMeta))
          .withColumn("delete_falls_back", lit(delScans))
      },
      Some("""SELECT
          (SELECT MIN(l_returnflag) FROM lineitem) AS min_rf,
          (SELECT MAX(l_extendedprice) FROM lineitem) AS max_price,
          (SELECT MIN(l_extendedprice) FROM lineitem) AS min_price,
          LEAST((SELECT MIN(l_returnflag) FROM lineitem), '0') AS min_rf_2,
          GREATEST((SELECT MAX(l_extendedprice) FROM lineitem),
            9999999.25) AS max_price_2,
          (SELECT MIN(l_returnflag) FROM lineitem) AS min_rf_3,
          TRUE AS prestats_scans, TRUE AS stamped_metadata_only,
          TRUE AS fold_keeps_metadata, TRUE AS delete_falls_back""")),

    // ---- q167: COPY INTO transform-at-load (FROM (SELECT ...)) ----
    // The drop zone holds RAW csv (header-named string columns); the
    // statement's SELECT casts and derives a bucket column at load —
    // Databricks' transform surface — and the projection is RECORDED in
    // the write-ahead intent, so a crash replay transforms identically
    // (CopyIntoSpec pins that window; here the no-op re-run and the
    // final grouped table are DuckDB-recomputed from the same slice).
    QueryDef(
      "q167_copy_into_transform",
      (s, dir) => {
        val root = java.nio.file.Files.createTempDirectory("q167-cpt").toString
        val li = Tables.lineitem(s, dir)
          .filter(col("l_orderkey") % 4 === 1)
          .select(col("l_orderkey").cast(LongType).as("l_orderkey"),
            col("l_quantity").cast(LongType).as("l_quantity"))
        li.repartition(3).write.option("header", "true")
          .mode("append").csv(s"$root/drop")
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q167cat")
        client.createSchema("q167cat", "s")
        import s.implicits._
        client.createAsTable(
          Seq.empty[(Long, Long, Long)].toDF("l_orderkey", "l_quantity", "bucket"),
          "q167cat", "s", "t", graft.catalog.FileType.DELTA, s"$root/t")
        val r1 = s.sql(s"""COPY INTO q167cat.s.t FROM
            (SELECT cast(l_orderkey as bigint) as l_orderkey,
                    cast(l_quantity as bigint) as l_quantity,
                    cast(l_orderkey as bigint) % 7 as bucket
             FROM '$root/drop')
          FILEFORMAT = CSV""").collect()(0)
        val r2 = s.sql(s"""COPY INTO q167cat.s.t FROM
            (SELECT cast(l_orderkey as bigint) as l_orderkey,
                    cast(l_quantity as bigint) as l_quantity,
                    cast(l_orderkey as bigint) % 7 as bucket
             FROM '$root/drop')
          FILEFORMAT = CSV""").collect()(0)
        s.sql("""SELECT bucket, COUNT(*) AS n,
            SUM(l_quantity) AS sum_qty FROM q167cat.s.t
          GROUP BY bucket""")
          .withColumn("first_loaded", lit(r1.getLong(0) == 3L && r1.getLong(1) > 0L))
          .withColumn("rerun_noop", lit(r2.getLong(0) == 0L && r2.getLong(1) == 0L))
          .orderBy(col("bucket"))
      },
      Some("""WITH src AS (
          SELECT CAST(l_orderkey AS BIGINT) AS ok,
                 CAST(l_quantity AS BIGINT) AS q
          FROM lineitem WHERE l_orderkey % 4 = 1
        )
        SELECT ok % 7 AS bucket, COUNT(*) AS n,
          CAST(SUM(q) AS BIGINT) AS sum_qty,
          TRUE AS first_loaded, TRUE AS rerun_noop
        FROM src GROUP BY bucket ORDER BY bucket""")),

    // ---- q168: SHOW STATISTICS FOR t — the stamp's inspection surface ----
    // A user maintaining the metadata-only path needs to SEE what is
    // stamped and whether it still binds: one row per analyzed column
    // with NDV / exact sum / exact min / max (rendered), the
    // exact-vs-estimate regime marker (`exact` = ndv < k, so "7
    // exactly" and "≈812,345 ±1.6%" are distinguishable at a glance),
    // the snapshot version the stamp binds to, and the freshness
    // verdict. Both columns sit in the sketch's EXACT regime (< 4096
    // distinct), so every value — including the NDVs and the exact
    // booleans (COUNT(DISTINCT c) < 4096) — is recomputed
    // independently by DuckDB; the stamped version is the CTAS
    // snapshot (0), deterministic by construction.
    QueryDef(
      "q168_show_statistics",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q168cat")
        client.createSchema("q168cat", "s")
        val root = java.nio.file.Files.createTempDirectory("q168-st").toString
        val li = Tables.lineitem(s, dir)
          .select(col("l_linenumber"), col("l_returnflag"))
        client.createAsTable(li, "q168cat", "s", "t",
          graft.catalog.FileType.DELTA, s"$root/t",
          partitionColumns = Seq("l_returnflag"))
        s.sql("ANALYZE TABLE q168cat.s.t COMPUTE STATISTICS FOR ALL COLUMNS")
        s.sql("SHOW STATISTICS FOR q168cat.s.t").orderBy(col("column"))
      },
      Some("""SELECT * FROM (
          SELECT 'l_linenumber' AS "column",
            COUNT(DISTINCT l_linenumber) AS ndv,
            COUNT(l_linenumber) AS cnt,
            CAST(SUM(l_linenumber) AS VARCHAR) AS "sum",
            CAST(SUM(l_linenumber) AS DOUBLE) / COUNT(l_linenumber) AS "avg",
            SQRT(CAST(COUNT(l_linenumber) *
                SUM(CAST(l_linenumber AS HUGEINT) * l_linenumber) -
                CAST(SUM(l_linenumber) AS HUGEINT) * SUM(l_linenumber) AS DOUBLE)
              / CAST(CAST(COUNT(l_linenumber) AS HUGEINT) *
                COUNT(l_linenumber) AS DOUBLE)) AS stddev,
            CAST(MIN(l_linenumber) AS VARCHAR) AS "min",
            CAST(MAX(l_linenumber) AS VARCHAR) AS "max",
            COUNT(DISTINCT l_linenumber) < 4096 AS exact,
            COUNT(DISTINCT l_returnflag) AS partition_tuples,
            CAST(0 AS BIGINT) AS stamped_version,
            TRUE AS fresh,
            'inline' AS layer_storage,
            CAST(NULL AS VARCHAR) AS sidecar_file,
            CAST(NULL AS BIGINT) AS sidecar_bytes,
            CAST(NULL AS VARCHAR) AS dropped_families
          FROM lineitem
          UNION ALL
          SELECT 'l_returnflag', COUNT(DISTINCT l_returnflag),
            COUNT(l_returnflag),
            CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
            MIN(l_returnflag), MAX(l_returnflag),
            COUNT(DISTINCT l_returnflag) < 4096, CAST(NULL AS BIGINT),
            CAST(0 AS BIGINT), TRUE,
            'inline', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
            CAST(NULL AS VARCHAR)
          FROM lineitem
        ) ORDER BY "column"""")),

    // ---- q169: DELETE-fold — stats survive a retention delete ----
    // The 100 TB norm is append-mostly with an occasional retention
    // DELETE; before round 14 that one delete killed the whole stamp
    // until a full re-ANALYZE scan. Now the delete FOLDS where
    // provable: SUM subtracts the removed rows' sum, MIN/MAX survive
    // when one O(touched) aggregate over the removed rows proves no
    // removed value ties a stamped extreme. Planted sentinel rows hold
    // every extreme, so the interior delete is provably safe — SUM,
    // MIN(string), MAX(double) all keep answering scan-free with
    // values DuckDB recomputes over the post-delete rows. The twin
    // then deletes the LOW sentinel itself: every min TIES, the pairs
    // drop, MIN honestly scans — while SUM still folds.
    QueryDef(
      "q169_delete_fold_stats",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q169cat")
        client.createSchema("q169cat", "s")
        val root = java.nio.file.Files.createTempDirectory("q169-df").toString
        import s.implicits._
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey").cast(LongType).as("l_orderkey"),
          col("l_quantity").cast(LongType).as("l_quantity"),
          col("l_extendedprice").cast(DoubleType).as("l_extendedprice"),
          col("l_returnflag"))
        val lo = Seq((-5L, -7L, -1.5, "0"))
          .toDF("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
        val hi = Seq((9000000000L, 999L, 9.9e9, "zz"))
          .toDF("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
        client.createAsTable(li.unionByName(lo).unionByName(hi),
          "q169cat", "s", "t", graft.catalog.FileType.DELTA, s"$root/t")
        s.sql("ANALYZE TABLE q169cat.s.t COMPUTE STATISTICS FOR ALL COLUMNS")
        def planOf(q: org.apache.spark.sql.DataFrame) =
          q.queryExecution.executedPlan.toString
        // the retention delete: interior rows only — provably
        // extreme-safe, so EVERYTHING below answers scan-free
        s.sql("DELETE FROM q169cat.s.t WHERE l_quantity = 25")
        val q1 = s.sql("""SELECT SUM(l_quantity) AS sum_qty,
            MIN(l_returnflag) AS min_rf, MAX(l_extendedprice) AS max_price,
            COUNT(*) AS n_rows FROM q169cat.s.t""")
        val foldMeta = planOf(q1).contains("LocalTableScan") &&
          !planOf(q1).contains("FileScan")
        // extreme-touching twin: the low sentinel holds every MIN — the
        // fold must drop the tied pairs (the holder is gone), MIN scans
        s.sql("DELETE FROM q169cat.s.t WHERE l_returnflag = '0'")
        val qMin = s.sql("SELECT MIN(l_returnflag) AS min_rf_2 FROM q169cat.s.t")
        val minScans = planOf(qMin).contains("FileScan")
        // ...while SUM keeps folding straight through BOTH deletes
        val qSum = s.sql("SELECT SUM(l_quantity) AS sum_qty_2 FROM q169cat.s.t")
        val sumStillFolds = !planOf(qSum).contains("FileScan")
        q1.crossJoin(qMin).crossJoin(qSum)
          .withColumn("retention_fold_scan_free", lit(foldMeta))
          .withColumn("extreme_touch_falls_back", lit(minScans))
          .withColumn("sum_survives_both_deletes", lit(sumStillFolds))
      },
      Some("""WITH src AS (
          SELECT CAST(l_orderkey AS BIGINT) AS ok, CAST(l_quantity AS BIGINT) AS q,
                 CAST(l_extendedprice AS DOUBLE) AS p, l_returnflag AS rf
          FROM lineitem
          UNION ALL SELECT -5, -7, -1.5, '0'
          UNION ALL SELECT 9000000000, 999, 9.9e9, 'zz'
        ), d1 AS (SELECT * FROM src WHERE q <> 25)
        SELECT
          (SELECT CAST(SUM(q) AS BIGINT) FROM d1) AS sum_qty,
          (SELECT MIN(rf) FROM d1) AS min_rf,
          (SELECT MAX(p) FROM d1) AS max_price,
          (SELECT COUNT(*) FROM d1) AS n_rows,
          (SELECT MIN(rf) FROM d1 WHERE rf <> '0') AS min_rf_2,
          (SELECT CAST(SUM(q) AS BIGINT) FROM d1 WHERE rf <> '0') AS sum_qty_2,
          TRUE AS retention_fold_scan_free,
          TRUE AS extreme_touch_falls_back,
          TRUE AS sum_survives_both_deletes""")),

    // ---- q170: APPROX_COUNT_DISTINCT absorbs a partition-only WHERE ----
    // "Distinct suppliers WHERE flag >= X" is the permanent dashboard
    // shape the TABLE-WIDE stamped sketch can never serve (it can't be
    // filtered). ANALYZE on a partitioned table therefore also stamps
    // one KMV sketch PER PARTITION tuple (bounded at 64 tuples ×
    // ~32 KB); under the same absorbed predicate family the surviving
    // partitions' sketches exact-merge into the filtered answer —
    // O(#partitions × k) driver work, zero files opened. Exact-regime
    // values (suppkey, < 4096 distinct) are DuckDB-recomputed; the
    // estimate-regime answer (orderkey) rides as an envelope boolean;
    // appends FOLD per partition; a non-partition WHERE honestly scans.
    QueryDef(
      "q170_partition_ndv",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q170cat")
        client.createSchema("q170cat", "s")
        val root = java.nio.file.Files.createTempDirectory("q170-pn").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey").cast(LongType).as("l_orderkey"),
          col("l_suppkey").cast(LongType).as("l_suppkey"),
          col("l_returnflag"))
        client.createAsTable(li.repartition(4), "q170cat", "s", "t",
          graft.catalog.FileType.DELTA, s"$root/t",
          partitionColumns = Seq("l_returnflag"))
        s.sql("ANALYZE TABLE q170cat.s.t COMPUTE STATISTICS FOR ALL COLUMNS")
        def planOf(q: org.apache.spark.sql.DataFrame) =
          q.queryExecution.executedPlan.toString
        val q1 = s.sql("""SELECT APPROX_COUNT_DISTINCT(l_suppkey) AS du_supp
          FROM q170cat.s.t WHERE l_returnflag <> 'A'""")
        val meta1 = planOf(q1).contains("LocalTableScan") &&
          !planOf(q1).contains("FileScan")
        // estimate regime under a range predicate: envelope, not value
        val q2 = s.sql("""SELECT APPROX_COUNT_DISTINCT(l_orderkey) AS du_ok
          FROM q170cat.s.t WHERE l_returnflag >= 'N'""")
        val meta2 = !planOf(q2).contains("FileScan")
        val exactOk = li.filter(col("l_returnflag") >= "N")
          .agg(countDistinct(col("l_orderkey"))).collect()(0).getLong(0)
        val est2 = q2.collect()(0).getLong(0)
        val estOk = math.abs(est2 - exactOk).toDouble / exactOk < 0.05
        // sketch-served and exact per-file arithmetic mix in ONE
        // statement, still one LocalTableScan
        val q3 = s.sql("""SELECT COUNT(*) AS n_r,
            APPROX_COUNT_DISTINCT(l_suppkey) AS du_r, MAX(l_orderkey) AS max_ok_r
          FROM q170cat.s.t WHERE l_returnflag = 'R'""")
        val meta3 = planOf(q3).contains("LocalTableScan") &&
          !planOf(q3).contains("FileScan")
        // an append folds the per-partition layer too: a NEW distinct
        // suppkey lands in partition 'N' without any rescan
        import s.implicits._
        client.getTxTable("q170cat", "s", "t").append(
          Seq((9999999L, -1L, "N")).toDF("l_orderkey", "l_suppkey", "l_returnflag"))
        val q4 = s.sql("""SELECT APPROX_COUNT_DISTINCT(l_suppkey) AS du_supp2
          FROM q170cat.s.t WHERE l_returnflag <> 'A'""")
        val meta4 = !planOf(q4).contains("FileScan")
        // a NON-partition conjunct is never absorbable — honest scan
        val q5 = s.sql("""SELECT APPROX_COUNT_DISTINCT(l_suppkey) AS du_np
          FROM q170cat.s.t WHERE l_orderkey > 0""")
        val nonPartScans = planOf(q5).contains("FileScan")
        q1.crossJoin(q3).crossJoin(q4)
          .withColumn("filtered_sketch_scan_free", lit(meta1))
          .withColumn("range_sketch_scan_free", lit(meta2))
          .withColumn("orderkey_est_ok", lit(estOk))
          .withColumn("mixed_scan_free", lit(meta3))
          .withColumn("append_folds_partitions", lit(meta4))
          .withColumn("non_partition_where_scans", lit(nonPartScans))
      },
      Some("""WITH src AS (
          SELECT CAST(l_orderkey AS BIGINT) AS ok, CAST(l_suppkey AS BIGINT) AS sk,
                 l_returnflag AS rf
          FROM lineitem
        )
        SELECT
          (SELECT COUNT(DISTINCT sk) FROM src WHERE rf <> 'A') AS du_supp,
          (SELECT COUNT(*) FROM src WHERE rf = 'R') AS n_r,
          (SELECT COUNT(DISTINCT sk) FROM src WHERE rf = 'R') AS du_r,
          (SELECT MAX(ok) FROM src WHERE rf = 'R') AS max_ok_r,
          (SELECT COUNT(DISTINCT sk) FROM src WHERE rf <> 'A') + 1 AS du_supp2,
          TRUE AS filtered_sketch_scan_free,
          TRUE AS range_sketch_scan_free,
          TRUE AS orderkey_est_ok,
          TRUE AS mixed_scan_free,
          TRUE AS append_folds_partitions,
          TRUE AS non_partition_where_scans""")),

    // ---- q171: the DELETE fold on MERGE-ON-READ deletion vectors ----
    // The modern Delta default is delta.enableDeletionVectors=true, so
    // the retention delete that q169 folds copy-on-write arrives as a
    // BITMAP commit here — no file is rewritten, and the fold rides the
    // same pinned commit (DeltaDvWriter commits exactly base+1, so the
    // restamped fingerprint can never mislabel a concurrent commit's
    // state). Same split verdict as q169, now with the deletion vector
    // pinned PRESENT in the output: SUM/MIN/MAX keep answering
    // scan-free after the provably-interior delete, the sentinel-
    // touching twin drops the tied pairs, and values are recomputed by
    // DuckDB over the post-delete rows.
    QueryDef(
      "q171_dv_delete_fold",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q171cat")
        client.createSchema("q171cat", "s")
        val root = java.nio.file.Files.createTempDirectory("q171-dvf").toString
        import s.implicits._
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey").cast(LongType).as("l_orderkey"),
          col("l_quantity").cast(LongType).as("l_quantity"),
          col("l_returnflag"))
        val lo = Seq((-5L, -7L, "0"))
          .toDF("l_orderkey", "l_quantity", "l_returnflag")
        val hi = Seq((9000000000L, 999L, "zz"))
          .toDF("l_orderkey", "l_quantity", "l_returnflag")
        graft.tables.DeltaLogWriter.create(s, s"$root/t",
          li.unionByName(lo).unionByName(hi),
          properties = Map("delta.enableDeletionVectors" -> "true"))
        client.registerAsTable("q171cat", "s", "t",
          graft.catalog.FileType.DELTA, s"$root/t")
        s.sql("ANALYZE TABLE q171cat.s.t COMPUTE STATISTICS FOR ALL COLUMNS")
        def planOf(q: org.apache.spark.sql.DataFrame) =
          q.queryExecution.executedPlan.toString
        s.sql("DELETE FROM q171cat.s.t WHERE l_quantity = 25")
        val t = client.getTxTable("q171cat", "s", "t")
        val dvPresent = t.snapshot.files
          .exists(_.deletionVector.exists(_.cardinality > 0))
        val q1 = s.sql("""SELECT SUM(l_quantity) AS sum_qty,
            MIN(l_returnflag) AS min_rf, MAX(l_orderkey) AS max_ok,
            COUNT(*) AS n_rows FROM q171cat.s.t""")
        val foldMeta = planOf(q1).contains("LocalTableScan") &&
          !planOf(q1).contains("FileScan")
        s.sql("DELETE FROM q171cat.s.t WHERE l_returnflag = '0'")
        val qMin = s.sql("SELECT MIN(l_returnflag) AS min_rf_2 FROM q171cat.s.t")
        val minScans = planOf(qMin).contains("FileScan")
        val qSum = s.sql("SELECT SUM(l_quantity) AS sum_qty_2 FROM q171cat.s.t")
        val sumStillFolds = !planOf(qSum).contains("FileScan")
        q1.crossJoin(qMin).crossJoin(qSum)
          .withColumn("merge_on_read", lit(dvPresent))
          .withColumn("dv_fold_scan_free", lit(foldMeta))
          .withColumn("extreme_touch_falls_back", lit(minScans))
          .withColumn("sum_survives_both_deletes", lit(sumStillFolds))
      },
      Some("""WITH src AS (
          SELECT CAST(l_orderkey AS BIGINT) AS ok,
                 CAST(l_quantity AS BIGINT) AS q, l_returnflag AS rf
          FROM lineitem
          UNION ALL SELECT -5, -7, '0'
          UNION ALL SELECT 9000000000, 999, 'zz'
        ), d1 AS (SELECT * FROM src WHERE q <> 25)
        SELECT
          (SELECT CAST(SUM(q) AS BIGINT) FROM d1) AS sum_qty,
          (SELECT MIN(rf) FROM d1) AS min_rf,
          (SELECT MAX(ok) FROM d1) AS max_ok,
          (SELECT COUNT(*) FROM d1) AS n_rows,
          (SELECT MIN(rf) FROM d1 WHERE rf <> '0') AS min_rf_2,
          (SELECT CAST(SUM(q) AS BIGINT) FROM d1 WHERE rf <> '0') AS sum_qty_2,
          TRUE AS merge_on_read,
          TRUE AS dv_fold_scan_free,
          TRUE AS extreme_touch_falls_back,
          TRUE AS sum_survives_both_deletes""")),

    // ---- q172: the retention DELETE keeps APPROX_COUNT_DISTINCT alive ----
    // A pure partition DROP (`DELETE WHERE day < X` — THE 100 TB
    // retention shape) removes whole partitions and nothing else, so the
    // surviving partitions' stamped sketches never saw a removed row:
    // the per-partition layer SURVIVES the delete (removed tuples drop,
    // survivors reindex) instead of dying until a full re-ANALYZE, and
    // the unfiltered APPROX_COUNT_DISTINCT falls back to merging ALL
    // surviving tuples' sketches now that the table-wide sketch is
    // honestly gone. Lifecycle pinned end-to-end: ANALYZE → partition
    // drop (unfiltered + filtered + partition-column APPROX all
    // scan-free, SUM folded by subtraction) → append (the layer still
    // folds) — while a NON-partition delete twin honestly unsets the
    // layer and scans. Values DuckDB-recomputed over the post-delete
    // rows (suppkey in the sketches' exact regime).
    QueryDef(
      "q172_retention_ndv_survival",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q172cat")
        client.createSchema("q172cat", "s")
        val root = java.nio.file.Files.createTempDirectory("q172-rn").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey").cast(LongType).as("l_orderkey"),
          col("l_suppkey").cast(LongType).as("l_suppkey"),
          col("l_quantity").cast(LongType).as("l_quantity"),
          col("l_returnflag"))
        client.createAsTable(li.repartition(4), "q172cat", "s", "t",
          graft.catalog.FileType.DELTA, s"$root/t",
          partitionColumns = Seq("l_returnflag"))
        client.createAsTable(li.repartition(4), "q172cat", "s", "t2",
          graft.catalog.FileType.DELTA, s"$root/t2",
          partitionColumns = Seq("l_returnflag"))
        s.sql("ANALYZE TABLE q172cat.s.t COMPUTE STATISTICS FOR ALL COLUMNS")
        s.sql("ANALYZE TABLE q172cat.s.t2 COMPUTE STATISTICS FOR ALL COLUMNS")
        def planOf(q: org.apache.spark.sql.DataFrame) =
          q.queryExecution.executedPlan.toString
        // the retention delete: whole partition 'A' drops, no rewrite
        s.sql("DELETE FROM q172cat.s.t WHERE l_returnflag = 'A'")
        val q1 = s.sql("""SELECT APPROX_COUNT_DISTINCT(l_suppkey) AS du_supp,
            SUM(l_quantity) AS sum_qty FROM q172cat.s.t""")
        val meta1 = planOf(q1).contains("LocalTableScan") &&
          !planOf(q1).contains("FileScan")
        val q2 = s.sql("""SELECT APPROX_COUNT_DISTINCT(l_suppkey) AS du_r
          FROM q172cat.s.t WHERE l_returnflag = 'R'""")
        val meta2 = !planOf(q2).contains("FileScan")
        // partition-column argument: exact from the surviving tuples
        val q3 = s.sql(
          "SELECT APPROX_COUNT_DISTINCT(l_returnflag) AS du_rf FROM q172cat.s.t")
        val meta3 = !planOf(q3).contains("FileScan")
        // the layer keeps FOLDING after the drop: a brand-new suppkey
        // appends into a surviving partition, no rescan
        import s.implicits._
        client.getTxTable("q172cat", "s", "t").append(
          Seq((9999999L, -1L, 7L, "N"))
            .toDF("l_orderkey", "l_suppkey", "l_quantity", "l_returnflag"))
        val q4 = s.sql(
          "SELECT APPROX_COUNT_DISTINCT(l_suppkey) AS du_supp2 FROM q172cat.s.t")
        val meta4 = !planOf(q4).contains("FileScan")
        // the twin's delete is NOT a partition drop: the layer honestly
        // unsets and APPROX scans (stale-never-wrong)
        s.sql("DELETE FROM q172cat.s.t2 WHERE l_quantity = 25")
        val q5 = s.sql(
          "SELECT APPROX_COUNT_DISTINCT(l_suppkey) AS du_np FROM q172cat.s.t2")
        val partialScans = planOf(q5).contains("FileScan")
        // the ICEBERG leg: the same retention drop is a pinned
        // metadata-only file removal (no position-delete file written),
        // and the layer survives identically
        client.createAsTable(li.repartition(4), "q172cat", "s", "t3",
          graft.catalog.FileType.ICEBERG, s"$root/t3",
          partitionColumns = Seq("l_returnflag"))
        s.sql("ANALYZE TABLE q172cat.s.t3 COMPUTE STATISTICS FOR ALL COLUMNS")
        s.sql("DELETE FROM q172cat.s.t3 WHERE l_returnflag = 'A'")
        val noDeleteFiles = !client.getTxTable("q172cat", "s", "t3")
          .snapshot.files.exists(_.deletionVector.isDefined)
        val q6 = s.sql(
          "SELECT APPROX_COUNT_DISTINCT(l_suppkey) AS du_ice FROM q172cat.s.t3")
        val meta6 = !planOf(q6).contains("FileScan")
        q1.crossJoin(q2).crossJoin(q3).crossJoin(q4).crossJoin(q6)
          .withColumn("drop_served_scan_free", lit(meta1))
          .withColumn("filtered_served_scan_free", lit(meta2))
          .withColumn("partition_col_scan_free", lit(meta3))
          .withColumn("append_after_drop_folds", lit(meta4))
          .withColumn("partial_delete_scans", lit(partialScans))
          .withColumn("iceberg_drop_metadata_only", lit(noDeleteFiles))
          .withColumn("iceberg_drop_scan_free", lit(meta6))
      },
      Some("""WITH src AS (
          SELECT CAST(l_orderkey AS BIGINT) AS ok, CAST(l_suppkey AS BIGINT) AS sk,
                 CAST(l_quantity AS BIGINT) AS q, l_returnflag AS rf
          FROM lineitem
        ), d1 AS (SELECT * FROM src WHERE rf <> 'A')
        SELECT
          (SELECT COUNT(DISTINCT sk) FROM d1) AS du_supp,
          (SELECT CAST(SUM(q) AS BIGINT) FROM d1) AS sum_qty,
          (SELECT COUNT(DISTINCT sk) FROM d1 WHERE rf = 'R') AS du_r,
          (SELECT COUNT(DISTINCT rf) FROM d1) AS du_rf,
          (SELECT COUNT(DISTINCT sk) FROM d1) + 1 AS du_supp2,
          (SELECT COUNT(DISTINCT sk) FROM d1) AS du_ice,
          TRUE AS drop_served_scan_free,
          TRUE AS filtered_served_scan_free,
          TRUE AS partition_col_scan_free,
          TRUE AS append_after_drop_folds,
          TRUE AS partial_delete_scans,
          TRUE AS iceberg_drop_metadata_only,
          TRUE AS iceberg_drop_scan_free""")),

    // ---- q173: the per-day distinct-users rollup, metadata-only ----
    // `SELECT day, COUNT(*), APPROX_COUNT_DISTINCT(user) GROUP BY day`
    // is the canonical 100 TB dashboard query. The grouped metadata
    // rewrite already served COUNT/MIN/MAX per partition from the file
    // list; APPROX_COUNT_DISTINCT now rides the same rewrite from the
    // stamped per-partition sketches (each group = its tuples' sketches
    // exact-merged), composing with the absorbed WHERE family — one
    // snapshot read, zero files opened. Exact-regime values recomputed
    // by DuckDB; appends fold; a non-partition group key honestly scans.
    QueryDef(
      "q173_grouped_approx_distinct",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q173cat")
        client.createSchema("q173cat", "s")
        val root = java.nio.file.Files.createTempDirectory("q173-ga").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey").cast(LongType).as("l_orderkey"),
          col("l_suppkey").cast(LongType).as("l_suppkey"),
          col("l_returnflag"))
        client.createAsTable(li.repartition(4), "q173cat", "s", "t",
          graft.catalog.FileType.DELTA, s"$root/t",
          partitionColumns = Seq("l_returnflag"))
        s.sql("ANALYZE TABLE q173cat.s.t COMPUTE STATISTICS FOR ALL COLUMNS")
        def planOf(q: org.apache.spark.sql.DataFrame) =
          q.queryExecution.executedPlan.toString
        // mixed exact + sketch-served outputs, one LocalTableScan
        val q1 = s.sql("""SELECT l_returnflag, COUNT(*) AS n_rows,
            APPROX_COUNT_DISTINCT(l_suppkey) AS du_supp,
            MAX(l_orderkey) AS max_ok
          FROM q173cat.s.t GROUP BY l_returnflag""")
        val meta1 = planOf(q1).contains("LocalTableScan") &&
          !planOf(q1).contains("FileScan")
        // absorbed WHERE composes with the grouping
        val q2 = s.sql("""SELECT l_returnflag,
            APPROX_COUNT_DISTINCT(l_suppkey) AS du_f
          FROM q173cat.s.t WHERE l_returnflag >= 'N' GROUP BY l_returnflag""")
        val meta2 = !planOf(q2).contains("FileScan")
        // an append folds into ONE group's sketch, the rollup stays
        // scan-free with the new value
        import s.implicits._
        client.getTxTable("q173cat", "s", "t").append(
          Seq((9999999L, -1L, "N")).toDF("l_orderkey", "l_suppkey", "l_returnflag"))
        val q3 = s.sql("""SELECT l_returnflag,
            APPROX_COUNT_DISTINCT(l_suppkey) AS du_2
          FROM q173cat.s.t GROUP BY l_returnflag""")
        val meta3 = !planOf(q3).contains("FileScan")
        // a NON-partition group key is never metadata-answerable
        val q4 = s.sql("""SELECT l_orderkey, APPROX_COUNT_DISTINCT(l_suppkey) AS d
          FROM q173cat.s.t GROUP BY l_orderkey""")
        val nonPartScans = planOf(q4).contains("FileScan")
        q1.join(q2, Seq("l_returnflag"), "left")
          .join(q3, Seq("l_returnflag"), "left")
          .withColumn("grouped_scan_free", lit(meta1))
          .withColumn("filtered_grouped_scan_free", lit(meta2))
          .withColumn("append_folds_group", lit(meta3))
          .withColumn("non_partition_group_scans", lit(nonPartScans))
      },
      Some("""WITH src AS (
          SELECT CAST(l_orderkey AS BIGINT) AS ok, CAST(l_suppkey AS BIGINT) AS sk,
                 l_returnflag AS rf
          FROM lineitem
        ), post AS (
          SELECT ok, sk, rf FROM src
          UNION ALL SELECT 9999999, -1, 'N'
        )
        SELECT rf AS l_returnflag,
          (SELECT COUNT(*) FROM src WHERE rf = g.rf) AS n_rows,
          (SELECT COUNT(DISTINCT sk) FROM src WHERE rf = g.rf) AS du_supp,
          (SELECT MAX(ok) FROM src WHERE rf = g.rf) AS max_ok,
          (SELECT CASE WHEN g.rf >= 'N'
            THEN (SELECT COUNT(DISTINCT sk) FROM src WHERE rf = g.rf) END) AS du_f,
          (SELECT COUNT(DISTINCT sk) FROM post WHERE rf = g.rf) AS du_2,
          TRUE AS grouped_scan_free,
          TRUE AS filtered_grouped_scan_free,
          TRUE AS append_folds_group,
          TRUE AS non_partition_group_scans
        FROM (SELECT DISTINCT rf FROM src) g""")),

    // ---- q174: insert-only MERGE folds the stats stamp like an append ----
    // The dedup-upsert steady state (MERGE ... WHEN NOT MATCHED INSERT
    // where everything lands NOT MATCHED) removes no target file — the
    // commit IS an append, so a fresh ANALYZE stamp folds the inserted
    // batch in (O(batch)) instead of dying until the next full scan.
    // Pinned: ANALYZE → disjoint-key MERGE → COUNT/APPROX/SUM/MIN/MAX
    // all scan-free with values DuckDB recomputes over the merged rows
    // → a MATCHED merge twin (values rewritten, never derivable)
    // honestly invalidates and scans.
    QueryDef(
      "q174_insert_only_merge_fold",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q174cat")
        client.createSchema("q174cat", "s")
        val root = java.nio.file.Files.createTempDirectory("q174-imf").toString
        val li = Tables.lineitem(s, dir)
          .filter(col("l_orderkey") % 2 === 0)
          .select(col("l_orderkey").cast(LongType).as("l_orderkey"),
            col("l_quantity").cast(LongType).as("l_quantity"),
            col("l_returnflag"))
        client.createAsTable(li, "q174cat", "s", "t",
          graft.catalog.FileType.DELTA, s"$root/t")
        s.sql("ANALYZE TABLE q174cat.s.t COMPUTE STATISTICS FOR ALL COLUMNS")
        val t = client.getTxTable("q174cat", "s", "t")
        // odd orderkeys: every source row lands NOT MATCHED
        val src = Tables.lineitem(s, dir)
          .filter(col("l_orderkey") % 2 === 1)
          .select(col("l_orderkey").cast(LongType).as("l_orderkey"),
            col("l_quantity").cast(LongType).as("l_quantity"),
            col("l_returnflag"))
        t.merge(src, "s.l_orderkey = t.l_orderkey")
          .whenMatchedUpdateAll()
          .whenNotMatchedInsertAll()
          .execute()
        def planOf(q: org.apache.spark.sql.DataFrame) =
          q.queryExecution.executedPlan.toString
        val q1 = s.sql("""SELECT COUNT(*) AS n_rows,
            APPROX_COUNT_DISTINCT(l_returnflag) AS du_rf,
            SUM(l_quantity) AS sum_qty,
            MIN(l_returnflag) AS min_rf, MAX(l_returnflag) AS max_rf
          FROM q174cat.s.t""")
        val foldMeta = planOf(q1).contains("LocalTableScan") &&
          !planOf(q1).contains("FileScan")
        // the twin: the smallest even orderkey's rows get MATCHED-updated
        // (deterministic; one source row may match many target rows) —
        // a file rewrites, the stamp honestly dies
        import s.implicits._
        val kSel = li.agg(min(col("l_orderkey"))).collect()(0).getLong(0)
        t.merge(Seq((kSel, 999L, "zz")).toDF("l_orderkey", "l_quantity", "l_returnflag"),
            "s.l_orderkey = t.l_orderkey")
          .whenMatchedUpdate(Map("l_quantity" -> "999"))
          .whenNotMatchedInsertAll()
          .execute()
        val q2 = s.sql("SELECT SUM(l_quantity) AS sum_after_match FROM q174cat.s.t")
        val matchScans = planOf(q2).contains("FileScan")
        q1.crossJoin(q2)
          .withColumn("insert_only_merge_folds", lit(foldMeta))
          .withColumn("matched_merge_scans", lit(matchScans))
      },
      Some("""WITH src AS (
          SELECT CAST(l_orderkey AS BIGINT) AS ok,
                 CAST(l_quantity AS BIGINT) AS q, l_returnflag AS rf
          FROM lineitem
        ), ksel AS (SELECT MIN(ok) AS k FROM src WHERE ok % 2 = 0)
        SELECT
          (SELECT COUNT(*) FROM src) AS n_rows,
          (SELECT COUNT(DISTINCT rf) FROM src) AS du_rf,
          (SELECT CAST(SUM(q) AS BIGINT) FROM src) AS sum_qty,
          (SELECT MIN(rf) FROM src) AS min_rf,
          (SELECT MAX(rf) FROM src) AS max_rf,
          (SELECT CAST(SUM(CASE WHEN ok = (SELECT k FROM ksel)
              THEN 999 ELSE q END) AS BIGINT) FROM src) AS sum_after_match,
          TRUE AS insert_only_merge_folds,
          TRUE AS matched_merge_scans""")),

    // ---- q175: per-partition SCALAR stats — grouped/filtered SUM and ----
    // string extremes scan-free, retention deletes fully metadata-only.
    // ANALYZE on a partitioned table stamps, besides the per-partition
    // sketches, bytes-tiny exact scalars per tuple (sum/cnt/min/max):
    // `SELECT day, SUM(bytes) GROUP BY day` and `SUM(x) WHERE day >= d`
    // (SUM has NO per-file footer stat — only this layer can serve it)
    // and grouped/filtered MIN/MAX of footer-refused types (strings)
    // all become one property read. And a pure partition-drop DELETE
    // re-derives the TABLE-WIDE stats by recombining survivors — zero
    // data read, exact extremes (no subtraction tie hazard), pinned
    // here with the dropped partition HOLDING the global max string.
    // Appends keep folding the scalar cells. Values DuckDB-recomputed.
    QueryDef(
      "q175_partition_scalar_stats",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q175cat")
        client.createSchema("q175cat", "s")
        val root = java.nio.file.Files.createTempDirectory("q175-ps").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey").cast(LongType).as("l_orderkey"),
          col("l_quantity").cast(LongType).as("l_quantity"),
          col("l_returnflag"),
          concat(lit("tag-"), lpad(col("l_orderkey").cast("string"), 12, "0"))
            .as("tag"))
        client.createAsTable(li.repartition(4), "q175cat", "s", "t",
          graft.catalog.FileType.DELTA, s"$root/t",
          partitionColumns = Seq("l_returnflag"))
        s.sql("ANALYZE TABLE q175cat.s.t COMPUTE STATISTICS FOR ALL COLUMNS")
        def planOf(q: org.apache.spark.sql.DataFrame) =
          q.queryExecution.executedPlan.toString
        val q1 = s.sql("""SELECT SUM(l_quantity) AS sum_f FROM q175cat.s.t
          WHERE l_returnflag >= 'N'""")
        val sumFilteredMeta = planOf(q1).contains("LocalTableScan") &&
          !planOf(q1).contains("FileScan")
        // grouped rollup: exact COUNT + layer SUM + string extremes
        val q2 = s.sql("""SELECT l_returnflag, COUNT(*) AS n_rows,
            SUM(l_quantity) AS sum_qty, MIN(tag) AS min_tag, MAX(tag) AS max_tag
          FROM q175cat.s.t GROUP BY l_returnflag""")
        val groupedMeta = planOf(q2).contains("LocalTableScan") &&
          !planOf(q2).contains("FileScan")
        // the retention drop removes whole partition 'A' (table-wide
        // stats re-derive from the survivors, zero data read); then an
        // append plants a NEW global-max tag in 'N' — the fold must
        // carry it into the derived stamp
        s.sql("DELETE FROM q175cat.s.t WHERE l_returnflag = 'A'")
        import s.implicits._
        client.getTxTable("q175cat", "s", "t").append(
          Seq((9999999999L, 7L, "N", "tag-zzzzzzzzzzzz"))
            .toDF("l_orderkey", "l_quantity", "l_returnflag", "tag"))
        val q3 = s.sql(
          "SELECT MAX(tag) AS max_tag2, SUM(l_quantity) AS sum_qty2 FROM q175cat.s.t")
        val postDropMeta = planOf(q3).contains("LocalTableScan") &&
          !planOf(q3).contains("FileScan")
        val q4 = s.sql("""SELECT l_returnflag, SUM(l_quantity) AS sum_2
          FROM q175cat.s.t WHERE l_returnflag IS NOT NULL GROUP BY l_returnflag""")
        val postDropGroupedMeta = !planOf(q4).contains("FileScan")
        q2.join(q4, Seq("l_returnflag"), "left").crossJoin(q1).crossJoin(q3)
          .withColumn("sum_filtered_scan_free", lit(sumFilteredMeta))
          .withColumn("grouped_scan_free", lit(groupedMeta))
          .withColumn("post_drop_scan_free", lit(postDropMeta))
          .withColumn("post_drop_grouped_scan_free", lit(postDropGroupedMeta))
      },
      Some("""WITH src AS (
          SELECT CAST(l_orderkey AS BIGINT) AS ok, CAST(l_quantity AS BIGINT) AS q,
                 l_returnflag AS rf,
                 'tag-' || lpad(CAST(l_orderkey AS VARCHAR), 12, '0') AS tag
          FROM lineitem
        ), post AS (
          SELECT ok, q, rf, tag FROM src WHERE rf <> 'A'
          UNION ALL SELECT 9999999999, 7, 'N', 'tag-zzzzzzzzzzzz'
        )
        SELECT rf AS l_returnflag,
          (SELECT COUNT(*) FROM src WHERE rf = g.rf) AS n_rows,
          (SELECT CAST(SUM(q) AS BIGINT) FROM src WHERE rf = g.rf) AS sum_qty,
          (SELECT MIN(tag) FROM src WHERE rf = g.rf) AS min_tag,
          (SELECT MAX(tag) FROM src WHERE rf = g.rf) AS max_tag,
          (SELECT CAST(SUM(q) AS BIGINT) FROM post WHERE rf = g.rf) AS sum_2,
          (SELECT CAST(SUM(q) AS BIGINT) FROM src WHERE rf >= 'N') AS sum_f,
          (SELECT MAX(tag) FROM post) AS max_tag2,
          (SELECT CAST(SUM(q) AS BIGINT) FROM post) AS sum_qty2,
          TRUE AS sum_filtered_scan_free,
          TRUE AS grouped_scan_free,
          TRUE AS post_drop_scan_free,
          TRUE AS post_drop_grouped_scan_free
        FROM (SELECT DISTINCT rf FROM src) g""")),

    // ---- q176: the stats family closes over the FULL aggregate ----
    // surface — AVG and VAR/STDDEV serve scan-free from stamped moments.
    // ANALYZE stamps (n, Σx, Σx²) per integral column (plus per-
    // partition cells); AVG = exact-sum ÷ count and the four central-
    // moment forms = (n·Σx² − (Σx)²) over exact integers, divided and
    // rounded ONCE — bit-identical to DuckDB recomputing the same
    // moment formulas over the same rows (both sides: exact integer
    // moments → one double division), and at least as accurate as any
    // scan's streaming accumulation. Appends FOLD the batch moments in
    // (O(batch)); a provable DELETE subtracts them; filtered and
    // grouped forms absorb the partition-WHERE family through the
    // per-partition cells. The plan-shape booleans pin every serve
    // scan-free and the post-delete serve still scan-free.
    QueryDef(
      "q176_moment_stats",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q176cat")
        client.createSchema("q176cat", "s")
        val root = java.nio.file.Files.createTempDirectory("q176-mom").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey").cast(LongType).as("l_orderkey"),
          col("l_quantity").cast(LongType).as("l_quantity"),
          col("l_returnflag"))
        client.createAsTable(li.repartition(4), "q176cat", "s", "t",
          graft.catalog.FileType.DELTA, s"$root/t",
          partitionColumns = Seq("l_returnflag"))
        s.sql("ANALYZE TABLE q176cat.s.t COMPUTE STATISTICS FOR ALL COLUMNS")
        def planOf(q: org.apache.spark.sql.DataFrame) =
          q.queryExecution.executedPlan.toString
        def scanFree(q: org.apache.spark.sql.DataFrame) =
          planOf(q).contains("LocalTableScan") && !planOf(q).contains("FileScan")
        val q1 = s.sql("""SELECT AVG(l_quantity) AS a_qty,
            VAR_POP(l_quantity) AS vp, VAR_SAMP(l_quantity) AS vs,
            STDDEV_POP(l_quantity) AS sp, STDDEV_SAMP(l_quantity) AS ss
          FROM q176cat.s.t""")
        val b1 = scanFree(q1)
        val q2 = s.sql("""SELECT AVG(l_quantity) AS a_f FROM q176cat.s.t
          WHERE l_returnflag >= 'N'""")
        val b2 = scanFree(q2)
        val q3 = s.sql("""SELECT l_returnflag, AVG(l_quantity) AS a_g,
            STDDEV_POP(l_quantity) AS s_g
          FROM q176cat.s.t GROUP BY l_returnflag""")
        val b3 = scanFree(q3)
        // the append folds (n, Σx, Σx²) forward; still scan-free, with
        // DuckDB recomputing over the GROWN rows
        import s.implicits._
        client.getTxTable("q176cat", "s", "t").append(
          Seq((9999999999L, 7L, "N")).toDF("l_orderkey", "l_quantity", "l_returnflag"))
        val q4 = s.sql("""SELECT AVG(l_quantity) AS a_post,
            VAR_POP(l_quantity) AS vp_post FROM q176cat.s.t""")
        val b4 = scanFree(q4)
        // a provable delete SUBTRACTS the removed rows' moments — the
        // append-mostly + retention-delete lifecycle never re-scans
        s.sql("DELETE FROM q176cat.s.t WHERE l_quantity = 1")
        val q5 = s.sql("""SELECT AVG(l_quantity) AS a_del,
            VAR_SAMP(l_quantity) AS vs_del FROM q176cat.s.t""")
        val b5 = scanFree(q5)
        q3.crossJoin(q1).crossJoin(q2).crossJoin(q4).crossJoin(q5)
          .withColumn("tablewide_scan_free", lit(b1))
          .withColumn("filtered_scan_free", lit(b2))
          .withColumn("grouped_scan_free", lit(b3))
          .withColumn("post_append_scan_free", lit(b4))
          .withColumn("post_delete_scan_free", lit(b5))
      },
      Some("""WITH src AS (
          SELECT CAST(l_quantity AS BIGINT) AS q, l_returnflag AS rf FROM lineitem
        ), grown AS (
          SELECT q, rf FROM src UNION ALL SELECT 7, 'N'
        ), del AS (
          SELECT q, rf FROM grown WHERE q <> 1
        ), m AS (
          SELECT COUNT(q) AS n, SUM(q) AS s, SUM(CAST(q AS HUGEINT) * q) AS qq
          FROM src
        ), mg AS (
          SELECT COUNT(q) AS n, SUM(q) AS s, SUM(CAST(q AS HUGEINT) * q) AS qq
          FROM grown
        ), md AS (
          SELECT COUNT(q) AS n, SUM(q) AS s, SUM(CAST(q AS HUGEINT) * q) AS qq
          FROM del
        ), mf AS (
          SELECT COUNT(q) AS n, SUM(q) AS s FROM src WHERE rf >= 'N'
        )
        SELECT g.rf AS l_returnflag,
          CAST(g.s AS DOUBLE) / g.n AS a_g,
          SQRT(CAST(g.n * g.qq - CAST(g.s AS HUGEINT) * g.s AS DOUBLE)
            / CAST(CAST(g.n AS HUGEINT) * g.n AS DOUBLE)) AS s_g,
          CAST(m.s AS DOUBLE) / m.n AS a_qty,
          CAST(m.n * m.qq - CAST(m.s AS HUGEINT) * m.s AS DOUBLE)
            / CAST(CAST(m.n AS HUGEINT) * m.n AS DOUBLE) AS vp,
          CAST(m.n * m.qq - CAST(m.s AS HUGEINT) * m.s AS DOUBLE)
            / CAST(CAST(m.n AS HUGEINT) * (m.n - 1) AS DOUBLE) AS vs,
          SQRT(CAST(m.n * m.qq - CAST(m.s AS HUGEINT) * m.s AS DOUBLE)
            / CAST(CAST(m.n AS HUGEINT) * m.n AS DOUBLE)) AS sp,
          SQRT(CAST(m.n * m.qq - CAST(m.s AS HUGEINT) * m.s AS DOUBLE)
            / CAST(CAST(m.n AS HUGEINT) * (m.n - 1) AS DOUBLE)) AS ss,
          CAST(mf.s AS DOUBLE) / mf.n AS a_f,
          CAST(mg.s AS DOUBLE) / mg.n AS a_post,
          CAST(mg.n * mg.qq - CAST(mg.s AS HUGEINT) * mg.s AS DOUBLE)
            / CAST(CAST(mg.n AS HUGEINT) * mg.n AS DOUBLE) AS vp_post,
          CAST(md.s AS DOUBLE) / md.n AS a_del,
          CAST(md.n * md.qq - CAST(md.s AS HUGEINT) * md.s AS DOUBLE)
            / CAST(CAST(md.n AS HUGEINT) * (md.n - 1) AS DOUBLE) AS vs_del,
          TRUE AS tablewide_scan_free,
          TRUE AS filtered_scan_free,
          TRUE AS grouped_scan_free,
          TRUE AS post_append_scan_free,
          TRUE AS post_delete_scan_free
        FROM (
          SELECT rf, COUNT(q) AS n, SUM(q) AS s,
            SUM(CAST(q AS HUGEINT) * q) AS qq
          FROM src GROUP BY rf
        ) g, m, mg, md, mf""")),

    // ---- q177: stamped QUANTILE sketches — APPROX_PERCENTILE scan-free ----
    // ANALYZE stamps a per-numeric-column quantile sketch (Spark's own
    // deterministic Greenwald-Khanna summary at ε=1%, ~40 KB at 10¹²
    // rows); an `APPROX_PERCENTILE(col, p, accuracy)` call whose rank
    // tolerance 1/accuracy is no TIGHTER than the stamp's ε answers
    // from the digest — zero files opened — while a default-accuracy
    // call (1/10000) honestly keeps the scan (the stamp cannot promise
    // that precision; the gate reads the digest's own recorded ε).
    // Appends FOLD by sketch merge — the identical compress+merge step
    // Spark's own partial-aggregate tree runs, so the folded stamp
    // carries the same guarantee as a fresh scan's digest. Deletes
    // cannot be un-seen and unset. Served values are estimator-valued,
    // so they ride as rank-envelope booleans (served p must land
    // between the EXACT percentiles at p∓3σ margins, computed by
    // Spark's exact `percentile` over the same grown data) with
    // DuckDB-recomputable COUNT/SUM anchors pinning the data itself.
    QueryDef(
      "q177_quantile_stats",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q177cat")
        client.createSchema("q177cat", "s")
        val root = java.nio.file.Files.createTempDirectory("q177-qs").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey").cast(LongType).as("l_orderkey"),
          col("l_quantity").cast(LongType).as("l_quantity"),
          col("l_extendedprice").cast(DoubleType).as("l_extendedprice"))
        client.createAsTable(li.filter(col("l_orderkey") % 3 =!= 0),
          "q177cat", "s", "t", graft.catalog.FileType.DELTA, s"$root/t")
        s.sql("ANALYZE TABLE q177cat.s.t COMPUTE STATISTICS FOR ALL COLUMNS")
        val t = client.getTxTable("q177cat", "s", "t")
        t.append(li.filter(col("l_orderkey") % 3 === 0)) // fold: sketch MERGE
        def planOf(q: org.apache.spark.sql.DataFrame) =
          q.queryExecution.executedPlan.toString
        val q1 = s.sql("""SELECT APPROX_PERCENTILE(l_quantity, 0.5, 100) AS p50q,
            APPROX_PERCENTILE(l_extendedprice, array(0.25, 0.75), 100) AS pp
          FROM q177cat.s.t""")
        val servedMeta = planOf(q1).contains("LocalTableScan") &&
          !planOf(q1).contains("FileScan")
        val r = q1.collect()(0)
        val p50q = r.getLong(0).toDouble
        val pp = r.getSeq[Double](1)
        // exact rank envelopes over the SAME grown data (margins at
        // ~3-5x the stamp's 1% rank guarantee)
        val ex = li.agg(
          expr("percentile(l_quantity, array(0.45, 0.55))").as("eq"),
          expr("percentile(l_extendedprice, array(0.21, 0.29, 0.71, 0.79))").as("ep"))
          .collect()(0)
        val eq = ex.getSeq[Double](0); val ep = ex.getSeq[Double](1)
        val p50Ok = p50q >= eq(0) && p50q <= eq(1)
        val p25Ok = pp(0) >= ep(0) && pp(0) <= ep(1)
        val p75Ok = pp(1) >= ep(2) && pp(1) <= ep(3)
        // default accuracy asks for 0.01% rank error — the 1% stamp
        // honestly refuses and the scan answers
        val qd = s.sql(
          "SELECT APPROX_PERCENTILE(l_quantity, 0.5) AS p FROM q177cat.s.t")
        val defaultScans = planOf(qd).contains("FileScan")
        // a delete cannot be un-seen: sketch unsets, scan answers
        s.sql("DELETE FROM q177cat.s.t WHERE l_quantity = 1")
        val qdel = s.sql(
          "SELECT APPROX_PERCENTILE(l_quantity, 0.5, 100) AS p FROM q177cat.s.t")
        val deleteScans = planOf(qdel).contains("FileScan")
        val anchors = s.sql(
          "SELECT COUNT(*) AS n_rows, SUM(l_quantity) AS sum_qty FROM q177cat.s.t")
        anchors
          .withColumn("served_scan_free", lit(servedMeta))
          .withColumn("p50_in_envelope", lit(p50Ok))
          .withColumn("p25_in_envelope", lit(p25Ok))
          .withColumn("p75_in_envelope", lit(p75Ok))
          .withColumn("default_accuracy_scans", lit(defaultScans))
          .withColumn("delete_falls_back", lit(deleteScans))
      },
      Some("""SELECT
          (SELECT COUNT(*) FROM lineitem
            WHERE CAST(l_quantity AS BIGINT) <> 1) AS n_rows,
          (SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) FROM lineitem
            WHERE CAST(l_quantity AS BIGINT) <> 1) AS sum_qty,
          TRUE AS served_scan_free,
          TRUE AS p50_in_envelope,
          TRUE AS p25_in_envelope,
          TRUE AS p75_in_envelope,
          TRUE AS default_accuracy_scans,
          TRUE AS delete_falls_back""")),

    // ---- q178: COUNT(DISTINCT partition_col) from the file list ----
    // "How many days does this table span" is a snapshot-metadata fact:
    // partition values ride every AddFile exactly, so COUNT(DISTINCT p)
    // on a partition column answers from the log — DV-aware (a value
    // whose every row is deleted stops counting), composing with the
    // absorbed WHERE family, no ANALYZE stamp needed. A non-partition
    // argument honestly keeps the scan. All values DuckDB-recomputed.
    QueryDef(
      "q178_count_distinct_partition",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q178cat")
        client.createSchema("q178cat", "s")
        val root = java.nio.file.Files.createTempDirectory("q178-cd").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey").cast(LongType).as("l_orderkey"),
          col("l_quantity").cast(LongType).as("l_quantity"),
          col("l_returnflag"), col("l_linestatus"))
        client.createAsTable(li.repartition(4), "q178cat", "s", "t",
          graft.catalog.FileType.DELTA, s"$root/t",
          partitionColumns = Seq("l_returnflag", "l_linestatus"))
        def planOf(q: org.apache.spark.sql.DataFrame) =
          q.queryExecution.executedPlan.toString
        val q1 = s.sql("""SELECT COUNT(DISTINCT l_returnflag) AS d_rf,
            COUNT(DISTINCT l_linestatus) AS d_ls, COUNT(*) AS n
          FROM q178cat.s.t""")
        val b1 = planOf(q1).contains("LocalTableScan") &&
          !planOf(q1).contains("FileScan")
        val q2 = s.sql("""SELECT COUNT(DISTINCT l_linestatus) AS d_ls_f
          FROM q178cat.s.t WHERE l_returnflag >= 'N'""")
        val b2 = !planOf(q2).contains("FileScan")
        // drop every row of one partition value: it must stop counting
        s.sql("DELETE FROM q178cat.s.t WHERE l_returnflag = 'A'")
        val q3 = s.sql(
          "SELECT COUNT(DISTINCT l_returnflag) AS d_rf_2 FROM q178cat.s.t")
        val b3 = !planOf(q3).contains("FileScan")
        // non-partition argument: honest scan, exact value
        val q4 = s.sql(
          "SELECT COUNT(DISTINCT l_quantity) AS d_qty FROM q178cat.s.t")
        val b4 = planOf(q4).contains("FileScan")
        q1.crossJoin(q2).crossJoin(q3).crossJoin(q4)
          .withColumn("tablewide_scan_free", lit(b1))
          .withColumn("filtered_scan_free", lit(b2))
          .withColumn("post_drop_scan_free", lit(b3))
          .withColumn("non_partition_scans", lit(b4))
      },
      Some("""SELECT
          (SELECT COUNT(DISTINCT l_returnflag) FROM lineitem) AS d_rf,
          (SELECT COUNT(DISTINCT l_linestatus) FROM lineitem) AS d_ls,
          (SELECT COUNT(*) FROM lineitem) AS n,
          (SELECT COUNT(DISTINCT l_linestatus) FROM lineitem
            WHERE l_returnflag >= 'N') AS d_ls_f,
          (SELECT COUNT(DISTINCT l_returnflag) FROM lineitem
            WHERE l_returnflag <> 'A') AS d_rf_2,
          (SELECT COUNT(DISTINCT CAST(l_quantity AS BIGINT)) FROM lineitem
            WHERE l_returnflag <> 'A') AS d_qty,
          TRUE AS tablewide_scan_free,
          TRUE AS filtered_scan_free,
          TRUE AS post_drop_scan_free,
          TRUE AS non_partition_scans""")),

    // ---- q179: PER-PARTITION quantile digests — filtered and grouped ----
    // APPROX_PERCENTILE under the absorbed WHERE family, and the
    // retention drop RESURRECTING the table-wide digest. ANALYZE on a
    // partitioned table stamps one quantile digest per (column, tuple)
    // at the layer's coarser ε=2% (budgeted cells); the surviving
    // tuples' digests merge — quantile summaries over DISJOINT row
    // sets merge with the same guarantee as the append fold — so
    // "p95 latency WHERE day >= d" and the per-day percentile rollup
    // are one property read. A pure partition-drop DELETE re-derives
    // the TABLE-WIDE digest by merging survivors (served under the
    // digest's own recorded ε, so the coarser rebuild never
    // over-promises: accuracy-50 serves, accuracy-100 honestly scans).
    // Served values ride as rank-envelope booleans against Spark's
    // exact percentile; COUNT/SUM anchors are DuckDB-recomputed.
    QueryDef(
      "q179_partition_quantile_stats",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q179cat")
        client.createSchema("q179cat", "s")
        val root = java.nio.file.Files.createTempDirectory("q179-pq").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_quantity").cast(LongType).as("l_quantity"),
          col("l_extendedprice").cast(DoubleType).as("l_extendedprice"),
          col("l_returnflag"))
        client.createAsTable(li.repartition(4), "q179cat", "s", "t",
          graft.catalog.FileType.DELTA, s"$root/t",
          partitionColumns = Seq("l_returnflag"))
        s.sql("ANALYZE TABLE q179cat.s.t COMPUTE STATISTICS FOR ALL COLUMNS")
        def planOf(q: org.apache.spark.sql.DataFrame) =
          q.queryExecution.executedPlan.toString
        val q1 = s.sql("""SELECT APPROX_PERCENTILE(l_extendedprice, 0.95, 50) AS p95
          FROM q179cat.s.t WHERE l_returnflag >= 'N'""")
        val filteredMeta = planOf(q1).contains("LocalTableScan") &&
          !planOf(q1).contains("FileScan")
        val served95 = q1.collect()(0).getDouble(0)
        val env1 = li.filter(col("l_returnflag") >= "N").agg(
          expr("percentile(l_extendedprice, array(0.89, 1.0))").as("e"))
          .collect()(0).getSeq[Double](0)
        val p95Ok = served95 >= env1(0) && served95 <= env1(1)
        val q2 = s.sql("""SELECT l_returnflag, APPROX_PERCENTILE(l_quantity, 0.5, 50)
            AS p50 FROM q179cat.s.t GROUP BY l_returnflag""")
        val groupedMeta = planOf(q2).contains("LocalTableScan") &&
          !planOf(q2).contains("FileScan")
        val g50 = q2.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val gEnv = li.groupBy(col("l_returnflag")).agg(
          expr("percentile(l_quantity, array(0.44, 0.56))").as("e"))
          .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
        val g50Ok = g50.forall { case (rf, v) =>
          v >= gEnv(rf)(0) - 1 && v <= gEnv(rf)(1) + 1 }
        // the retention drop resurrects the TABLE-WIDE digest from the
        // survivors — still scan-free at the layer's ε (accuracy 50),
        // honestly scanning at the table-wide stamp's old ε (accuracy 100)
        s.sql("DELETE FROM q179cat.s.t WHERE l_returnflag = 'A'")
        val q3 = s.sql("""SELECT APPROX_PERCENTILE(l_quantity, 0.5, 50) AS p50_post
          FROM q179cat.s.t""")
        val postDropMeta = !planOf(q3).contains("FileScan")
        val served50 = q3.collect()(0).getLong(0)
        val env3 = li.filter(col("l_returnflag") =!= "A").agg(
          expr("percentile(l_quantity, array(0.44, 0.56))").as("e"))
          .collect()(0).getSeq[Double](0)
        val postOk = served50 >= env3(0) - 1 && served50 <= env3(1) + 1
        val q4 = s.sql("""SELECT APPROX_PERCENTILE(l_quantity, 0.5, 100) AS p
          FROM q179cat.s.t""")
        val coarseGates = planOf(q4).contains("FileScan")
        val anchors = s.sql("""SELECT COUNT(*) AS n_rows,
          SUM(l_quantity) AS sum_qty FROM q179cat.s.t""")
        anchors
          .withColumn("filtered_scan_free", lit(filteredMeta))
          .withColumn("p95_in_envelope", lit(p95Ok))
          .withColumn("grouped_scan_free", lit(groupedMeta))
          .withColumn("grouped_p50_in_envelope", lit(g50Ok))
          .withColumn("post_drop_scan_free", lit(postDropMeta))
          .withColumn("post_drop_in_envelope", lit(postOk))
          .withColumn("coarse_eps_gates_accuracy_100", lit(coarseGates))
      },
      Some("""SELECT
          (SELECT COUNT(*) FROM lineitem WHERE l_returnflag <> 'A') AS n_rows,
          (SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) FROM lineitem
            WHERE l_returnflag <> 'A') AS sum_qty,
          TRUE AS filtered_scan_free,
          TRUE AS p95_in_envelope,
          TRUE AS grouped_scan_free,
          TRUE AS grouped_p50_in_envelope,
          TRUE AS post_drop_scan_free,
          TRUE AS post_drop_in_envelope,
          TRUE AS coarse_eps_gates_accuracy_100""")),

    // ---- q180: incrementally-maintained per-group VARIANCE in MVs ----
    // The MV layer's second-moment state (cnt_<c>, sq_<c>, declared as
    // VAR_POP in the SQL CREATE) is RETRACTABLE — the signed CDF fold
    // subtracts both cells exactly — so per-group AVG/VAR_POP/STDDEV
    // stay fully incremental under source DELETEs too (where min/max/
    // uniq views must fall back to a full re-sync). The refresh-mode
    // assertions are inline (a delete refresh that re-syncs instead of
    // folding throws → err); every derived double is DuckDB-recomputed
    // over the post-delete rows with the identical exact-integer-
    // moments formula — bit-for-bit, as in q176.
    QueryDef(
      "q180_mv_incremental_variance",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q180cat")
        client.createSchema("q180cat", "s")
        val root = java.nio.file.Files.createTempDirectory("q180-mvv").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_returnflag"),
          col("l_quantity").cast(LongType).as("l_quantity"),
          col("l_linenumber"))
        // Iceberg source: the snapshot-diff changelog IS the row feed
        client.createAsTable(li.filter(col("l_linenumber") <= 3)
            .drop("l_linenumber"),
          "q180cat", "s", "src", graft.catalog.FileType.ICEBERG, s"$root/src")
        s.sql(s"""CREATE MATERIALIZED VIEW q180cat.s.mv LOCATION '$root/mv' AS
          SELECT l_returnflag, COUNT(*), SUM(l_quantity), VAR_POP(l_quantity)
          FROM q180cat.s.src GROUP BY l_returnflag""")
        val src = client.getTxTable("q180cat", "s", "src")
        def refresh(expect: String): Unit = {
          val mode = s.sql("REFRESH MATERIALIZED VIEW q180cat.s.mv")
            .collect()(0).getString(0)
          require(mode == expect, s"expected $expect refresh, got $mode")
        }
        src.append(li.filter(col("l_linenumber") > 3).drop("l_linenumber"))
        refresh("incremental")
        s.sql("DELETE FROM q180cat.s.src WHERE l_quantity = 5")
        refresh("cdf") // retractable moments: the delete FOLDS
        val view = graft.tables.IncrementalView.withVariances(
          client.getTxTable("q180cat", "s", "mv").toDF, Seq("l_quantity"))
        view.select(col("l_returnflag"), col("n_rows"),
            col("sum_l_quantity"), col("cnt_l_quantity"),
            col("avg_l_quantity"), col("var_pop_l_quantity"),
            col("stddev_l_quantity"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n_rows,
          CAST(SUM(q) AS BIGINT) AS sum_l_quantity, COUNT(q) AS cnt_l_quantity,
          CAST(SUM(q) AS DOUBLE) / CAST(COUNT(q) AS DOUBLE) AS avg_l_quantity,
          CAST(COUNT(q) * SUM(CAST(q AS HUGEINT) * q) -
              CAST(SUM(q) AS HUGEINT) * SUM(q) AS DOUBLE)
            / (CAST(COUNT(q) AS DOUBLE) * CAST(COUNT(q) AS DOUBLE))
            AS var_pop_l_quantity,
          SQRT(CAST(COUNT(q) * SUM(CAST(q AS HUGEINT) * q) -
              CAST(SUM(q) AS HUGEINT) * SUM(q) AS DOUBLE)
            / (CAST(COUNT(q) AS DOUBLE) * CAST(COUNT(q) AS DOUBLE)))
            AS stddev_l_quantity
        FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q
          FROM lineitem WHERE CAST(l_quantity AS BIGINT) <> 5)
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- q181: UPDATE folds — only the assigned column's stats die ----
    // A copy-on-write UPDATE is row-preserving (no row appears or
    // disappears), so every UNASSIGNED column's value multiset is
    // invariant: its stamped stats survive the rewrite VERBATIM and
    // SUM/AVG/NDV keep answering scan-free, while the assigned
    // column's stats honestly unset (a value delta is never derivable
    // from metadata). Before round 14, ONE `UPDATE SET comment =
    // 'redacted'` killed every other column's stamp until a full
    // re-ANALYZE scan — on the 100 TB compliance-redaction shape that
    // is the difference between a property read and a nightly re-scan.
    // A partitioned twin assigns the PARTITION column itself (rows may
    // move between partitions): the fold provably bails and the scan
    // answers — stale-never-wrong. Values DuckDB-recomputed over the
    // post-update rows.
    QueryDef(
      "q181_update_fold_stats",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q181cat")
        client.createSchema("q181cat", "s")
        val root = java.nio.file.Files.createTempDirectory("q181-uf").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey").cast(LongType).as("l_orderkey"),
          col("l_quantity").cast(LongType).as("l_quantity"),
          col("l_returnflag"), col("l_linestatus"))
        client.createAsTable(li, "q181cat", "s", "t",
          graft.catalog.FileType.DELTA, s"$root/t")
        s.sql("ANALYZE TABLE q181cat.s.t COMPUTE STATISTICS FOR ALL COLUMNS")
        def planOf(q: org.apache.spark.sql.DataFrame) =
          q.queryExecution.executedPlan.toString
        s.sql("UPDATE q181cat.s.t SET l_linestatus = 'redacted' WHERE l_quantity = 30")
        val q1 = s.sql("""SELECT SUM(l_orderkey) AS sum_ok,
            AVG(l_quantity) AS avg_qty, COUNT(l_linestatus) AS cnt_ls,
            COUNT(*) AS n_rows FROM q181cat.s.t""")
        val survivorsMeta = planOf(q1).contains("LocalTableScan") &&
          !planOf(q1).contains("FileScan")
        // the assigned column's extremes honestly scan (post-update)
        val q2 = s.sql("SELECT MIN(l_linestatus) AS min_ls FROM q181cat.s.t")
        val assignedScans = planOf(q2).contains("FileScan")
        // partitioned twin: assigning the partition column moves rows —
        // the fold bails, the stamp goes stale, the scan stays correct
        client.createAsTable(li.repartition(2), "q181cat", "s", "pt",
          graft.catalog.FileType.DELTA, s"$root/pt",
          partitionColumns = Seq("l_returnflag"))
        s.sql("ANALYZE TABLE q181cat.s.pt COMPUTE STATISTICS FOR ALL COLUMNS")
        s.sql("UPDATE q181cat.s.pt SET l_returnflag = 'X' WHERE l_quantity = 49")
        val q3 = s.sql("SELECT SUM(l_quantity) AS sum_qty_pt FROM q181cat.s.pt")
        val partitionAssignScans = planOf(q3).contains("FileScan")
        q1.crossJoin(q2).crossJoin(q3)
          .withColumn("survivors_scan_free", lit(survivorsMeta))
          .withColumn("assigned_falls_back", lit(assignedScans))
          .withColumn("partition_assign_falls_back", lit(partitionAssignScans))
      },
      Some("""SELECT
          (SELECT CAST(SUM(CAST(l_orderkey AS BIGINT)) AS BIGINT)
            FROM lineitem) AS sum_ok,
          (SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
            / COUNT(l_quantity) FROM lineitem) AS avg_qty,
          (SELECT COUNT(l_linestatus) FROM lineitem) AS cnt_ls,
          (SELECT COUNT(*) FROM lineitem) AS n_rows,
          (SELECT MIN(CASE WHEN CAST(l_quantity AS BIGINT) = 30
            THEN 'redacted' ELSE l_linestatus END) FROM lineitem) AS min_ls,
          (SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
            FROM lineitem) AS sum_qty_pt,
          TRUE AS survivors_scan_free,
          TRUE AS assigned_falls_back,
          TRUE AS partition_assign_falls_back""")),

    // ---- q182: the per-partition layer past 64 tuples — SIDECAR ----
    // A 200-partition table (a day-partitioned 100 TB table has 365+)
    // used to lose the whole per-partition layer: table properties ride
    // every commit, so the inline cells were capped at 64 tuples, and
    // exactly the tables that motivated the filtered serves got none.
    // ANALYZE now writes the per-tuple cells to ONE sidecar JSON file
    // under _graft_stats/ keyed by the stamp's fingerprint; properties
    // keep only the pointer. Filtered exact SUM, filtered
    // APPROX_COUNT_DISTINCT, filtered APPROX_PERCENTILE and the grouped
    // rollup all serve scan-free from the sidecar cells, and the
    // retention drop (50 whole partitions) stays METADATA-ONLY — the
    // table-wide stats recombine from the surviving sidecar cells with
    // zero data read. Exact values are DuckDB-recomputed; estimator
    // serves ride as error-envelope booleans the oracle asserts TRUE.
    QueryDef(
      "q182_sidecar_partition_stats",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q182cat")
        client.createSchema("q182cat", "s")
        val root = java.nio.file.Files.createTempDirectory("q182-side").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey").cast(LongType).as("l_orderkey"),
          col("l_quantity").cast(LongType).as("l_quantity"),
          (col("l_orderkey").cast(LongType) % 200L).as("bucket"))
        client.createAsTable(li.repartition(4), "q182cat", "s", "t",
          graft.catalog.FileType.DELTA, s"$root/t",
          partitionColumns = Seq("bucket"))
        s.sql("ANALYZE TABLE q182cat.s.t COMPUTE STATISTICS FOR ALL COLUMNS")
        val t = client.getTxTable("q182cat", "s", "t")
        // the layer must actually live in the sidecar (200 tuples is
        // far past the 64-tuple inline cap), with NO inline cells
        val realProps = t.snapshot.properties
        val sidecarStored =
          realProps.contains(graft.tables.ColumnStats.PsidecarProp) &&
          !realProps.contains(graft.tables.ColumnStats.PvalsProp)
        def planOf(q: org.apache.spark.sql.DataFrame) =
          q.queryExecution.executedPlan.toString
        def scanFree(q: org.apache.spark.sql.DataFrame) =
          planOf(q).contains("LocalTableScan") && !planOf(q).contains("FileScan")
        // grouped rollup spine: 10 rows, each SUM from one sidecar cell
        val spine = s.sql("""SELECT bucket, COUNT(*) AS n_g,
            SUM(l_quantity) AS sum_g
          FROM q182cat.s.t WHERE bucket < 10 GROUP BY bucket""")
        val groupedMeta = scanFree(spine)
        val q1 = s.sql("""SELECT SUM(l_quantity) AS sum_f
          FROM q182cat.s.t WHERE bucket < 50""")
        val sumMeta = scanFree(q1)
        val q2 = s.sql("""SELECT APPROX_COUNT_DISTINCT(l_orderkey) AS du
          FROM q182cat.s.t WHERE bucket < 50""")
        val ndvMeta = scanFree(q2)
        val est = q2.collect()(0).getLong(0).toDouble
        val exact = li.filter(col("bucket") < 50)
          .select(countDistinct(col("l_orderkey"))).collect()(0).getLong(0).toDouble
        // sidecar pk=2048 at 200x2 cells: rse ~2.2%, envelope 3x
        val ndvOk = math.abs(est - exact) / exact < 0.07
        val q3 = s.sql("""SELECT APPROX_PERCENTILE(l_quantity, 0.5, 50) AS p50
          FROM q182cat.s.t WHERE bucket < 50""")
        val pctMeta = scanFree(q3)
        val served50 = q3.collect()(0).getLong(0)
        val env = li.filter(col("bucket") < 50).agg(
          expr("percentile(l_quantity, array(0.44, 0.56))").as("e"))
          .collect()(0).getSeq[Double](0)
        val pctOk = served50 >= env(0) - 1 && served50 <= env(1) + 1
        // the retention drop: 50 WHOLE partitions out, metadata-only —
        // table-wide SUM recombines from the surviving sidecar cells
        s.sql("DELETE FROM q182cat.s.t WHERE bucket >= 150")
        val q4 = s.sql("SELECT SUM(l_quantity) AS sum_post FROM q182cat.s.t")
        val postDropMeta = scanFree(q4)
        val q5 = s.sql("""SELECT SUM(l_quantity) AS sum_post_f
          FROM q182cat.s.t WHERE bucket >= 100""")
        val postDropFilteredMeta = scanFree(q5)
        spine.crossJoin(q1).crossJoin(q4).crossJoin(q5)
          .withColumn("sidecar_stored", lit(sidecarStored))
          .withColumn("grouped_scan_free", lit(groupedMeta))
          .withColumn("sum_scan_free", lit(sumMeta))
          .withColumn("ndv_scan_free", lit(ndvMeta))
          .withColumn("ndv_in_envelope", lit(ndvOk))
          .withColumn("pct_scan_free", lit(pctMeta))
          .withColumn("pct_in_envelope", lit(pctOk))
          .withColumn("post_drop_scan_free", lit(postDropMeta))
          .withColumn("post_drop_filtered_scan_free", lit(postDropFilteredMeta))
      },
      Some("""WITH src AS (
          SELECT CAST(l_orderkey AS BIGINT) % 200 AS bucket,
                 CAST(l_quantity AS BIGINT) AS q
          FROM lineitem
        )
        SELECT bucket, COUNT(*) AS n_g, CAST(SUM(q) AS BIGINT) AS sum_g,
          (SELECT CAST(SUM(q) AS BIGINT) FROM src WHERE bucket < 50) AS sum_f,
          (SELECT CAST(SUM(q) AS BIGINT) FROM src WHERE bucket < 150) AS sum_post,
          (SELECT CAST(SUM(q) AS BIGINT) FROM src
            WHERE bucket >= 100 AND bucket < 150) AS sum_post_f,
          TRUE AS sidecar_stored,
          TRUE AS grouped_scan_free,
          TRUE AS sum_scan_free,
          TRUE AS ndv_scan_free,
          TRUE AS ndv_in_envelope,
          TRUE AS pct_scan_free,
          TRUE AS pct_in_envelope,
          TRUE AS post_drop_scan_free,
          TRUE AS post_drop_filtered_scan_free
        FROM src WHERE bucket < 10 GROUP BY bucket""")),

    // ---- q183: Iceberg MoR position deletes FOLD column stats ----
    // The one delete path that still killed the stamp: Iceberg's
    // merge-on-read position delete (no file removed — rows hidden by a
    // content=1 delete snapshot). The writer's metadata commit is
    // create-exclusive at metadataVersion+1, so the fold is pinned
    // exactly like the Delta DV path: the newly-hidden rows are
    // `touched files ⋂ predicate` over the PRE-delete snapshot, read
    // from the just-written delete files (O(deleted rows), never a
    // table scan). SUM/COUNT/AVG keep serving scan-free across the
    // delete; DuckDB recomputes the post-delete values. The twin whose
    // predicate is time-dependent pins the honest bail (stamp stale →
    // scan, still correct).
    QueryDef(
      "q183_iceberg_mor_delete_fold",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q183cat")
        client.createSchema("q183cat", "s")
        val root = java.nio.file.Files.createTempDirectory("q183-imor").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey").cast(LongType).as("l_orderkey"),
          col("l_quantity").cast(LongType).as("l_quantity"))
        client.createAsTable(li.repartition(4), "q183cat", "s", "t",
          graft.catalog.FileType.ICEBERG, s"$root/t")
        s.sql("ANALYZE TABLE q183cat.s.t COMPUTE STATISTICS FOR COLUMNS l_orderkey, l_quantity")
        // a row-level predicate no partition tuple decides → the MoR
        // position-delete snapshot, which must FOLD
        s.sql("DELETE FROM q183cat.s.t WHERE l_quantity % 10 = 3")
        def planOf(q: org.apache.spark.sql.DataFrame) =
          q.queryExecution.executedPlan.toString
        val q1 = s.sql("""SELECT SUM(l_quantity) AS sum_q, COUNT(l_quantity) AS cnt_q,
            AVG(l_quantity) AS avg_q FROM q183cat.s.t""")
        val foldServed = planOf(q1).contains("LocalTableScan") &&
          !planOf(q1).contains("FileScan")
        // a SECOND MoR delete folds again (prior deletes applied at base)
        s.sql("DELETE FROM q183cat.s.t WHERE l_orderkey % 97 = 1")
        val q2 = s.sql("SELECT SUM(l_quantity) AS sum_q2 FROM q183cat.s.t")
        val secondFoldServed = !planOf(q2).contains("FileScan")
        // the unprovable twin: a time-dependent predicate must bail to a
        // stale stamp — the scan stays correct
        client.createAsTable(li.repartition(2), "q183cat", "s", "tw",
          graft.catalog.FileType.ICEBERG, s"$root/tw")
        s.sql("ANALYZE TABLE q183cat.s.tw COMPUTE STATISTICS FOR COLUMNS l_quantity")
        s.sql("""DELETE FROM q183cat.s.tw
          WHERE l_quantity % 10 = 3 AND unix_timestamp() > 0""")
        val q3 = s.sql("SELECT SUM(l_quantity) AS sum_tw FROM q183cat.s.tw")
        val twinScans = planOf(q3).contains("FileScan")
        q1.crossJoin(q2).crossJoin(q3)
          .withColumn("fold_scan_free", lit(foldServed))
          .withColumn("second_fold_scan_free", lit(secondFoldServed))
          .withColumn("time_dependent_twin_scans", lit(twinScans))
      },
      Some("""WITH src AS (
          SELECT CAST(l_orderkey AS BIGINT) AS ok, CAST(l_quantity AS BIGINT) AS q
          FROM lineitem
        ), d1 AS (
          SELECT ok, q FROM src WHERE q % 10 <> 3
        ), d2 AS (
          SELECT ok, q FROM d1 WHERE ok % 97 <> 1
        )
        SELECT
          (SELECT CAST(SUM(q) AS BIGINT) FROM d1) AS sum_q,
          (SELECT COUNT(q) FROM d1) AS cnt_q,
          (SELECT CAST(SUM(q) AS DOUBLE) / COUNT(q) FROM d1) AS avg_q,
          (SELECT CAST(SUM(q) AS BIGINT) FROM d2) AS sum_q2,
          (SELECT CAST(SUM(q) AS BIGINT) FROM src WHERE q % 10 <> 3) AS sum_tw,
          TRUE AS fold_scan_free,
          TRUE AS second_fold_scan_free,
          TRUE AS time_dependent_twin_scans""")),

    // ---- q184: partial-partition deletes keep the OTHER tuples ----
    // A delete that removes SOME rows of one partition used to kill the
    // whole per-partition layer. The touched tuple's cells are honestly
    // unset (its scopes fall to the scan) and it stays LISTED (it holds
    // live rows), while every other tuple's cells survive verbatim —
    // the `WHERE day >= X` dashboard over the untouched 363 partitions
    // keeps serving scan-free. Table-wide SUM folds by subtraction as
    // before. All exact values DuckDB-recomputed over the post-delete
    // rows.
    QueryDef(
      "q184_partial_delete_layer_keep",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q184cat")
        client.createSchema("q184cat", "s")
        val root = java.nio.file.Files.createTempDirectory("q184-part").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey").cast(LongType).as("l_orderkey"),
          col("l_quantity").cast(LongType).as("l_quantity"),
          col("l_returnflag"))
        client.createAsTable(li.repartition(4), "q184cat", "s", "t",
          graft.catalog.FileType.DELTA, s"$root/t",
          partitionColumns = Seq("l_returnflag"))
        s.sql("ANALYZE TABLE q184cat.s.t COMPUTE STATISTICS FOR ALL COLUMNS")
        // partial delete INSIDE partition 'A' only — not a pure drop
        s.sql("DELETE FROM q184cat.s.t WHERE l_returnflag = 'A' AND l_quantity < 25")
        def planOf(q: org.apache.spark.sql.DataFrame) =
          q.queryExecution.executedPlan.toString
        def scanFree(q: org.apache.spark.sql.DataFrame) =
          planOf(q).contains("LocalTableScan") && !planOf(q).contains("FileScan")
        // untouched partitions keep their filtered serves (the NDV
        // estimate rides as an envelope boolean — merged past the
        // sketch's exact regime it can't hash-match an exact recount)
        val q1 = s.sql("""SELECT SUM(l_quantity) AS sum_n
          FROM q184cat.s.t WHERE l_returnflag >= 'N'""")
        val untouchedServed = scanFree(q1)
        val qNdv = s.sql("""SELECT APPROX_COUNT_DISTINCT(l_orderkey) AS du
          FROM q184cat.s.t WHERE l_returnflag >= 'N'""")
        val ndvServed = scanFree(qNdv)
        val est = qNdv.collect()(0).getLong(0).toDouble
        val exact = li.filter(col("l_returnflag") >= "N")
          .select(countDistinct(col("l_orderkey"))).collect()(0).getLong(0).toDouble
        val ndvOk = math.abs(est - exact) / exact < 0.07
        // the touched partition's scope honestly scans — and is correct
        val q2 = s.sql("""SELECT SUM(l_quantity) AS sum_a
          FROM q184cat.s.t WHERE l_returnflag = 'A'""")
        val touchedScans = planOf(q2).contains("FileScan")
        // table-wide SUM still serves (subtraction fold)
        val q3 = s.sql("SELECT SUM(l_quantity) AS sum_all FROM q184cat.s.t")
        val tableWideServed = !planOf(q3).contains("FileScan")
        q1.crossJoin(q2).crossJoin(q3)
          .withColumn("untouched_scan_free", lit(untouchedServed))
          .withColumn("ndv_scan_free", lit(ndvServed))
          .withColumn("ndv_in_envelope", lit(ndvOk))
          .withColumn("touched_falls_back", lit(touchedScans))
          .withColumn("tablewide_scan_free", lit(tableWideServed))
      },
      Some("""WITH src AS (
          SELECT CAST(l_orderkey AS BIGINT) AS ok, CAST(l_quantity AS BIGINT) AS q,
                 l_returnflag AS rf
          FROM lineitem
        ), post AS (
          SELECT ok, q, rf FROM src WHERE NOT (rf = 'A' AND q < 25)
        )
        SELECT
          (SELECT CAST(SUM(q) AS BIGINT) FROM post WHERE rf >= 'N') AS sum_n,
          (SELECT CAST(SUM(q) AS BIGINT) FROM post WHERE rf = 'A') AS sum_a,
          (SELECT CAST(SUM(q) AS BIGINT) FROM post) AS sum_all,
          TRUE AS untouched_scan_free,
          TRUE AS ndv_scan_free,
          TRUE AS ndv_in_envelope,
          TRUE AS touched_falls_back,
          TRUE AS tablewide_scan_free""")),

    // ---- q187: stamped serves TIME-TRAVEL ----
    // The ANALYZE stamp is ordinary table properties, so `VERSION AS OF
    // v` reads the stamp as of v and the fingerprint check runs against
    // v's own file list: every version whose properties describe its own
    // snapshot serves scan-free FOREVER — "yesterday's total vs today's"
    // without scanning either side — while the in-between version (data
    // committed, fold not yet stamped) honestly scans. Versions here:
    // v0 create, v1 ANALYZE stamp, v2 DELETE, v3 delete-fold stamp.
    // Both sums are DuckDB-recomputed from the base table; the plan
    // shapes ride as booleans the oracle asserts.
    QueryDef(
      "q187_timetravel_stats_serve",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q187cat")
        client.createSchema("q187cat", "s")
        val root = java.nio.file.Files.createTempDirectory("q187-tts").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey").cast(LongType).as("l_orderkey"),
          col("l_quantity").cast(LongType).as("l_quantity"))
        client.createAsTable(li.repartition(4), "q187cat", "s", "t",
          graft.catalog.FileType.DELTA, s"$root/t") // v0
        s.sql("ANALYZE TABLE q187cat.s.t COMPUTE STATISTICS FOR COLUMNS l_quantity") // v1
        s.sql("DELETE FROM q187cat.s.t WHERE l_quantity < 10") // v2 (+ v3 fold)
        def planOf(q: org.apache.spark.sql.DataFrame) =
          q.queryExecution.executedPlan.toString
        def scanFree(q: org.apache.spark.sql.DataFrame) =
          planOf(q).contains("LocalTableScan") && !planOf(q).contains("FileScan")
        val before = s.sql(
          "SELECT SUM(l_quantity) AS sum_before FROM q187cat.s.t VERSION AS OF 1")
        val beforeServed = scanFree(before)
        val between = s.sql(
          "SELECT SUM(l_quantity) AS sum_between FROM q187cat.s.t VERSION AS OF 2")
        val betweenScans = planOf(between).contains("FileScan")
        val after = s.sql("SELECT SUM(l_quantity) AS sum_after FROM q187cat.s.t")
        val afterServed = scanFree(after)
        before.crossJoin(between).crossJoin(after)
          .withColumn("before_scan_free", lit(beforeServed))
          .withColumn("between_honestly_scans", lit(betweenScans))
          .withColumn("after_scan_free", lit(afterServed))
      },
      Some("""SELECT
          (SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) FROM lineitem) AS sum_before,
          (SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) FROM lineitem
            WHERE CAST(l_quantity AS BIGINT) >= 10) AS sum_between,
          (SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) FROM lineitem
            WHERE CAST(l_quantity AS BIGINT) >= 10) AS sum_after,
          TRUE AS before_scan_free,
          TRUE AS between_honestly_scans,
          TRUE AS after_scan_free""")),

    // ---- q189: partial ANALYZE merges over a FRESH stamp ----
    // ANALYZE yesterday for column A, today for column B: when the
    // existing stamp still describes the current snapshot (fingerprint
    // match), B's partial ANALYZE must not destroy A's still-valid
    // stats — table-wide keys AND the per-partition layer cells merge
    // through (tuple-matched), so both columns' plain and
    // partition-filtered SUMs serve scan-free. Over a STALE stamp
    // (a time-dependent DELETE predicate bails the fold), the partial
    // ANALYZE clears A's keys instead — old values are never
    // re-validated against the new fingerprint: A's SUM falls back to
    // the scan and stays exact. All sums DuckDB-recomputed.
    QueryDef(
      "q189_partial_analyze_merge",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q189cat")
        client.createSchema("q189cat", "s")
        val root = java.nio.file.Files.createTempDirectory("q189-mrg").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey").cast(LongType).as("l_orderkey"),
          col("l_quantity").cast(LongType).as("l_quantity"),
          col("l_returnflag"))
        client.createAsTable(li.repartition(4), "q189cat", "s", "t",
          graft.catalog.FileType.DELTA, s"$root/t",
          partitionColumns = Seq("l_returnflag"))
        s.sql("ANALYZE TABLE q189cat.s.t COMPUTE STATISTICS FOR COLUMNS l_quantity")
        s.sql("ANALYZE TABLE q189cat.s.t COMPUTE STATISTICS FOR COLUMNS l_orderkey")
        def planOf(q: org.apache.spark.sql.DataFrame) =
          q.queryExecution.executedPlan.toString
        def scanFree(q: org.apache.spark.sql.DataFrame) =
          planOf(q).contains("LocalTableScan") && !planOf(q).contains("FileScan")
        val both = s.sql("""SELECT SUM(l_quantity) AS sum_q, SUM(l_orderkey) AS sum_k
          FROM q189cat.s.t""")
        val bothServed = scanFree(both)
        val filtered = s.sql("""SELECT SUM(l_quantity) AS sum_q_n, SUM(l_orderkey) AS sum_k_n
          FROM q189cat.s.t WHERE l_returnflag = 'N'""")
        val filteredServed = scanFree(filtered)
        // stale leg: the time-dependent predicate bails the delete fold
        // (ColumnStats' denylist), so the stamp goes stale; the partial
        // re-ANALYZE of l_orderkey must CLEAR l_quantity's keys
        s.sql("DELETE FROM q189cat.s.t WHERE l_quantity = 1 AND unix_timestamp() > 0")
        s.sql("ANALYZE TABLE q189cat.s.t COMPUTE STATISTICS FOR COLUMNS l_orderkey")
        val postK = s.sql("SELECT SUM(l_orderkey) AS sum_k_post FROM q189cat.s.t")
        val postKServed = scanFree(postK)
        val postQ = s.sql("SELECT SUM(l_quantity) AS sum_q_post FROM q189cat.s.t")
        val postQScans = planOf(postQ).contains("FileScan")
        both.crossJoin(filtered).crossJoin(postK).crossJoin(postQ)
          .withColumn("merged_scan_free", lit(bothServed))
          .withColumn("merged_filtered_scan_free", lit(filteredServed))
          .withColumn("restamped_scan_free", lit(postKServed))
          .withColumn("stale_cleared_scans", lit(postQScans))
      },
      Some("""WITH src AS (
          SELECT CAST(l_orderkey AS BIGINT) AS k, CAST(l_quantity AS BIGINT) AS q,
                 l_returnflag AS rf
          FROM lineitem
        ), post AS (SELECT * FROM src WHERE q <> 1)
        SELECT
          (SELECT CAST(SUM(q) AS BIGINT) FROM src) AS sum_q,
          (SELECT CAST(SUM(k) AS BIGINT) FROM src) AS sum_k,
          (SELECT CAST(SUM(q) AS BIGINT) FROM src WHERE rf = 'N') AS sum_q_n,
          (SELECT CAST(SUM(k) AS BIGINT) FROM src WHERE rf = 'N') AS sum_k_n,
          (SELECT CAST(SUM(k) AS BIGINT) FROM post) AS sum_k_post,
          (SELECT CAST(SUM(q) AS BIGINT) FROM post) AS sum_q_post,
          TRUE AS merged_scan_free,
          TRUE AS merged_filtered_scan_free,
          TRUE AS restamped_scan_free,
          TRUE AS stale_cleared_scans""")),

    // ---- q190: Iceberg retention drop on a table WITH a null partition ----
    // The manifest reader used to drop a null identity partition value
    // from a file's partitionValues instead of surfacing p -> null, so
    // the partition-predicate evaluator saw the null-partition files as
    // undecidable and every whole-partition DELETE on such a table
    // silently degraded to merge-on-read (delete files written, layer
    // keeps bailed). Pins: the drop stays METADATA-ONLY (file count
    // shrinks, zero deletion vectors), the stamp folds, the filtered
    // serves stay scan-free over the surviving partitions INCLUDING the
    // SQL-NULL one, and every value is DuckDB-recomputed.
    QueryDef(
      "q190_iceberg_null_partition_drop",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q190cat")
        client.createSchema("q190cat", "s")
        val root = java.nio.file.Files.createTempDirectory("q190-null").toString
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey").cast(LongType).as("l_orderkey"),
          col("l_quantity").cast(LongType).as("l_quantity"),
          // 'N' becomes the SQL NULL partition — the hive sentinel shape
          expr("nullif(l_returnflag, 'N')").as("rf"))
        client.createAsTable(li.repartition(4), "q190cat", "s", "t",
          graft.catalog.FileType.ICEBERG, s"$root/t",
          partitionColumns = Seq("rf"))
        s.sql("ANALYZE TABLE q190cat.s.t COMPUTE STATISTICS FOR COLUMNS l_quantity")
        val t = client.getTxTable("q190cat", "s", "t")
        val filesBefore = t.snapshot.files.size
        s.sql("DELETE FROM q190cat.s.t WHERE rf = 'R'")
        val snap = t.snapshot
        val metadataOnly = snap.files.size < filesBefore &&
          !snap.files.exists(_.deletionVector.exists(_.cardinality > 0))
        def planOf(q: org.apache.spark.sql.DataFrame) =
          q.queryExecution.executedPlan.toString
        def scanFree(q: org.apache.spark.sql.DataFrame) =
          planOf(q).contains("LocalTableScan") && !planOf(q).contains("FileScan")
        val qa = s.sql("SELECT SUM(l_quantity) AS sum_a FROM q190cat.s.t WHERE rf = 'A'")
        val aServed = scanFree(qa)
        val qn = s.sql("SELECT SUM(l_quantity) AS sum_null FROM q190cat.s.t WHERE rf IS NULL")
        val nullServed = scanFree(qn)
        val qall = s.sql("SELECT SUM(l_quantity) AS sum_all, COUNT(*) AS n_all FROM q190cat.s.t")
        val allServed = scanFree(qall)
        qa.crossJoin(qn).crossJoin(qall)
          .withColumn("drop_metadata_only", lit(metadataOnly))
          .withColumn("a_scan_free", lit(aServed))
          .withColumn("null_scan_free", lit(nullServed))
          .withColumn("tablewide_scan_free", lit(allServed))
      },
      Some("""WITH src AS (
          SELECT CAST(l_quantity AS BIGINT) AS q, NULLIF(l_returnflag, 'N') AS rf
          FROM lineitem
        ), post AS (SELECT * FROM src WHERE rf IS NULL OR rf <> 'R')
        SELECT
          (SELECT CAST(SUM(q) AS BIGINT) FROM post WHERE rf = 'A') AS sum_a,
          (SELECT CAST(SUM(q) AS BIGINT) FROM post WHERE rf IS NULL) AS sum_null,
          (SELECT CAST(SUM(q) AS BIGINT) FROM post) AS sum_all,
          (SELECT COUNT(*) FROM post) AS n_all,
          TRUE AS drop_metadata_only,
          TRUE AS a_scan_free,
          TRUE AS null_scan_free,
          TRUE AS tablewide_scan_free""")),

    // ---- q191: Iceberg EQUALITY deletes fold the stamp ----
    // The Flink-upsert history (q139's shape): each upsert batch is an
    // equality-delete of the keys plus an append of their new rows —
    // the streaming-CDC 100 TB pattern. Pre-round-16 every equality
    // delete invalidated the stamp (a full re-ANALYZE to recover);
    // now ColumnStats.foldEqualityDelete subtracts exactly the
    // keyed-out rows (touched files from the position-bitmap diff,
    // removed rows via the reader's own null-safe key join) and the
    // append folds as before, so SUM/COUNT keep serving scan-free
    // across the whole upsert. The honest-fallback twin: MIN/MAX serve
    // from per-file bounds, which a live delete bitmap makes
    // unprovable — MIN scans (and is still exact). All values
    // DuckDB-recomputed over the post-upsert rows.
    QueryDef(
      "q191_iceberg_equality_delete_fold",
      (s, dir) => {
        val client = new graft.client.LakehouseClient(s)
        client.createCatalog("q191cat")
        client.createSchema("q191cat", "s")
        val root = java.nio.file.Files.createTempDirectory("q191-eqdel").toString
        val o = Tables.orders(s, dir).select(
          col("o_orderkey").cast(LongType).as("ok"),
          col("o_custkey").cast(LongType).as("ck"))
        client.createAsTable(o.repartition(4), "q191cat", "s", "t",
          graft.catalog.FileType.ICEBERG, s"$root/t")
        s.sql("ANALYZE TABLE q191cat.s.t COMPUTE STATISTICS FOR COLUMNS ok, ck")
        val loc = graft.io.TableIO.normalize(s"$root/t")
        // one Flink-shaped upsert batch for keys ok % 7 = 1: equality
        // delete of the keys, then the replacement rows (ck + 1000)
        graft.tables.IcebergWriter.equalityDelete(s, loc, Seq("ok"),
          o.filter(col("ok") % 7 === 1).select(col("ok")))
        client.getTxTable("q191cat", "s", "t").append(
          o.filter(col("ok") % 7 === 1)
            .select(col("ok"), (col("ck") + 1000L).as("ck")))
        def planOf(q: org.apache.spark.sql.DataFrame) =
          q.queryExecution.executedPlan.toString
        def scanFree(q: org.apache.spark.sql.DataFrame) =
          planOf(q).contains("LocalTableScan") && !planOf(q).contains("FileScan")
        val q1 = s.sql(
          "SELECT SUM(ck) AS sum_ck, COUNT(*) AS n_rows FROM q191cat.s.t")
        val upsertServed = scanFree(q1)
        // a SECOND equality delete (no re-append) folds on top — and it
        // takes out key 0, the stamped-MIN holder
        graft.tables.IcebergWriter.equalityDelete(s, loc, Seq("ok"),
          s.createDataFrame(Seq(Tuple1(0L), Tuple1(2L), Tuple1(3L))).toDF("ok"))
        val q2 = s.sql("SELECT SUM(ck) AS sum_ck2 FROM q191cat.s.t")
        val secondServed = scanFree(q2)
        // the honest fallback: the removed keys' min TIES the stamped
        // min (duplicates are unknowable from metadata), so the fold
        // drops the pair, per-file bounds are blocked by the live
        // delete bitmaps — MIN must SCAN, and is still exact. (The
        // FIRST delete's keys sat strictly above the min, so MIN kept
        // serving through it — that is the fold keeping, not luck.)
        val q3 = s.sql("SELECT MIN(ok) AS min_ok FROM q191cat.s.t")
        val minScans = planOf(q3).contains("FileScan")
        q1.crossJoin(q2).crossJoin(q3)
          .withColumn("upsert_scan_free", lit(upsertServed))
          .withColumn("second_fold_scan_free", lit(secondServed))
          .withColumn("min_falls_back_to_scan", lit(minScans))
      },
      Some("""WITH src AS (
          SELECT CAST(o_orderkey AS BIGINT) AS ok, CAST(o_custkey AS BIGINT) AS ck
          FROM orders
        ), post AS (
          SELECT ok, ck FROM src WHERE ok % 7 <> 1
          UNION ALL
          SELECT ok, ck + 1000 AS ck FROM src WHERE ok % 7 = 1
        ), post2 AS (
          SELECT ok, ck FROM post WHERE ok NOT IN (0, 2, 3)
        )
        SELECT
          (SELECT CAST(SUM(ck) AS BIGINT) FROM post) AS sum_ck,
          (SELECT COUNT(*) FROM post) AS n_rows,
          (SELECT CAST(SUM(ck) AS BIGINT) FROM post2) AS sum_ck2,
          (SELECT MIN(ok) FROM post2) AS min_ok,
          TRUE AS upsert_scan_free,
          TRUE AS second_fold_scan_free,
          TRUE AS min_falls_back_to_scan"""))
  )
}
