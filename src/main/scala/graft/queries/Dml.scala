package graft.queries

import graft.Engine
import graft.operators.{CopyOnWriteDml, TxnMergeOnRead}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Row-level DML conformance — the reference's ACID surface
  * (UPDATE/DELETE/MERGE, `ql/.../io/AcidUtils.java:226-228`, qtests
  * `clientpositive/acid_*.q` and `sqlmerge.q`), re-expressed as
  * copy-on-write rewrites over parquet catalog tables
  * ([[graft.operators.CopyOnWriteDml]]).
  *
  * Each query creates a table from source parquet, applies the DML, and
  * SELECTs the final state; the DuckDB oracle recomputes that final state
  * directly from the source — wrong update masking, surviving deleted rows,
  * or lost partitions all break the hash match. [[graft.DmlSpec]]
  * additionally asserts the partition-pruning contract (untouched partition
  * directories are physically untouched).
  */
object Dml {

  private def ctx(s: SparkSession, dir: String): (String, String) = {
    Engine.registerAll(s, dir)
    val sf = new java.io.File(dir).getName.replace(".", "_")
    (sf, s"${Engine.scratchRoot}/ddl/$sf")
  }

  val all: Seq[Qd] = Seq(

    // UPDATE with a partial predicate inside one partition: only BUILDING
    // rows with even keys change; every other row must come through
    // byte-identical.
    Qd("q111_dml_update",
      """SELECT CAST(c_custkey AS BIGINT) AS ck, c_name AS nm,
        |  CASE WHEN c_mktsegment = 'BUILDING' AND c_custkey % 2 = 0
        |       THEN round(c_acctbal * 1.1, 2) ELSE round(c_acctbal, 2)
        |  END AS bal,
        |  c_mktsegment AS seg
        |FROM customer ORDER BY ck""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val tbl = s"g111_$sf"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl (ck BIGINT, nm STRING, bal DOUBLE, seg STRING) " +
        s"USING parquet PARTITIONED BY (seg) LOCATION '$loc/g111'")
      s.sql(s"INSERT OVERWRITE $tbl SELECT CAST(c_custkey AS BIGINT), c_name, " +
        "round(c_acctbal, 2), c_mktsegment FROM customer")
      CopyOnWriteDml.update(s, tbl,
        set = Seq("bal" -> "round(bal * 1.1, 2)"),
        cond = "seg = 'BUILDING' AND ck % 2 = 0")
      s.sql(s"SELECT ck, nm, bal, seg FROM $tbl ORDER BY ck")
    },

    // DELETE that empties one whole partition (AUTOMOBILE) and thins another
    // (MACHINERY): the emptied partition must be dropped, not silently kept.
    Qd("q112_dml_delete",
      """SELECT CAST(c_custkey AS BIGINT) AS ck, c_name AS nm, c_mktsegment AS seg
        |FROM customer
        |WHERE NOT (c_mktsegment = 'AUTOMOBILE'
        |           OR (c_mktsegment = 'MACHINERY' AND c_custkey % 3 = 0))
        |ORDER BY ck""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val tbl = s"g112_$sf"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl (ck BIGINT, nm STRING, seg STRING) " +
        s"USING parquet PARTITIONED BY (seg) LOCATION '$loc/g112'")
      s.sql(s"INSERT OVERWRITE $tbl SELECT CAST(c_custkey AS BIGINT), c_name, " +
        "c_mktsegment FROM customer")
      CopyOnWriteDml.delete(s, tbl,
        "seg = 'AUTOMOBILE' OR (seg = 'MACHINERY' AND ck % 3 = 0)")
      s.sql(s"SELECT ck, nm, seg FROM $tbl ORDER BY ck")
    },

    // Three-clause MERGE (matched-delete, matched-update, not-matched-insert)
    // with Hive's clause precedence: delete wins over update for a matched
    // row; set/insert expressions read the source side.
    Qd("q113_dml_merge",
      """WITH t AS (SELECT c_custkey AS ck, c_name AS nm, round(c_acctbal, 2) AS bal
        |           FROM customer WHERE c_custkey <= 500),
        |s AS (SELECT c_custkey AS ck, round(c_acctbal, 2) + 100 AS nbal
        |      FROM customer WHERE c_custkey BETWEEN 301 AND 800)
        |SELECT * FROM (
        |  SELECT t.ck AS ck, t.nm AS nm,
        |         CASE WHEN s.ck IS NOT NULL THEN s.nbal ELSE t.bal END AS bal
        |  FROM t LEFT JOIN s ON t.ck = s.ck
        |  WHERE NOT (s.ck IS NOT NULL AND s.ck % 5 = 0)
        |  UNION ALL
        |  SELECT s.ck, 'new', s.nbal FROM s LEFT JOIN t ON s.ck = t.ck
        |  WHERE t.ck IS NULL)
        |ORDER BY ck""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val tbl = s"g113_$sf"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl (ck BIGINT, nm STRING, bal DOUBLE) " +
        s"USING parquet LOCATION '$loc/g113'")
      s.sql(s"INSERT OVERWRITE $tbl SELECT CAST(c_custkey AS BIGINT), c_name, " +
        "round(c_acctbal, 2) FROM customer WHERE c_custkey <= 500")
      val source = Engine.table(s, dir, "customer")
        .filter(col("c_custkey").between(301, 800))
        .select(col("c_custkey").cast("bigint").as("ck"),
          (round(col("c_acctbal"), 2) + 100).as("nbal"))
      CopyOnWriteDml.merge(s, tbl, source,
        onCond = "t.ck = s.ck",
        matchedSet = Seq("bal" -> "s.nbal"),
        matchedDelete = Some("s.ck % 5 = 0"),
        notMatchedInsert = Some(Seq(
          "ck" -> "s.ck", "nm" -> "'new'", "bal" -> "s.nbal")),
        checkCardinality = true)
      s.sql(s"SELECT ck, nm, bal FROM $tbl ORDER BY ck")
    },

    // Merge-on-read on the txn log ([[TxnMergeOnRead]]): UPDATE (delete-event
    // + insert-delta pair), DELETE (delete-delta), INSERT (insert-delta) —
    // base files never rewritten; the snapshot read filters the one scan
    // by the delete rids held on the driver. The oracle replays the same transaction
    // sequence as chained CTEs.
    Qd("q151_dml_merge_on_read",
      """WITH t0 AS (SELECT CAST(c_custkey AS BIGINT) AS ck, c_name AS nm,
        |            round(c_acctbal, 2) AS bal, c_mktsegment AS seg FROM customer),
        |t1 AS (SELECT ck, nm,
        |         CASE WHEN seg = 'BUILDING' AND ck % 2 = 0
        |              THEN round(bal * 1.1, 2) ELSE bal END AS bal, seg FROM t0),
        |t2 AS (SELECT * FROM t1
        |       WHERE NOT (seg = 'AUTOMOBILE' OR (seg = 'MACHINERY' AND ck % 3 = 0))),
        |t3 AS (SELECT * FROM t2
        |       UNION ALL
        |       SELECT ck + 100000, 'late-arrival', 0.0, 'NEW' FROM t0 WHERE ck <= 50)
        |SELECT ck, nm, bal, seg FROM t3 ORDER BY ck""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g151_mor"
      val src = Engine.table(s, dir, "customer").select(
        col("c_custkey").cast("bigint").as("ck"), col("c_name").as("nm"),
        round(col("c_acctbal"), 2).as("bal"), col("c_mktsegment").as("seg"))
      TxnMergeOnRead.create(s, root, src)
      TxnMergeOnRead.update(s, root,
        set = Seq("bal" -> "round(bal * 1.1, 2)"),
        cond = "seg = 'BUILDING' AND ck % 2 = 0")
      TxnMergeOnRead.delete(s, root,
        "seg = 'AUTOMOBILE' OR (seg = 'MACHINERY' AND ck % 3 = 0)")
      TxnMergeOnRead.insert(s, root, src.filter(col("ck") <= 50).select(
        (col("ck") + 100000).as("ck"), lit("late-arrival").as("nm"),
        lit(0.0).as("bal"), lit("NEW").as("seg")))
      TxnMergeOnRead.read(s, root).orderBy("ck")
    },

    // Major compaction folds the deltas into a new base (reads become plain
    // scans again — asserted in TxnMorSpec), and NEW deltas stack on the
    // compacted base: the post-compaction UPDATE must see folded state.
    Qd("q152_dml_mor_compaction",
      """WITH t0 AS (SELECT CAST(c_custkey AS BIGINT) AS ck, c_name AS nm,
        |            round(c_acctbal, 2) AS bal, c_mktsegment AS seg FROM customer),
        |t1 AS (SELECT ck, nm,
        |         CASE WHEN seg = 'BUILDING' AND ck % 2 = 0
        |              THEN round(bal * 1.1, 2) ELSE bal END AS bal, seg FROM t0),
        |t2 AS (SELECT * FROM t1 WHERE NOT (seg = 'AUTOMOBILE')),
        |t3 AS (SELECT ck, nm,
        |         CASE WHEN seg = 'HOUSEHOLD' AND bal < 0
        |              THEN 0.0 ELSE bal END AS bal, seg FROM t2)
        |SELECT ck, nm, bal, seg FROM t3 ORDER BY ck""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g152_mor"
      val src = Engine.table(s, dir, "customer").select(
        col("c_custkey").cast("bigint").as("ck"), col("c_name").as("nm"),
        round(col("c_acctbal"), 2).as("bal"), col("c_mktsegment").as("seg"))
      TxnMergeOnRead.create(s, root, src)
      TxnMergeOnRead.update(s, root,
        set = Seq("bal" -> "round(bal * 1.1, 2)"),
        cond = "seg = 'BUILDING' AND ck % 2 = 0")
      TxnMergeOnRead.delete(s, root, "seg = 'AUTOMOBILE'")
      TxnMergeOnRead.compact(s, root)
      TxnMergeOnRead.update(s, root,
        set = Seq("bal" -> "0.0"),
        cond = "seg = 'HOUSEHOLD' AND bal < 0")
      TxnMergeOnRead.read(s, root).orderBy("ck")
    },

    // CONCURRENT writers under the optimistic transaction log
    // ([[graft.operators.TxnMergeOnRead]]): five writers race with no
    // coordination beyond the log — two overlapping UPDATEs (commutative
    // increments, so first-committer-wins + recompute converges to both
    // applied), a DELETE on a disjoint segment, and two INSERT batches.
    // Snapshot isolation makes EVERY interleaving reach the same final
    // table, which is what lets a deterministic sequential oracle check a
    // concurrent execution; a lost update, torn update, or clobbered delta
    // (the single-writer failure modes) each break the hash.
    Qd("q197_dml_concurrent_txn",
      """WITH t0 AS (SELECT CAST(c_custkey AS BIGINT) AS ck, c_name AS nm,
        |            round(c_acctbal, 2) AS bal, c_mktsegment AS seg FROM customer),
        |fin AS (SELECT ck, nm,
        |    CASE WHEN seg = 'BUILDING' THEN round(bal + 3, 2)
        |         WHEN seg = 'MACHINERY' THEN round(bal + 2, 2)
        |         ELSE bal END AS bal, seg
        |  FROM t0 WHERE seg <> 'AUTOMOBILE'),
        |ins AS (SELECT CAST(s_suppkey AS BIGINT) + 200000 AS ck, s_name AS nm,
        |          0.0 AS bal, 'NEW' AS seg FROM supplier
        |        UNION ALL
        |        SELECT CAST(s_suppkey AS BIGINT) + 300000, s_name, 1.0, 'NEW2'
        |        FROM supplier)
        |SELECT ck, nm, bal, seg FROM
        |  (SELECT * FROM fin UNION ALL SELECT * FROM ins)
        |ORDER BY ck""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g197_txn"
      val src = Engine.table(s, dir, "customer").select(
        col("c_custkey").cast("bigint").as("ck"), col("c_name").as("nm"),
        round(col("c_acctbal"), 2).as("bal"), col("c_mktsegment").as("seg"))
      TxnMergeOnRead.create(s, root, src)
      val sup = Engine.table(s, dir, "supplier")
      val writers: Seq[() => Unit] = Seq(
        () => TxnMergeOnRead.update(s, root,
          Seq("bal" -> "round(bal + 1, 2)"), "seg = 'BUILDING'"),
        () => TxnMergeOnRead.update(s, root,
          Seq("bal" -> "round(bal + 2, 2)"),
          "seg IN ('BUILDING', 'MACHINERY')"),
        () => TxnMergeOnRead.delete(s, root, "seg = 'AUTOMOBILE'"),
        () => TxnMergeOnRead.insert(s, root, sup.select(
          (col("s_suppkey").cast("bigint") + 200000).as("ck"),
          col("s_name").as("nm"), lit(0.0).as("bal"), lit("NEW").as("seg"))),
        () => TxnMergeOnRead.insert(s, root, sup.select(
          (col("s_suppkey").cast("bigint") + 300000).as("ck"),
          col("s_name").as("nm"), lit(1.0).as("bal"), lit("NEW2").as("seg"))))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers.size)
      val futs = writers.map(w => pool.submit(
        new java.util.concurrent.Callable[Unit] { def call(): Unit = w() }))
      pool.shutdown()
      futs.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      TxnMergeOnRead.compact(s, root) // sequential: read is a base-only scan
      TxnMergeOnRead.read(s, root).orderBy("ck")
    },

    // CDC over the transaction log ([[TxnMergeOnRead.changesBetween]]):
    // after create → UPDATE → DELETE → INSERT, the net changes in (1, 4]
    // are exactly {old BUILDING versions + AUTOMOBILE rows} deleted and
    // {new BUILDING versions + supplier rows} inserted. The oracle derives
    // both sets from the sources directly; a CDC replay that misses the
    // UPDATE's delete half, leaks row ids, or double-counts breaks the hash.
    Qd("q198_dml_cdc_changes",
      """WITH t0 AS (SELECT CAST(c_custkey AS BIGINT) AS ck, c_name AS nm,
        |            round(c_acctbal, 2) AS bal, c_mktsegment AS seg FROM customer)
        |SELECT 'delete' AS change, ck, nm, bal, seg FROM t0
        |  WHERE seg IN ('BUILDING', 'AUTOMOBILE')
        |UNION ALL
        |SELECT 'insert', ck, nm, round(bal + 5, 2), seg FROM t0
        |  WHERE seg = 'BUILDING'
        |UNION ALL
        |SELECT 'insert', CAST(s_suppkey AS BIGINT) + 500000, s_name, 9.99, 'SUPP'
        |  FROM supplier
        |ORDER BY change, ck""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g198_txn"
      TxnMergeOnRead.create(s, root, Engine.table(s, dir, "customer").select(
        col("c_custkey").cast("bigint").as("ck"), col("c_name").as("nm"),
        round(col("c_acctbal"), 2).as("bal"), col("c_mktsegment").as("seg")))
      TxnMergeOnRead.update(s, root,
        Seq("bal" -> "round(bal + 5, 2)"), "seg = 'BUILDING'")
      TxnMergeOnRead.delete(s, root, "seg = 'AUTOMOBILE'")
      TxnMergeOnRead.insert(s, root, Engine.table(s, dir, "supplier").select(
        (col("s_suppkey").cast("bigint") + 500000).as("ck"),
        col("s_name").as("nm"), lit(9.99).as("bal"), lit("SUPP").as("seg")))
      TxnMergeOnRead.changesBetween(s, root, 1L, 4L)
        .select("change", "ck", "nm", "bal", "seg")
        .orderBy("change", "ck")
    },

    // Time travel ([[TxnMergeOnRead.readAt]]): the same version chain read
    // back at each pinned version as an aggregate — version 1 is the full
    // customer load, 2 adds the BUILDING raise, 3 drops AUTOMOBILE, 4 adds
    // the suppliers. A reader that sees a later delta at an earlier version
    // (snapshot leak) or loses one (replay gap) shifts a row of the series.
    Qd("q199_dml_time_travel",
      """WITH t0 AS (SELECT CAST(c_custkey AS BIGINT) AS ck,
        |            round(c_acctbal, 2) AS bal, c_mktsegment AS seg FROM customer),
        |v2 AS (SELECT ck, CASE WHEN seg = 'BUILDING' THEN round(bal + 5, 2)
        |                       ELSE bal END AS bal, seg FROM t0),
        |v3 AS (SELECT * FROM v2 WHERE seg <> 'AUTOMOBILE'),
        |v4 AS (SELECT ck, bal, seg FROM v3
        |       UNION ALL
        |       SELECT CAST(s_suppkey AS BIGINT) + 500000, 9.99, 'SUPP' FROM supplier)
        |SELECT 1 AS version, count(*) AS n_rows,
        |       CAST(round(sum(bal), 2) AS DOUBLE) AS total_bal FROM t0
        |UNION ALL SELECT 2, count(*), CAST(round(sum(bal), 2) AS DOUBLE) FROM v2
        |UNION ALL SELECT 3, count(*), CAST(round(sum(bal), 2) AS DOUBLE) FROM v3
        |UNION ALL SELECT 4, count(*), CAST(round(sum(bal), 2) AS DOUBLE) FROM v4
        |ORDER BY version""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g199_txn"
      TxnMergeOnRead.create(s, root, Engine.table(s, dir, "customer").select(
        col("c_custkey").cast("bigint").as("ck"),
        round(col("c_acctbal"), 2).as("bal"), col("c_mktsegment").as("seg")))
      TxnMergeOnRead.update(s, root,
        Seq("bal" -> "round(bal + 5, 2)"), "seg = 'BUILDING'")
      TxnMergeOnRead.delete(s, root, "seg = 'AUTOMOBILE'")
      TxnMergeOnRead.insert(s, root, Engine.table(s, dir, "supplier").select(
        (col("s_suppkey").cast("bigint") + 500000).as("ck"),
        lit(9.99).as("bal"), lit("SUPP").as("seg")))
      (1L to 4L).map { v =>
        TxnMergeOnRead.readAt(s, root, v).agg(
          count(lit(1)).as("n_rows"),
          round(sum("bal"), 2).cast("double").as("total_bal"))
          .select(lit(v.toInt).as("version"), col("n_rows"), col("total_bal"))
      }.reduce(_ unionByName _).orderBy("version")
    },

    // Incremental dedup ingest — the shape a 100 TB corpus actually grows
    // by: the standing table keeps a content-hash column, an arriving batch
    // is deduped within itself (earliest doc per hash wins) and against the
    // corpus by ONE narrow anti-join on the hash projection (parquet reads
    // only `h`, never the text), and only novel rows are appended through
    // the transaction log — the corpus is never rewritten and never fully
    // rescanned. The batch deliberately overlaps the corpus (all doc_id%4=0
    // docs plus any odd doc whose text duplicates a corpus doc) so both
    // dedup edges are exercised.
    Qd("q200_dml_incremental_ingest",
      """WITH corpus AS (SELECT doc_id, md5(text) AS h FROM documents
        |               WHERE doc_id % 2 = 0),
        |batch AS (SELECT doc_id, md5(text) AS h FROM documents
        |          WHERE doc_id % 2 = 1 OR doc_id % 4 = 0
        |          UNION ALL
        |          SELECT doc_id + 100000, md5(text) FROM documents
        |          WHERE doc_id % 8 = 3),
        |bdd AS (SELECT min(doc_id) AS doc_id, h FROM batch GROUP BY h),
        |novel AS (SELECT doc_id, h FROM bdd
        |          WHERE h NOT IN (SELECT h FROM corpus))
        |SELECT doc_id, h FROM corpus
        |UNION ALL SELECT doc_id, h FROM novel
        |ORDER BY doc_id""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g200_txn"
      val d = Engine.table(s, dir, "documents").select(col("doc_id"), col("text"))
      TxnMergeOnRead.create(s, root,
        d.filter(col("doc_id") % 2 === 0).withColumn("h", md5(col("text"))))
      // re-submitted copies of the %8=3 docs under new ids: within-batch
      // duplicates whose original (lower doc_id) must win the argmin
      val batch = d.filter(col("doc_id") % 2 === 1 || col("doc_id") % 4 === 0)
        .unionByName(d.filter(col("doc_id") % 8 === 3)
          .withColumn("doc_id", col("doc_id") + 100000))
        .withColumn("h", md5(col("text")))
      // within-batch: earliest doc per content hash (struct-min argmin)
      val bdd = batch.groupBy("h")
        .agg(min(struct(col("doc_id"), col("text"))).as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"), col("h"))
      val corpusHashes = TxnMergeOnRead.read(s, root).select("h")
      val novel = bdd.join(corpusHashes, Seq("h"), "left_anti")
        .select("doc_id", "text", "h")
      TxnMergeOnRead.insert(s, root, novel)
      TxnMergeOnRead.read(s, root).select("doc_id", "h").orderBy("doc_id")
    },

    // MINOR compaction ([[TxnMergeOnRead.compactMinor]] — the reference's
    // CompactorMR MINOR/MAJOR split): three deltas fold into ONE without
    // touching the base (O(deltas), not O(table)), the fold's version (5)
    // has byte-identical content to the one before it, time travel BELOW
    // the fold still replays (compaction no longer GCs — vacuum owns
    // retention), and a post-fold update stacks on the folded delta. A fold
    // that loses rows, double-applies a delta, or breaks pre-fold replay
    // shifts a row of the version series.
    Qd("q204_dml_minor_compact",
      """WITH t0 AS (SELECT CAST(c_custkey AS BIGINT) AS ck,
        |            round(c_acctbal, 2) AS bal, c_mktsegment AS seg FROM customer),
        |v2 AS (SELECT ck, CASE WHEN seg = 'BUILDING' THEN round(bal + 5, 2)
        |                       ELSE bal END AS bal, seg FROM t0),
        |v3 AS (SELECT ck, bal, seg FROM v2
        |       UNION ALL
        |       SELECT CAST(s_suppkey AS BIGINT) + 500000, 9.99, 'SUPP' FROM supplier),
        |v4 AS (SELECT * FROM v3 WHERE seg <> 'AUTOMOBILE'),
        |v6 AS (SELECT ck, CASE WHEN seg = 'MACHINERY' THEN round(bal + 2, 2)
        |                       ELSE bal END AS bal, seg FROM v4)
        |SELECT 1 AS version, count(*) AS n_rows,
        |       CAST(round(sum(bal), 2) AS DOUBLE) AS total_bal FROM t0
        |UNION ALL SELECT 3, count(*), CAST(round(sum(bal), 2) AS DOUBLE) FROM v3
        |UNION ALL SELECT 4, count(*), CAST(round(sum(bal), 2) AS DOUBLE) FROM v4
        |UNION ALL SELECT 5, count(*), CAST(round(sum(bal), 2) AS DOUBLE) FROM v4
        |UNION ALL SELECT 6, count(*), CAST(round(sum(bal), 2) AS DOUBLE) FROM v6
        |ORDER BY version""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g204_txn"
      TxnMergeOnRead.create(s, root, Engine.table(s, dir, "customer").select(
        col("c_custkey").cast("bigint").as("ck"),
        round(col("c_acctbal"), 2).as("bal"), col("c_mktsegment").as("seg")))
      TxnMergeOnRead.update(s, root,
        Seq("bal" -> "round(bal + 5, 2)"), "seg = 'BUILDING'")
      TxnMergeOnRead.insert(s, root, Engine.table(s, dir, "supplier").select(
        (col("s_suppkey").cast("bigint") + 500000).as("ck"),
        lit(9.99).as("bal"), lit("SUPP").as("seg")))
      TxnMergeOnRead.delete(s, root, "seg = 'AUTOMOBILE'")
      require(TxnMergeOnRead.compactMinor(s, root), "uncontended fold commits")
      TxnMergeOnRead.update(s, root,
        Seq("bal" -> "round(bal + 2, 2)"), "seg = 'MACHINERY'")
      Seq(1L, 3L, 4L, 5L, 6L).map { v =>
        TxnMergeOnRead.readAt(s, root, v).agg(
          count(lit(1)).as("n_rows"),
          round(sum("bal"), 2).cast("double").as("total_bal"))
          .select(lit(v.toInt).as("version"), col("n_rows"), col("total_bal"))
      }.reduce(_ unionByName _).orderBy("version")
    },

    // Three-clause MERGE under the CONCURRENT-writer transaction log
    // ([[TxnMergeOnRead.merge]] — the reference's ACID sqlmerge.q surface
    // with Hive's clause precedence: delete wins over update for a matched
    // row): staged as one delta (delete events for removed/rewritten rows,
    // inserts for new versions + not-matched rows), committed through the
    // row-grain optimistic loop. Same oracle chain as the copy-on-write
    // q113, so the two MERGE strategies are pinned to identical semantics;
    // the trailing CDC read additionally locks the merge's event encoding
    // (every touched row splits into its delete/insert halves).
    Qd("q207_dml_txn_merge",
      """WITH t AS (SELECT c_custkey AS ck, c_name AS nm, round(c_acctbal, 2) AS bal
        |           FROM customer WHERE c_custkey <= 500),
        |s AS (SELECT c_custkey AS ck, round(c_acctbal, 2) + 100 AS nbal
        |      FROM customer WHERE c_custkey BETWEEN 301 AND 800),
        |fin AS (
        |  SELECT t.ck AS ck, t.nm AS nm,
        |         CASE WHEN s.ck IS NOT NULL THEN s.nbal ELSE t.bal END AS bal
        |  FROM t LEFT JOIN s ON t.ck = s.ck
        |  WHERE NOT (s.ck IS NOT NULL AND s.ck % 5 = 0)
        |  UNION ALL
        |  SELECT s.ck, 'new', s.nbal FROM s LEFT JOIN t ON s.ck = t.ck
        |  WHERE t.ck IS NULL)
        |SELECT ck, nm, CAST(bal AS DOUBLE) AS bal FROM fin ORDER BY ck""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g207_txn"
      TxnMergeOnRead.create(s, root, Engine.table(s, dir, "customer")
        .filter(col("c_custkey") <= 500).select(
          col("c_custkey").cast("bigint").as("ck"), col("c_name").as("nm"),
          round(col("c_acctbal"), 2).as("bal")))
      val source = Engine.table(s, dir, "customer")
        .filter(col("c_custkey").between(301, 800))
        .select(col("c_custkey").cast("bigint").as("sck"),
          (round(col("c_acctbal"), 2) + 100).as("nbal"))
      TxnMergeOnRead.merge(s, root, source,
        onCond = "t.ck = s.sck",
        matchedSet = Seq("bal" -> "s.nbal"),
        matchedDelete = Some("s.sck % 5 = 0"),
        notMatchedInsert = Some(Seq(
          "ck" -> "s.sck", "nm" -> "'new'", "bal" -> "s.nbal")))
      TxnMergeOnRead.read(s, root)
        .select(col("ck"), col("nm"), col("bal").cast("double").as("bal"))
        .orderBy("ck")
    },

    // Exactly-once streaming ingest through the transaction log
    // ([[TxnMergeOnRead.insertBatch]] — the reference's Hive Streaming
    // TransactionBatch commit-or-abort, re-expressed for foreachBatch's
    // at-least-once redelivery): each batch's key rides in its log entry,
    // so the deliberately replayed batch-1 finds itself committed and
    // no-ops. A duplicate would double a third of the rows and break the
    // hash against the plain full-table oracle.
    Qd("q209_dml_exactly_once_ingest",
      """SELECT doc_id, md5(text) AS h FROM documents ORDER BY doc_id""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g209_txn"
      val d = Engine.table(s, dir, "documents").select(col("doc_id"), col("text"))
      TxnMergeOnRead.create(s, root, d.filter(col("doc_id") % 3 === 0))
      TxnMergeOnRead.insertBatch(s, root, "batch-1", d.filter(col("doc_id") % 3 === 1))
      // failure replay: the SAME key arrives again (foreachBatch contract)
      TxnMergeOnRead.insertBatch(s, root, "batch-1", d.filter(col("doc_id") % 3 === 1))
      TxnMergeOnRead.insertBatch(s, root, "batch-2", d.filter(col("doc_id") % 3 === 2))
      TxnMergeOnRead.read(s, root).withColumn("h", md5(col("text")))
        .select("doc_id", "h").orderBy("doc_id")
    },

    // Schema evolution on the transaction log ([[TxnMergeOnRead.addColumns]]
    // — the reference's metadata-only ALTER TABLE ADD COLUMNS,
    // schema-on-read): the column lands as one log entry with zero data
    // rewritten, pre-evolution rows read NULL, a post-evolution UPDATE
    // fills it for a slice, and an INSERT arrives already carrying it. The
    // oracle recomputes the final frame declaratively; a reader that drops
    // pre-evolution rows, loses the NULL fill, or misorders columns breaks
    // the hash.
    Qd("q210_dml_schema_evolution",
      """WITH t0 AS (SELECT CAST(n_nationkey AS BIGINT) AS nk, n_name AS nm
        |            FROM nation),
        |fin AS (SELECT nk, nm,
        |          CASE WHEN nk < 12 THEN 'low' ELSE NULL END AS band
        |        FROM t0
        |        UNION ALL
        |        SELECT CAST(r_regionkey AS BIGINT) + 100, r_name, 'region'
        |        FROM region)
        |SELECT nk, nm, band FROM fin ORDER BY nk""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g210_txn"
      TxnMergeOnRead.create(s, root, Engine.table(s, dir, "nation").select(
        col("n_nationkey").cast("bigint").as("nk"), col("n_name").as("nm")))
      TxnMergeOnRead.addColumns(s, root, Seq("band" -> "STRING"))
      TxnMergeOnRead.update(s, root, Seq("band" -> "'low'"), "nk < 12")
      TxnMergeOnRead.insert(s, root, Engine.table(s, dir, "region").select(
        (col("r_regionkey").cast("bigint") + 100).as("nk"),
        col("r_name").as("nm"), lit("region").as("band")))
      TxnMergeOnRead.read(s, root).orderBy("nk")
    },

    // Point-in-time RESTORE ([[TxnMergeOnRead.restore]] — Delta
    // RESTORE/Iceberg rollback as ONE metadata-only log entry): a DELETE
    // is committed and then rolled back, so its victim rows must
    // reappear at the head, and a post-restore UPDATE must see them —
    // while the pre-restore state stays time-travel-readable. A restore
    // that leaks the undone delete (or loses the survived update below
    // the target) breaks the hash.
    Qd("q211_dml_restore",
      """WITH t0 AS (SELECT CAST(c_custkey AS BIGINT) AS ck,
        |            round(c_acctbal, 2) AS bal FROM customer
        |            WHERE c_custkey <= 300),
        |v2 AS (SELECT ck, CASE WHEN ck <= 100 THEN round(bal + 5, 2)
        |                       ELSE bal END AS bal FROM t0),
        |v5 AS (SELECT ck, CASE WHEN ck > 280 THEN round(bal * 2, 2)
        |                       ELSE bal END AS bal FROM v2)
        |SELECT ck, CAST(bal AS DOUBLE) AS bal FROM v5 ORDER BY ck""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g211_txn"
      TxnMergeOnRead.create(s, root, Engine.table(s, dir, "customer")
        .filter(col("c_custkey") <= 300).select(
          col("c_custkey").cast("bigint").as("ck"),
          round(col("c_acctbal"), 2).as("bal")))                       // v1
      TxnMergeOnRead.update(s, root,
        Seq("bal" -> "round(bal + 5, 2)"), "ck <= 100")                // v2
      TxnMergeOnRead.delete(s, root, "ck > 250")                       // v3
      TxnMergeOnRead.restore(s, root, 2L)                              // v4
      TxnMergeOnRead.update(s, root,
        Seq("bal" -> "round(bal * 2, 2)"), "ck > 280")                 // v5
      TxnMergeOnRead.read(s, root)
        .select(col("ck"), col("bal").cast("double").as("bal"))
        .orderBy("ck")
    },

    // Textual DML surface over the transaction log ([[graft.operators
    // .TxnSql]] — the reference's actual ACID interface is SQL:
    // UpdateDeleteSemanticAnalyzer/MergeSemanticAnalyzer REWRITE the
    // statements onto engine operations, and sqlmerge.q is the conformance
    // surface): the same chain as the API queries but driven end-to-end by
    // statement TEXT — UPDATE, DELETE, then a three-clause MERGE INTO with
    // aliases and a USING subquery. The oracle recomputes the final state
    // declaratively; a mis-parsed clause boundary, alias, or precedence
    // (delete beats update) breaks the hash.
    Qd("q216_txn_sql_dml",
      """WITH t0 AS (SELECT CAST(c_custkey AS BIGINT) AS ck,
        |            round(c_acctbal, 2) AS bal, c_mktsegment AS seg
        |            FROM customer WHERE c_custkey <= 400),
        |u1 AS (SELECT ck, CASE WHEN seg = 'BUILDING' THEN round(bal + 10, 2)
        |                       ELSE bal END AS bal, seg FROM t0),
        |d1 AS (SELECT * FROM u1 WHERE NOT (seg = 'AUTOMOBILE' AND ck % 2 = 0)),
        |src AS (SELECT CAST(c_custkey AS BIGINT) AS sck,
        |        round(c_acctbal, 2) + 100 AS nbal
        |        FROM customer WHERE c_custkey BETWEEN 201 AND 600),
        |fin AS (
        |  SELECT d1.ck, CASE WHEN s.sck IS NOT NULL AND s.sck % 2 = 1
        |                     THEN s.nbal ELSE d1.bal END AS bal, d1.seg
        |  FROM d1 LEFT JOIN src s ON d1.ck = s.sck
        |  WHERE NOT (s.sck IS NOT NULL AND s.sck % 7 = 0)
        |  UNION ALL
        |  SELECT s.sck, s.nbal, 'NEW' FROM src s LEFT JOIN d1 ON s.sck = d1.ck
        |  WHERE d1.ck IS NULL AND s.sck <= 550)
        |SELECT ck, CAST(bal AS DOUBLE) AS bal, seg FROM fin ORDER BY ck""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g216_txn"
      val tbl = s"g216_$sf"
      TxnMergeOnRead.create(s, root, Engine.table(s, dir, "customer")
        .filter(col("c_custkey") <= 400).select(
          col("c_custkey").cast("bigint").as("ck"),
          round(col("c_acctbal"), 2).as("bal"),
          col("c_mktsegment").as("seg")))
      graft.operators.TxnSql.register(tbl, root)
      graft.operators.TxnSql.exec(s,
        s"UPDATE $tbl SET bal = round(bal + 10, 2) WHERE seg = 'BUILDING'")
      graft.operators.TxnSql.exec(s,
        s"DELETE FROM $tbl WHERE seg = 'AUTOMOBILE' AND ck % 2 = 0")
      graft.operators.TxnSql.exec(s,
        s"""MERGE INTO $tbl AS t
           |USING (SELECT CAST(c_custkey AS BIGINT) AS sck,
           |       round(c_acctbal, 2) + 100 AS nbal
           |       FROM customer WHERE c_custkey BETWEEN 201 AND 600) AS s
           |ON t.ck = s.sck
           |WHEN MATCHED AND s.sck % 7 = 0 THEN DELETE
           |WHEN MATCHED AND s.sck % 2 = 1 THEN UPDATE SET bal = s.nbal
           |WHEN NOT MATCHED AND s.sck <= 550 THEN INSERT (ck, bal, seg) VALUES (s.sck, s.nbal, 'NEW')""".stripMargin)
      TxnMergeOnRead.read(s, root)
        .select(col("ck"), col("bal").cast("double").as("bal"), col("seg"))
        .orderBy("ck")
    },

    // Incrementally-maintained materialized aggregate over the CDC feed
    // ([[graft.operators.IncrementalAgg]] — Gupta/Mumick delta propagation
    // for distributive aggregates, the consumption pattern changesBetween
    // exists for): one O(table) init, then every refresh folds ONLY the
    // version range's change events into per-group (+1/+x, -1/-x)
    // adjustments — two refreshes across five DML versions here. The
    // oracle recomputes the final aggregate from the replayed table; a
    // sign error, a lost zero-count group, or a double-counted UPDATE
    // (its delete and insert halves must BOTH land) breaks the hash.
    // Sum column is integral-valued (l_quantity), so incremental and
    // from-scratch sums are bit-identical in double.
    Qd("q217_dml_incremental_agg",
      """WITH t0 AS (SELECT CAST(l_orderkey AS BIGINT) AS ok, l_linenumber AS ln,
        |            CAST(l_quantity AS DOUBLE) AS qty, l_returnflag AS rf
        |            FROM lineitem),
        |v2 AS (SELECT ok, ln, CASE WHEN ok % 7 = 0 THEN qty + 5 ELSE qty END AS qty,
        |               rf FROM t0),
        |v3 AS (SELECT * FROM v2 WHERE NOT (rf = 'R' AND ok % 3 = 0)),
        |v4 AS (SELECT * FROM v3
        |       UNION ALL
        |       SELECT ok + 10000000, ln, qty * 2, 'Z' FROM t0 WHERE ok % 11 = 0),
        |v5 AS (SELECT ok, ln, CASE WHEN rf = 'Z' THEN qty - 1 ELSE qty END AS qty,
        |               rf FROM v4),
        |v6 AS (SELECT * FROM v5 WHERE NOT (rf = 'A' AND qty < 10))
        |SELECT rf, CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(qty) AS DOUBLE) AS sum_qty
        |FROM v6 GROUP BY rf ORDER BY rf""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g217_txn"
      val state = s"$loc/g217_agg"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(state))
      val t0 = Engine.table(s, dir, "lineitem").select(
        col("l_orderkey").cast("bigint").as("ok"), col("l_linenumber").as("ln"),
        col("l_quantity").cast("double").as("qty"), col("l_returnflag").as("rf"))
      TxnMergeOnRead.create(s, root, t0)                                  // v1
      graft.operators.IncrementalAgg.init(s, root, state,
        groupCols = Seq("rf"), sumCols = Seq("qty"))
      TxnMergeOnRead.update(s, root, Seq("qty" -> "qty + 5"), "ok % 7 = 0") // v2
      TxnMergeOnRead.delete(s, root, "rf = 'R' AND ok % 3 = 0")             // v3
      TxnMergeOnRead.insert(s, root, t0.filter(col("ok") % 11 === 0).select(
        (col("ok") + 10000000L).as("ok"), col("ln"),
        (col("qty") * 2).as("qty"), lit("Z").as("rf")))                     // v4
      graft.operators.IncrementalAgg.refresh(s, root, state)
      TxnMergeOnRead.update(s, root, Seq("qty" -> "qty - 1"), "rf = 'Z'")   // v5
      TxnMergeOnRead.delete(s, root, "rf = 'A' AND qty < 10")               // v6
      graft.operators.IncrementalAgg.refresh(s, root, state)
      graft.operators.IncrementalAgg.read(s, state)
        .select(col("rf"), col("cnt"), col("sum_qty"))
        .orderBy("rf")
    },

    // Z-order clustered compaction ([[graft.operators.ZOrder]] — Delta's
    // OPTIMIZE ZORDER BY / UB-tree layout; the reference's nearest ideas,
    // bucketing and list bucketing, are single-key): the compaction
    // rewrites the base so every file covers a narrow (partkey, suppkey)
    // rectangle and a 2-D slice skips most files on parquet footer stats
    // (geometry spec-asserted in ZOrderSpec from the files' actual
    // min/max). This query pins CORRECTNESS through the layout change: a
    // 2-D slice + aggregate over the clustered table must match the
    // oracle's direct computation — a clustering that drops, duplicates,
    // or reorders-into-wrong-groups breaks the hash.
    Qd("q218_zorder_compact",
      """WITH t AS (SELECT CAST(l_partkey AS BIGINT) AS pk,
        |            CAST(l_suppkey AS BIGINT) AS sk,
        |            CAST(l_quantity AS DOUBLE) AS qty FROM lineitem)
        |SELECT pk, CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(qty) AS DOUBLE) AS sum_qty
        |FROM t WHERE pk BETWEEN 100 AND 500 AND sk BETWEEN 10 AND 60
        |GROUP BY pk ORDER BY pk""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g218_txn"
      TxnMergeOnRead.create(s, root, Engine.table(s, dir, "lineitem").select(
        col("l_partkey").cast("bigint").as("pk"),
        col("l_suppkey").cast("bigint").as("sk"),
        col("l_quantity").cast("double").as("qty")))
      require(TxnMergeOnRead.compact(s, root,
        clusterBy = Seq("pk", "sk"), clusterFiles = 16),
        "uncontended clustered compaction commits")
      TxnMergeOnRead.read(s, root)
        .filter(col("pk").between(100, 500) && col("sk").between(10, 60))
        .groupBy("pk")
        .agg(count(lit(1)).as("cnt"), sum("qty").cast("double").as("sum_qty"))
        .orderBy("pk")
    },

    // Textual INSERT + SELECT surface over the transaction log
    // ([[graft.operators.TxnSql.rewriteReads]]): INSERT INTO ... VALUES
    // (multi-tuple, positional), INSERT INTO (cols) SELECT (missing column
    // fills a typed NULL — the schema-evolution reader's rule), and a final
    // SELECT that reads the registered table by NAME, joining the current
    // snapshot against `VERSION AS OF 1` time travel in one statement (the
    // Delta/Iceberg SELECT shape). The oracle replays the chain
    // declaratively; a mis-filled NULL, a coerced-wrong literal type, or a
    // time-travel view pinned to the wrong version breaks the hash.
    Qd("q219_txn_sql_select",
      """WITH v1 AS (SELECT CAST(c_custkey AS BIGINT) AS ck,
        |            round(c_acctbal, 2) AS bal, c_mktsegment AS seg
        |            FROM customer WHERE c_custkey <= 300),
        |ins1 AS (SELECT * FROM v1
        |         UNION ALL SELECT 9001, 111.5, 'NEW'
        |         UNION ALL SELECT 9002, 222.25, 'NEW'),
        |ins2 AS (SELECT * FROM ins1
        |         UNION ALL
        |         SELECT CAST(c_custkey AS BIGINT), round(c_acctbal, 2), NULL
        |         FROM customer WHERE c_custkey BETWEEN 301 AND 350),
        |v4 AS (SELECT ck, CASE WHEN seg = 'NEW' THEN round(bal * 2, 2)
        |                       ELSE bal END AS bal, seg FROM ins2)
        |SELECT v4.ck AS ck, CAST(v4.bal AS DOUBLE) AS bal, v4.seg AS seg,
        |       CAST(o.bal AS DOUBLE) AS bal_v1
        |FROM v4 LEFT JOIN v1 o ON v4.ck = o.ck ORDER BY ck""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g219_txn"
      val tbl = s"g219_$sf"
      TxnMergeOnRead.create(s, root, Engine.table(s, dir, "customer")
        .filter(col("c_custkey") <= 300).select(
          col("c_custkey").cast("bigint").as("ck"),
          round(col("c_acctbal"), 2).as("bal"),
          col("c_mktsegment").as("seg")))                                // v1
      graft.operators.TxnSql.register(tbl, root)
      Engine.sql(s, dir,
        s"INSERT INTO $tbl VALUES (9001, 111.5, 'NEW'), (9002, 222.25, 'NEW')") // v2
      Engine.sql(s, dir,
        s"""INSERT INTO $tbl (ck, bal)
           |SELECT CAST(c_custkey AS BIGINT), round(c_acctbal, 2)
           |FROM customer WHERE c_custkey BETWEEN 301 AND 350""".stripMargin) // v3
      Engine.sql(s, dir,
        s"UPDATE $tbl SET bal = round(bal * 2, 2) WHERE seg = 'NEW'")    // v4
      Engine.sql(s, dir,
        s"""SELECT cur.ck AS ck, CAST(cur.bal AS DOUBLE) AS bal,
           |       cur.seg AS seg, CAST(o.bal AS DOUBLE) AS bal_v1
           |FROM $tbl cur LEFT JOIN $tbl VERSION AS OF 1 o ON cur.ck = o.ck
           |ORDER BY ck""".stripMargin)
    },

    // Materialized view with incremental REBUILD and transparent rewrite
    // ([[graft.operators.MatView]] — the reference era carries only the
    // materializedTable stub, Table.java:97; the finished Hive shape
    // rebuilds by full recompute, ours folds the CDC range via
    // IncrementalAgg): CREATE MATERIALIZED VIEW on (rf, ls), two DML
    // versions, one incremental REBUILD, then a ROLLUP query — group
    // subset (rf), WHERE on a group col (ls), count/sum/avg — answered
    // from the state parquet (require()d on the plan: the base table must
    // not be scanned). The oracle recomputes from the replayed table; a
    // wrong rollup derivation (avg = sum_x/cnt), a stale state, or a
    // mis-folded delta breaks the hash. qty is integral-valued, so sums
    // are order-exact in double and avg divides identical numerators.
    Qd("q220_mat_view_rewrite",
      """WITH t0 AS (SELECT CAST(l_orderkey AS BIGINT) AS ok,
        |            CAST(l_quantity AS DOUBLE) AS qty,
        |            l_returnflag AS rf, l_linestatus AS ls FROM lineitem),
        |v2 AS (SELECT ok, CASE WHEN ok % 7 = 0 THEN qty + 5 ELSE qty END AS qty,
        |               rf, ls FROM t0),
        |v3 AS (SELECT * FROM v2 WHERE NOT (rf = 'R' AND ok % 3 = 0))
        |SELECT rf, count(*) AS cnt, CAST(sum(qty) AS DOUBLE) AS sum_qty,
        |       CAST(avg(qty) AS DOUBLE) AS avg_qty
        |FROM v3 WHERE ls = 'F' GROUP BY rf ORDER BY rf""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g220_txn"
      val tbl = s"g220_$sf"
      val mv = s"mv220_$sf"
      TxnMergeOnRead.create(s, root, Engine.table(s, dir, "lineitem").select(
        col("l_orderkey").cast("bigint").as("ok"),
        col("l_quantity").cast("double").as("qty"),
        col("l_returnflag").as("rf"), col("l_linestatus").as("ls")))
      graft.operators.TxnSql.register(tbl, root)
      Engine.sql(s, dir, s"CREATE MATERIALIZED VIEW $mv AS " +
        s"SELECT rf, ls, count(*) AS c, sum(qty) AS sq FROM $tbl GROUP BY rf, ls")
      Engine.sql(s, dir, s"UPDATE $tbl SET qty = qty + 5 WHERE ok % 7 = 0")
      Engine.sql(s, dir, s"DELETE FROM $tbl WHERE rf = 'R' AND ok % 3 = 0")
      Engine.sql(s, dir, s"ALTER MATERIALIZED VIEW $mv REBUILD")
      val out = Engine.sql(s, dir,
        s"""SELECT rf, count(*) AS cnt, sum(qty) AS sum_qty, avg(qty) AS avg_qty
           |FROM $tbl WHERE ls = 'F' GROUP BY rf ORDER BY rf""".stripMargin)
      require(out.queryExecution.sparkPlan.toString.contains("_mv_"),
        "q220 must be ANSWERED FROM the materialized view state")
      out
    },

    // CDC replication ([[graft.operators.ChangeFeed]] — the reference's
    // REPL DUMP/LOAD event replay, ReplicationSpec.java:33, re-expressed
    // over changesBetween): a replica bootstraps once, then each sync
    // consumes ONLY the cursor..head change range and applies it as one
    // three-clause guarded MERGE (changesBetween's rid netting leaves at
    // most one action per key). Two syncs across four DML versions here;
    // the oracle recomputes the source's final state declaratively and the
    // query returns the REPLICA — a lost delete, doubled upsert, or wrong
    // net (update's old-half delete must not win over its insert) breaks
    // the hash.
    Qd("q222_cdc_replication",
      """WITH t0 AS (SELECT CAST(c_custkey AS BIGINT) AS ck,
        |            round(c_acctbal, 2) AS bal, c_mktsegment AS seg
        |            FROM customer WHERE c_custkey <= 400),
        |u1 AS (SELECT ck, CASE WHEN seg = 'BUILDING' THEN round(bal + 10, 2)
        |                       ELSE bal END AS bal, seg FROM t0),
        |d1 AS (SELECT * FROM u1 WHERE ck % 10 <> 0),
        |i1 AS (SELECT * FROM d1
        |       UNION ALL
        |       SELECT CAST(c_custkey AS BIGINT), round(c_acctbal, 2), 'NEW'
        |       FROM customer WHERE c_custkey BETWEEN 401 AND 450),
        |u2 AS (SELECT ck, CASE WHEN ck > 420 THEN round(bal * 2, 2)
        |                       ELSE bal END AS bal, seg FROM i1)
        |SELECT ck, CAST(bal AS DOUBLE) AS bal, seg
        |FROM u2 ORDER BY ck""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val src = s"$loc/g222_src"
      val dst = s"$loc/g222_dst"
      val ckpt = s"$loc/g222_ckpt"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      TxnMergeOnRead.create(s, src, Engine.table(s, dir, "customer")
        .filter(col("c_custkey") <= 400).select(
          col("c_custkey").cast("bigint").as("ck"),
          round(col("c_acctbal"), 2).as("bal"),
          col("c_mktsegment").as("seg")))                               // v1
      graft.operators.ChangeFeed.init(s, src, dst, ckpt)
      TxnMergeOnRead.update(s, src,
        Seq("bal" -> "round(bal + 10, 2)"), "seg = 'BUILDING'")         // v2
      TxnMergeOnRead.delete(s, src, "ck % 10 = 0")                      // v3
      graft.operators.ChangeFeed.sync(s, src, dst, ckpt, Seq("ck"))
      TxnMergeOnRead.insert(s, src, Engine.table(s, dir, "customer")
        .filter(col("c_custkey").between(401, 450)).select(
          col("c_custkey").cast("bigint").as("ck"),
          round(col("c_acctbal"), 2).as("bal"),
          lit("NEW").as("seg")))                                        // v4
      TxnMergeOnRead.update(s, src,
        Seq("bal" -> "round(bal * 2, 2)"), "ck > 420")                  // v5
      graft.operators.ChangeFeed.sync(s, src, dst, ckpt, Seq("ck"))
      TxnMergeOnRead.read(s, dst)
        .select(col("ck"), col("bal").cast("double").as("bal"), col("seg"))
        .orderBy("ck")
    },

    // SQL-ONLY lifecycle capstone: every statement here goes through
    // Engine.sql — CREATE TRANSACTIONAL TABLE … AS registers the table in
    // the same statement that creates it, then INSERT VALUES, UPDATE, a
    // guarded three-clause MERGE, and the final SELECT, with zero API
    // calls. This is the experience a reference user has (their ACID
    // surface IS statement text); the oracle replays the chain
    // declaratively.
    Qd("q234_txn_sql_lifecycle",
      """WITH t0 AS (SELECT CAST(c_custkey AS BIGINT) AS ck,
        |            round(c_acctbal, 2) AS bal, c_mktsegment AS seg
        |            FROM customer WHERE c_custkey <= 350),
        |i1 AS (SELECT * FROM t0
        |       UNION ALL SELECT 9001, 50.0, 'NEW'
        |       UNION ALL SELECT 9002, 60.0, 'NEW'),
        |u1 AS (SELECT ck, CASE WHEN seg = 'MACHINERY' THEN round(bal - 5, 2)
        |                       ELSE bal END AS bal, seg FROM i1),
        |src AS (SELECT CAST(c_custkey AS BIGINT) AS sck,
        |        round(c_acctbal, 2) AS sbal
        |        FROM customer WHERE c_custkey BETWEEN 301 AND 420),
        |fin AS (
        |  SELECT u1.ck, CASE WHEN s.sck IS NOT NULL AND s.sck % 2 = 0
        |                     THEN round(s.sbal + 1, 2) ELSE u1.bal END AS bal,
        |         u1.seg
        |  FROM u1 LEFT JOIN src s ON u1.ck = s.sck
        |  WHERE NOT (s.sck IS NOT NULL AND s.sck % 5 = 0)
        |  UNION ALL
        |  SELECT s.sck, round(s.sbal + 1, 2), 'X'
        |  FROM src s LEFT JOIN u1 ON s.sck = u1.ck WHERE u1.ck IS NULL)
        |SELECT ck, CAST(bal AS DOUBLE) AS bal, seg FROM fin ORDER BY ck""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val tbl = s"g234_$sf"
      Engine.sql(s, dir,
        s"""CREATE TRANSACTIONAL TABLE $tbl LOCATION '$loc/g234_txn' AS
           |SELECT CAST(c_custkey AS BIGINT) AS ck, round(c_acctbal, 2) AS bal,
           |       c_mktsegment AS seg
           |FROM customer WHERE c_custkey <= 350""".stripMargin)        // v1
      Engine.sql(s, dir,
        s"INSERT INTO $tbl VALUES (9001, 50.0, 'NEW'), (9002, 60.0, 'NEW')") // v2
      Engine.sql(s, dir,
        s"UPDATE $tbl SET bal = round(bal - 5, 2) WHERE seg = 'MACHINERY'")  // v3
      Engine.sql(s, dir,
        s"""MERGE INTO $tbl AS t
           |USING (SELECT CAST(c_custkey AS BIGINT) AS sck,
           |       round(c_acctbal, 2) AS sbal
           |       FROM customer WHERE c_custkey BETWEEN 301 AND 420) AS s
           |ON t.ck = s.sck
           |WHEN MATCHED AND s.sck % 5 = 0 THEN DELETE
           |WHEN MATCHED AND s.sck % 2 = 0 THEN UPDATE SET bal = round(s.sbal + 1, 2)
           |WHEN NOT MATCHED THEN INSERT (ck, bal, seg)
           |  VALUES (s.sck, round(s.sbal + 1, 2), 'X')""".stripMargin) // v4
      Engine.sql(s, dir,
        s"SELECT ck, CAST(bal AS DOUBLE) AS bal, seg FROM $tbl ORDER BY ck")
    },

    // Materialized view with MIN/MAX maintenance (q220's shape widened —
    // min/max are NOT self-maintainable under deletion, so the
    // incremental REBUILD recomputes exactly the groups the range deleted
    // from, one semi-joined scan; [[graft.operators.IncrementalAgg]]).
    // The delete wave (~1% spread across every group) forces the
    // touched-group recompute everywhere, the update wave rides the
    // normal delta fold, and the final rollup (group subset + filter +
    // min/max/count/sum/avg) is require()d to come from the state
    // parquet. A stale extremum (the departed row WAS a max) breaks the
    // hash.
    Qd("q235_mat_view_minmax",
      """WITH t0 AS (SELECT CAST(l_orderkey AS BIGINT) AS ok,
        |            CAST(l_quantity AS DOUBLE) AS qty,
        |            l_returnflag AS rf, l_linestatus AS ls FROM lineitem),
        |v2 AS (SELECT * FROM t0 WHERE NOT (ok % 1000 >= 990)),
        |v3 AS (SELECT ok, CASE WHEN qty < 5 THEN qty + 1 ELSE qty END AS qty,
        |               rf, ls FROM v2)
        |SELECT rf, CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(qty) AS DOUBLE) AS sum_qty,
        |       CAST(min(ok) AS BIGINT) AS min_ok,
        |       CAST(max(ok) AS BIGINT) AS max_ok
        |FROM v3 WHERE ls = 'F' GROUP BY rf ORDER BY rf""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g235_txn"
      val tbl = s"g235_$sf"
      val mv = s"mv235_$sf"
      TxnMergeOnRead.create(s, root, Engine.table(s, dir, "lineitem").select(
        col("l_orderkey").cast("bigint").as("ok"),
        col("l_quantity").cast("double").as("qty"),
        col("l_returnflag").as("rf"), col("l_linestatus").as("ls")))
      graft.operators.TxnSql.register(tbl, root)
      Engine.sql(s, dir, s"CREATE MATERIALIZED VIEW $mv AS " +
        s"SELECT rf, ls, count(*) AS c, sum(qty) AS sq, " +
        s"min(ok) AS mn, max(ok) AS mx FROM $tbl GROUP BY rf, ls")
      Engine.sql(s, dir, s"DELETE FROM $tbl WHERE ok % 1000 >= 990")
      Engine.sql(s, dir, s"UPDATE $tbl SET qty = qty + 1 WHERE qty < 5")
      Engine.sql(s, dir, s"ALTER MATERIALIZED VIEW $mv REBUILD")
      val out = Engine.sql(s, dir,
        s"""SELECT rf, count(*) AS cnt, sum(qty) AS sum_qty,
           |       min(ok) AS min_ok, max(ok) AS max_ok
           |FROM $tbl WHERE ls = 'F' GROUP BY rf ORDER BY rf""".stripMargin)
      require(out.queryExecution.sparkPlan.toString.contains("_mv_"),
        "q235 must be ANSWERED FROM the materialized view state")
      out
    },

    // CHECK constraints on the txn table (Delta ALTER TABLE ADD
    // CONSTRAINT; the reference era has only RELY NOVALIDATE
    // informational PK/FK — no enforced row predicate): ADD validates the
    // existing table once, then every write checks its STAGED rows only.
    // The chain commits compliant DML around a REJECTED statement (the
    // negative-balance update must throw naming the constraint and leave
    // NO trace — a silently-committed or half-applied rejection breaks
    // the hash), then drops the constraint and commits what it previously
    // blocked.
    Qd("q239_txn_constraints",
      """WITH t0 AS (SELECT CAST(c_custkey AS BIGINT) AS ck,
        |            round(c_acctbal, 2) AS bal, c_mktsegment AS seg
        |            FROM customer WHERE c_custkey <= 300),
        |u1 AS (SELECT ck, round(bal + 50, 2) AS bal, seg FROM t0
        |       WHERE seg = 'BUILDING'
        |       UNION ALL SELECT ck, bal, seg FROM t0 WHERE seg <> 'BUILDING'),
        |u2 AS (SELECT ck, CASE WHEN ck <= 50 THEN round(bal - 20000, 2)
        |                       ELSE bal END AS bal, seg FROM u1)
        |SELECT ck, CAST(bal AS DOUBLE) AS bal, seg FROM u2 ORDER BY ck""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g239_txn"
      val tbl = s"g239_$sf"
      TxnMergeOnRead.create(s, root, Engine.table(s, dir, "customer")
        .filter(col("c_custkey") <= 300).select(
          col("c_custkey").cast("bigint").as("ck"),
          round(col("c_acctbal"), 2).as("bal"),
          col("c_mktsegment").as("seg")))                               // v1
      graft.operators.TxnSql.register(tbl, root)
      Engine.sql(s, dir,
        s"ALTER TABLE $tbl ADD CONSTRAINT bal_floor CHECK (bal > -1000)") // v2
      Engine.sql(s, dir,
        s"UPDATE $tbl SET bal = round(bal + 50, 2) WHERE seg = 'BUILDING'") // v3
      val rejected =
        try { Engine.sql(s, dir,
          s"UPDATE $tbl SET bal = round(bal - 20000, 2) WHERE ck <= 50"); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("bal_floor") }
      require(rejected, "the violating UPDATE must throw naming bal_floor")
      require(TxnMergeOnRead.currentVersion(s, root) == 3L,
        "a rejected statement must leave NO committed trace")
      Engine.sql(s, dir, s"ALTER TABLE $tbl DROP CONSTRAINT bal_floor")   // v4
      Engine.sql(s, dir,
        s"UPDATE $tbl SET bal = round(bal - 20000, 2) WHERE ck <= 50")    // v5
      Engine.sql(s, dir,
        s"SELECT ck, CAST(bal AS DOUBLE) AS bal, seg FROM $tbl ORDER BY ck")
    },

    // File-level data skipping on the txn table ([[DataSkipping]] +
    // [[TxnMergeOnRead.readPruned]]): time-ordered ingest (one insert per
    // year) gives each delta a tight o_orderdate interval, so the 1998
    // band prunes the base (1995–96) and four of the five deltas from
    // METADATA alone; then a z-order-clustered compaction
    // (`compact(clusterBy = ck, price)`) makes a 2-D (ck, price) band
    // prune most of the rewritten base's files. Both profiles are
    // require()d (kept < total — no skipping, no pass), and both pruned
    // reads must equal the plain filtered scan the oracle computes,
    // deletes applied: a skipped file that actually contained matching
    // rows breaks the hash.
    Qd("q240_txn_data_skipping",
      """WITH t AS (SELECT CAST(o_orderkey AS BIGINT) AS ok,
        |           CAST(o_custkey AS BIGINT) AS ck,
        |           round(o_totalprice, 2) AS price, o_orderdate AS od,
        |           o_orderpriority AS pri FROM orders),
        |live AS (SELECT * FROM t WHERE ok % 97 <> 0)
        |SELECT pri AS grp, CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(round(sum(price), 2) AS DOUBLE) AS sval
        |FROM live
        |WHERE od BETWEEN TIMESTAMP '1998-01-01 00:00:00'
        |             AND TIMESTAMP '1998-12-31 23:59:59.999999'
        |GROUP BY pri
        |UNION ALL
        |SELECT 'zz_ck_price', CAST(count(*) AS BIGINT),
        |       CAST(round(sum(price), 2) AS DOUBLE)
        |FROM live WHERE ck BETWEEN 100 AND 500
        |            AND price BETWEEN 50000 AND 150000
        |ORDER BY grp""") { (s, dir) =>
      import graft.operators.DataSkipping.Band
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g240_txn"
      val orders = Engine.table(s, dir, "orders").select(
        col("o_orderkey").cast("bigint").as("ok"),
        col("o_custkey").cast("bigint").as("ck"),
        round(col("o_totalprice"), 2).as("price"),
        col("o_orderdate").as("od"),
        col("o_orderpriority").as("pri"))
      TxnMergeOnRead.create(s, root, orders.filter(year(col("od")) <= 1996))
      (1997 to 2001).foreach { y =>
        TxnMergeOnRead.insert(s, root, orders.filter(year(col("od")) === y))
      }
      TxnMergeOnRead.delete(s, root, "ok % 97 = 0")
      TxnMergeOnRead.analyze(s, root)
      val odBand = Seq(Band("od",
        java.sql.Timestamp.valueOf("1998-01-01 00:00:00"),
        java.sql.Timestamp.valueOf("1998-12-31 23:59:59.999999")))
      val p1 = TxnMergeOnRead.scanProfile(s, root, odBand)
      require(p1._1 < p1._2, s"time band must skip files, scanned $p1")
      val r1 = TxnMergeOnRead.readPruned(s, root, odBand)
        .groupBy(col("pri").as("grp"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("price")), 2).cast("double").as("sval"))
      require(TxnMergeOnRead.compact(s, root,
        clusterBy = Seq("ck", "price"), clusterFiles = 16), "compact raced")
      val ckBand = Seq(Band("ck", 100L, 500L), Band("price", 50000.0, 150000.0))
      val p2 = TxnMergeOnRead.scanProfile(s, root, ckBand)
      require(p2._1 < p2._2, s"2-D band must skip z-ordered files, scanned $p2")
      val r2 = TxnMergeOnRead.readPruned(s, root, ckBand)
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("price")), 2).cast("double").as("sval"))
        .select(lit("zz_ck_price").as("grp"), col("cnt"), col("sval"))
      r1.select(col("grp"), col("cnt"), col("sval"))
        .unionByName(r2).orderBy("grp")
    },

    // Generated columns on the txn table
    // ([[TxnMergeOnRead.createGenerated]] — Delta GENERATED ALWAYS AS):
    // `day`/`vband` are declared once and from then on COMPUTED on every
    // write that omits them (the insert and the batch insert below ship
    // only data columns), VERIFIED when supplied (the inconsistent insert
    // throws naming __gen_vband and leaves no committed trace —
    // version-count require()d), and RECOMPUTED by UPDATE after SET (a
    // stale vband would fail its own reserved CHECK, so the update
    // passing IS the recompute proof). Materialized values mean file
    // stats apply: the day band prunes the late-day deltas before
    // compaction and most z-ordered files after (both profiles
    // require()d) — the `date GENERATED ALWAYS AS (CAST(ts AS DATE))`
    // partition-pruning idiom with no partition layout. The oracle
    // computes both expressions inline over the same logical state.
    Qd("q245_txn_generated_columns",
      """WITH t AS (SELECT event_id, ts, user_id,
        |  CASE WHEN user_id % 10 = 3 THEN round(value * 2, 4)
        |       ELSE value END AS value
        |  FROM events),
        |g AS (SELECT CAST(ts AS DATE) AS day,
        |  CAST(floor(value) AS BIGINT) AS vband, value FROM t)
        |SELECT day, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(vband) AS BIGINT) AS sv_band, round(sum(value), 4) AS sv
        |FROM g WHERE day BETWEEN DATE '2024-01-10' AND DATE '2024-01-14'
        |GROUP BY day ORDER BY day""") { (s, dir) =>
      import graft.operators.DataSkipping.Band
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g245_txn"
      val ev = Engine.table(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      TxnMergeOnRead.createGenerated(s, root,
        ev.filter(dayofmonth(col("ts")) <= 20),
        Seq("day" -> "CAST(ts AS DATE)",
          "vband" -> "CAST(floor(value) AS BIGINT)"))            // v1..v3
      TxnMergeOnRead.insert(s, root,
        ev.filter(dayofmonth(col("ts")).between(21, 25)))        // v4: day/vband computed
      TxnMergeOnRead.insertBatch(s, root, "g245_b1",
        ev.filter(dayofmonth(col("ts")) >= 26))                  // v5: computed
      val vBefore = TxnMergeOnRead.currentVersion(s, root)
      val rejected = try {
        TxnMergeOnRead.insert(s, root, ev.limit(5)
          .withColumn("day", expr("CAST(ts AS DATE)"))
          .withColumn("vband", expr("CAST(floor(value) AS BIGINT) + 1")))
        false
      } catch { case e: IllegalArgumentException =>
        e.getMessage.contains("__gen_vband") }
      require(rejected, "inconsistent generated value must throw naming __gen_vband")
      require(TxnMergeOnRead.currentVersion(s, root) == vBefore,
        "a rejected INSERT must leave NO committed trace")
      TxnMergeOnRead.update(s, root,
        Seq("value" -> "round(value * 2, 4)"), "user_id % 10 = 3")
      TxnMergeOnRead.analyze(s, root)
      val band = Seq(Band("day", java.sql.Date.valueOf("2024-01-10"),
        java.sql.Date.valueOf("2024-01-14")))
      val p1 = TxnMergeOnRead.scanProfile(s, root, band)
      require(p1._1 < p1._2, s"day band must prune late-day deltas, scanned $p1")
      require(TxnMergeOnRead.compact(s, root, clusterBy = Seq("day", "user_id"),
        clusterFiles = 16), "compact raced")
      val p2 = TxnMergeOnRead.scanProfile(s, root, band)
      require(p2._1 < p2._2, s"day band must prune z-ordered files, scanned $p2")
      TxnMergeOnRead.readPruned(s, root, band)
        .groupBy("day")
        .agg(count(lit(1)).as("cnt"), sum(col("vband")).as("sv_band"),
          round(sum(col("value")), 4).as("sv"))
        .orderBy("day")
    },

    // Per-file Bloom index ([[graft.operators.BloomIndex]] — Delta's
    // bloom filter index / the reference's ORC bloom filters consulted
    // from a metadata sidecar instead of an opened reader per file): the
    // point-lookup case min/max stats CANNOT prune. events lands in 24
    // files hashed by user_id, so each file's event_id [min,max] spans
    // nearly the whole domain — range skipping keeps everything (asserted
    // below), while the Bloom probe keeps only the files that may hold
    // the 3 probed ids (+1 absent id). The pruned read must equal the
    // plain IN-filter scan — a false positive costs a file, never a row.
    Qd("q246_bloom_point_lookup",
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE event_id IN (5, 777, 953, -5)
        |ORDER BY event_id""") { (s, dir) =>
      import graft.operators.{BloomIndex, DataSkipping}
      val (sf, loc) = ctx(s, dir)
      val out = s"$loc/g246_bloom"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      Engine.table(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .repartition(24, col("user_id"))
        .write.parquet(out)
      // auto-sized bits: the fixed default saturates at ×64 (267k
      // rows/file vs 2^17 bits = 0.5 bits/key, zero pruning — measured)
      BloomIndex.collectAuto(s, out, Seq("event_id"))
      DataSkipping.collect(s, out)
      val keys = Seq(5L, 777L, 953L, -5L)
      // the honest comparison on a hashed layout: the min/max union over
      // the same keys (what range stats CAN do for an IN list) keeps far
      // more files than the Bloom probe — wide per-file id spans admit
      // most mid-domain points, while the hash rejects them exactly
      val mm = keys.flatMap(v => DataSkipping.survivors(s, out,
        Seq(DataSkipping.Band("event_id", v, v))).get).toSet.size
      val kept = BloomIndex.survivors(s, out, "event_id", keys).get.size
      require(kept < 24, s"bloom probe must prune, kept $kept/24")
      require(kept < mm, s"bloom ($kept files) must beat range stats ($mm)")
      BloomIndex.readPruned(s, out, "event_id", keys).orderBy("event_id")
    },

    // Schema evolution ON WRITE ([[TxnMergeOnRead.insert]] mergeSchema —
    // Delta's mergeSchema=true): the second ingest wave carries a column
    // the table has never seen; ONE log entry declares it and lands the
    // rows (no window where data is visible without its column), earlier
    // rows read NULL, and the evolved column is immediately usable as an
    // UPDATE predicate. The oracle rebuilds the same state with an
    // explicit NULL-typed union.
    Qd("q248_txn_merge_schema",
      """WITH lo AS (SELECT CAST(s_suppkey AS BIGINT) AS sk, s_name AS name,
        |            CAST(NULL AS BIGINT) AS bal_band
        |            FROM supplier WHERE s_suppkey % 2 = 0),
        |hi AS (SELECT CAST(s_suppkey AS BIGINT), s_name,
        |       CAST(floor(s_acctbal) AS BIGINT)
        |       FROM supplier WHERE s_suppkey % 2 = 1),
        |u AS (SELECT * FROM lo UNION ALL SELECT * FROM hi)
        |SELECT sk, CASE WHEN bal_band IS NULL THEN upper(name)
        |                ELSE name END AS name, bal_band
        |FROM u ORDER BY sk""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g248_txn"
      val sup = Engine.table(s, dir, "supplier")
      TxnMergeOnRead.create(s, root, sup.filter(col("s_suppkey") % 2 === 0)
        .select(col("s_suppkey").cast("bigint").as("sk"),
          col("s_name").as("name")))
      TxnMergeOnRead.insert(s, root, sup.filter(col("s_suppkey") % 2 === 1)
        .select(col("s_suppkey").cast("bigint").as("sk"),
          col("s_name").as("name"),
          floor(col("s_acctbal")).cast("bigint").as("bal_band")),
        mergeSchema = true)
      TxnMergeOnRead.update(s, root,
        Seq("name" -> "upper(name)"), "bal_band IS NULL")
      TxnMergeOnRead.read(s, root).orderBy("sk")
    },

    // Bloom point lookup ON THE ACID TABLE ([[TxnMergeOnRead.analyzeBloom]]
    // / [[TxnMergeOnRead.readPrunedPoint]] — q246's index composed with
    // the snapshot assembly): per-dir auto-sized Bloom sidecars over the
    // base and every insert delta, key probes prune files from metadata
    // while DELETES ALWAYS APPLY IN FULL — so the probe of a deleted key
    // returns nothing even though its file survives the index, and a live
    // key's row reflects every UPDATE. The require()d profile proves the
    // probe touched a fraction of the table's files.
    Qd("q252_txn_bloom_lookup",
      """WITH t AS (SELECT CAST(o_orderkey AS BIGINT) AS ok,
        |           CAST(o_custkey AS BIGINT) AS ck,
        |           round(o_totalprice, 2) AS price FROM orders),
        |live AS (SELECT ok, ck,
        |           CASE WHEN ok % 11 = 0 THEN round(price + 1000, 2)
        |                ELSE price END AS price
        |         FROM t WHERE ok % 13 <> 0)
        |SELECT ok, ck, CAST(price AS DOUBLE) AS price FROM live
        |WHERE ok IN (1, 7, 33, 13, 52)
        |ORDER BY ok""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g252_txn"
      val orders = Engine.table(s, dir, "orders").select(
        col("o_orderkey").cast("bigint").as("ok"),
        col("o_custkey").cast("bigint").as("ck"),
        round(col("o_totalprice"), 2).as("price"))
      TxnMergeOnRead.create(s, root, orders.filter(col("ok") % 3 === 0))
      TxnMergeOnRead.insert(s, root, orders.filter(col("ok") % 3 === 1))
      TxnMergeOnRead.insert(s, root, orders.filter(col("ok") % 3 === 2))
      TxnMergeOnRead.update(s, root,
        Seq("price" -> "round(price + 1000, 2)"), "ok % 11 = 0")
      TxnMergeOnRead.delete(s, root, "ok % 13 = 0")
      TxnMergeOnRead.analyzeBloom(s, root, Seq("ok"))
      // 1,7,33 live; 13 and 52 = 4*13 deleted (their file survives the
      // index, the delete anti-join must still erase them); 33 = 3*11
      // updated (probe must see the NEW price). Every probed key is
      // ok % 3 <> 2, so the ok % 3 = 2 delta holds none and is pruned
      val keys = Seq(1L, 7L, 33L, 13L, 52L)
      val p = TxnMergeOnRead.scanProfilePoint(s, root, "ok", keys)
      require(p._1 < p._2, s"point probe must prune files, scanned $p")
      TxnMergeOnRead.readPrunedPoint(s, root, "ok", keys)
        .select(col("ok"), col("ck"), col("price").cast("double").as("price"))
        .orderBy("ok")
    },

    // Textual OPTIMIZE ([[graft.operators.TxnSql]] — Delta's `OPTIMIZE …
    // ZORDER BY` statement): a pure-SQL session mutates the table, then
    // one statement rewrites the layout (content-preserving, require()d
    // via the 2-D scan profile: the z-ordered base must prune a (ck,
    // price) slice that the pre-compaction ingest layout cannot), and the
    // final SELECT over the pruned read hash-matches the oracle's plain
    // filtered aggregate.
    Qd("q254_txn_optimize_sql",
      """WITH t AS (SELECT CAST(o_orderkey AS BIGINT) AS ok,
        |           CAST(o_custkey AS BIGINT) AS ck,
        |           round(o_totalprice, 2) AS price FROM orders),
        |u AS (SELECT ok, ck, CASE WHEN ok % 7 = 0
        |        THEN round(price * 1.1, 2) ELSE price END AS price FROM t)
        |SELECT CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(round(sum(price), 2) AS DOUBLE) AS sval
        |FROM u WHERE ck BETWEEN 100 AND 400
        |         AND price BETWEEN 40000 AND 160000""") { (s, dir) =>
      import graft.operators.DataSkipping.Band
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g254_txn"
      val tbl = s"g254_$sf"
      TxnMergeOnRead.create(s, root, Engine.table(s, dir, "orders").select(
        col("o_orderkey").cast("bigint").as("ok"),
        col("o_custkey").cast("bigint").as("ck"),
        round(col("o_totalprice"), 2).as("price")))                    // v1
      graft.operators.TxnSql.register(tbl, root)
      Engine.sql(s, dir,
        s"UPDATE $tbl SET price = round(price * 1.1, 2) WHERE ok % 7 = 0") // v2
      Engine.sql(s, dir, s"OPTIMIZE $tbl ZORDER BY (ck, price) FILES 16") // v3
      TxnMergeOnRead.analyze(s, root)
      val bands = Seq(Band("ck", 100L, 400L), Band("price", 40000.0, 160000.0))
      val p = TxnMergeOnRead.scanProfile(s, root, bands)
      require(p._1 < p._2, s"z-ordered 2-D slice must prune files, scanned $p")
      TxnMergeOnRead.readPruned(s, root, bands)
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("price")), 2).cast("double").as("sval"))
    },

    // Textual secondary-index DDL ([[graft.operators.TxnSql]] — the
    // reference's CREATE INDEX surface, `CompactIndexHandler.java:69`):
    // a pure-SQL session builds and mutates the table, z-orders it, then
    // declares a BLOOM index (point lookups) and a DEFERRED COMPACT index
    // (min/max skipping) built by ALTER INDEX ... REBUILD. The final
    // SELECT runs the pruned point path with require()d scan profiles
    // proving BOTH indexes prune; DROP INDEX retires the bloom sidecars
    // (the probe then degrades to a full — still correct — scan) and
    // SHOW INDEXES tracks the registry across the whole lifecycle.
    Qd("q273_txn_create_index",
      """WITH t AS (SELECT CAST(o_orderkey AS BIGINT) AS ok,
        |           CAST(o_custkey AS BIGINT) AS ck,
        |           round(o_totalprice, 2) AS price FROM orders),
        |live AS (SELECT ok, ck, price FROM t WHERE ok % 17 <> 0)
        |SELECT ok, ck, CAST(price AS DOUBLE) AS price FROM live
        |WHERE ok IN (1, 7, 33, 34, 65)
        |ORDER BY ok""") { (s, dir) =>
      import graft.operators.DataSkipping.Band
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g273_txn"
      val tbl = s"g273_$sf"
      val proj = "SELECT CAST(o_orderkey AS BIGINT) AS ok, " +
        "CAST(o_custkey AS BIGINT) AS ck, " +
        "round(o_totalprice, 2) AS price FROM orders"
      Engine.sql(s, dir, s"CREATE TRANSACTIONAL TABLE $tbl LOCATION " +
        s"'$root' AS $proj WHERE o_orderkey % 3 = 0")                   // v1
      Engine.sql(s, dir,
        s"INSERT INTO $tbl $proj WHERE o_orderkey % 3 = 1")             // v2
      Engine.sql(s, dir,
        s"INSERT INTO $tbl $proj WHERE o_orderkey % 3 = 2")             // v3
      Engine.sql(s, dir, s"DELETE FROM $tbl WHERE ok % 17 = 0")         // v4
      Engine.sql(s, dir, s"OPTIMIZE $tbl ZORDER BY (ck, price) FILES 12")      // v5
      Engine.sql(s, dir, s"CREATE INDEX ok_bloom ON $tbl (ok) AS 'BLOOM'")
      Engine.sql(s, dir, s"CREATE INDEX ck_stats ON $tbl (ck) " +
        "AS 'COMPACT' WITH DEFERRED REBUILD")
      Engine.sql(s, dir, s"ALTER INDEX ck_stats ON $tbl REBUILD")
      require(Engine.sql(s, dir, s"SHOW INDEXES ON $tbl").count() == 2,
        "expected 2 registered indexes")
      // 34 = 2*17 was DELETED: its key may survive the bloom filters but
      // the delete anti-join must erase the row
      val keys = Seq(1L, 7L, 33L, 34L, 65L)
      val pp = TxnMergeOnRead.scanProfilePoint(s, root, "ok", keys)
      require(pp._1 < pp._2, s"bloom index must prune files, scanned $pp")
      val pb = TxnMergeOnRead.scanProfile(s, root, Seq(Band("ck", 1L, 60L)))
      require(pb._1 < pb._2,
        s"compact index over the z-ordered base must prune files, scanned $pb")
      // survivors are selected EAGERLY at frame construction, so build the
      // result before exercising the DROP lifecycle
      val res = TxnMergeOnRead.readPrunedPoint(s, root, "ok", keys)
        .select(col("ok"), col("ck"), col("price").cast("double").as("price"))
        .orderBy("ok")
      Engine.sql(s, dir, s"DROP INDEX ok_bloom ON $tbl")
      require(Engine.sql(s, dir, s"SHOW INDEXES ON $tbl").count() == 1,
        "DROP INDEX must unregister")
      val post = TxnMergeOnRead.scanProfilePoint(s, root, "ok", keys)
      require(post._1 == post._2,
        s"a dropped index must stop pruning (degrade to full scan): $post")
      res
    },

    // BITMAP index lifecycle ([[graft.operators.BitmapIndex]] — the
    // reference's third index handler, `BitmapIndexHandler.java:64`,
    // EWAH posting lists keyed by the indexed value): a txn table
    // range-clustered on a LOW-CARDINALITY column (3 order statuses) is
    // built in two waves, indexed with CREATE INDEX ... AS 'BITMAP', and
    // probed on the rarest status — the scan profile must prove EXACT
    // file pruning (only the files whose postings contain 'P' are
    // opened; bitmap pruning has no false-positive files), the posting
    // cardinalities must equal the true row count, and DROP INDEX must
    // degrade the probe back to a full — still correct — scan.
    Qd("q289_txn_bitmap_index",
      """WITH t AS (SELECT CAST(o_orderkey AS BIGINT) AS ok,
        |           o_orderstatus AS st,
        |           round(o_totalprice, 2) AS price FROM orders)
        |SELECT st, CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(round(sum(price), 2) AS DOUBLE) AS sval
        |FROM t WHERE st = 'P'
        |GROUP BY st ORDER BY st""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g289_txn"
      val tbl = s"g289_$sf"
      def wave(pred: org.apache.spark.sql.Column) =
        Engine.table(s, dir, "orders").filter(pred).select(
            col("o_orderkey").cast("bigint").as("ok"),
            col("o_orderstatus").as("st"),
            round(col("o_totalprice"), 2).as("price"))
          // range-cluster on the status: value-pure files, the layout a
          // bitmap index prunes exactly (the analog of the reference
          // rebuilding the index over bucketed/sorted data)
          .repartitionByRange(4, col("st"), col("ok"))
      TxnMergeOnRead.create(s, root, wave(col("o_orderkey") % 3 =!= 0)) // v1
      graft.operators.TxnSql.register(tbl, root)
      Engine.sql(s, dir,
        s"INSERT INTO $tbl SELECT ok, st, price FROM (SELECT " +
          "CAST(o_orderkey AS BIGINT) AS ok, o_orderstatus AS st, " +
          "round(o_totalprice, 2) AS price FROM orders " +
          "WHERE o_orderkey % 3 = 0) w")                               // v2
      Engine.sql(s, dir, s"CREATE INDEX st_bitmap ON $tbl (st) AS 'BITMAP'")
      val shown = Engine.sql(s, dir, s"SHOW INDEXES ON $tbl").collect()
      require(shown.length == 1 && shown.head.getString(2) == "BITMAP",
        s"SHOW INDEXES must list the bitmap index: ${shown.mkString}")
      val pp = TxnMergeOnRead.scanProfilePoint(s, root, "st", Seq("P"))
      require(pp._1 < pp._2, s"bitmap index must prune files, scanned $pp")
      val res = TxnMergeOnRead.readPrunedPoint(s, root, "st", Seq("P"))
        .groupBy("st")
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("price")), 2).cast("double").as("sval"))
        .orderBy("st")
      val truth = res.collect() // eager: DROP below retires the sidecars
      Engine.sql(s, dir, s"DROP INDEX st_bitmap ON $tbl")
      val post = TxnMergeOnRead.scanProfilePoint(s, root, "st", Seq("P"))
      require(post._1 == post._2,
        s"a dropped bitmap index must stop pruning: $post")
      require(truth.nonEmpty && truth.head.getLong(1) > 0,
        "probe must find rows")
      res
    },

    // SCD Type-2 dimension maintenance via ONE MERGE per wave — the
    // canonical lakehouse pattern (Kimball type-2 history on a
    // merge-capable table): each update wave stages its CHANGED keys
    // twice — once under the real merge key (matches the key's CURRENT
    // row → close it: cur=false, valid_to=wave) and once under a NULL
    // key (matches nothing → insert the new current version). History
    // accumulates as closed intervals; no row is ever rewritten twice.
    // Two waves overlap on keys divisible by 35, so wave 2 must close
    // wave 1's row, not the base row — the oracle reconstructs all three
    // row generations with their exact validity intervals.
    Qd("q259_scd2_merge",
      """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS ck,
        |              c_mktsegment AS seg FROM customer
        |              WHERE c_custkey <= 300)
        |SELECT ck, seg, CAST(1 AS BIGINT) AS vf,
        |  CAST(CASE WHEN ck % 5 = 0 THEN 2
        |            WHEN ck % 7 = 0 THEN 3 END AS BIGINT) AS vt,
        |  (ck % 5 <> 0 AND ck % 7 <> 0) AS cur
        |FROM base
        |UNION ALL
        |SELECT ck, 'W1_' || CAST(ck % 3 AS VARCHAR), CAST(2 AS BIGINT),
        |  CAST(CASE WHEN ck % 7 = 0 THEN 3 END AS BIGINT), ck % 7 <> 0
        |FROM base WHERE ck % 5 = 0
        |UNION ALL
        |SELECT ck, 'W2_' || CAST(ck % 2 AS VARCHAR), CAST(3 AS BIGINT),
        |  CAST(NULL AS BIGINT), true
        |FROM base WHERE ck % 7 = 0
        |ORDER BY ck, vf""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g259_txn"
      val base = Engine.table(s, dir, "customer")
        .filter(col("c_custkey") <= 300)
        .select(col("c_custkey").cast("bigint").as("ck"),
          col("c_mktsegment").as("seg"))
      TxnMergeOnRead.create(s, root, base
        .withColumn("vf", lit(1L))
        .withColumn("vt", lit(null).cast("bigint"))
        .withColumn("cur", lit(true)))
      def applyWave(w: Int, updates: org.apache.spark.sql.DataFrame): Unit = {
        val cur = TxnMergeOnRead.read(s, root).filter(col("cur"))
        val changed = updates.as("u")
          .join(cur.as("c"), col("u.ck") === col("c.ck"))
          .filter(col("c.seg") =!= col("u.nseg"))
          .select(col("u.ck").as("ck"), col("u.nseg").as("nseg"))
        val staged = changed.withColumn("mk", col("ck"))
          .unionByName(changed.withColumn("mk", lit(null).cast("bigint")))
        TxnMergeOnRead.merge(s, root, staged, "t.ck = s.mk AND t.cur",
          matchedSet = Seq("cur" -> "false", "vt" -> s"CAST($w AS BIGINT)"),
          notMatchedInsert = Some(Seq("ck" -> "s.ck", "seg" -> "s.nseg",
            "vf" -> s"CAST($w AS BIGINT)", "vt" -> "CAST(NULL AS BIGINT)",
            "cur" -> "true")))
        ()
      }
      applyWave(2, base.filter(col("ck") % 5 === 0).select(col("ck"),
        concat(lit("W1_"), (col("ck") % 3).cast("string")).as("nseg")))
      applyWave(3, base.filter(col("ck") % 7 === 0).select(col("ck"),
        concat(lit("W2_"), (col("ck") % 2).cast("string")).as("nseg")))
      TxnMergeOnRead.read(s, root)
        .select("ck", "seg", "vf", "vt", "cur").orderBy("ck", "vf")
    },

    // Generated columns through the FULL textual surface (q245's
    // semantics, zero Scala API calls): CREATE … GENERATED (…) declares
    // them, a textual INSERT naming only the data columns gets them
    // COMPUTED (the NULL-fill rule deliberately skips declared generated
    // columns — an explicit NULL would be a supplied-and-wrong value),
    // and a textual UPDATE of the base column recomputes them before the
    // final SELECT aggregates by the generated day.
    Qd("q261_txn_generated_sql",
      """WITH src AS (SELECT event_id, ts, user_id,
        |    CASE WHEN user_id % 4 = 1 THEN round(value + 10, 4)
        |         ELSE value END AS value
        |  FROM events WHERE event_id % 2 = 0),
        |g AS (SELECT CAST(ts AS DATE) AS day,
        |  CAST(floor(value) AS BIGINT) AS vband, value FROM src)
        |SELECT day, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(vband) AS BIGINT) AS sv_band
        |FROM g GROUP BY day ORDER BY day""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g261_txn"
      val tbl = s"g261_$sf"
      Engine.sql(s, dir,
        s"""CREATE TRANSACTIONAL TABLE $tbl LOCATION '$root'
           |GENERATED (day AS CAST(ts AS DATE),
           |           vband AS CAST(floor(value) AS BIGINT)) AS
           |SELECT event_id, ts, user_id, value FROM events
           |WHERE event_id % 2 = 0 AND event_id % 3 <> 0""".stripMargin)
      Engine.sql(s, dir,
        s"""INSERT INTO $tbl (event_id, ts, user_id, value)
           |SELECT event_id, ts, user_id, value FROM events
           |WHERE event_id % 2 = 0 AND event_id % 3 = 0""".stripMargin)
      Engine.sql(s, dir,
        s"UPDATE $tbl SET value = round(value + 10, 4) WHERE user_id % 4 = 1")
      Engine.sql(s, dir,
        s"""SELECT day, CAST(count(*) AS BIGINT) AS cnt,
           |  CAST(sum(vband) AS BIGINT) AS sv_band
           |FROM $tbl GROUP BY day ORDER BY day""".stripMargin)
    }
  )
}
