package graft.queries

import graft.Engine
import org.apache.spark.sql.{SaveMode, SparkSession}

/** DDL / metadata surface — SURVEY.md §7 step 7: CREATE TABLE (+LOCATION),
  * INSERT INTO / INSERT OVERWRITE, dynamic-partition overwrite
  * (FileSinkOperator dynamic partitioning, `exec/FileSinkOperator.java:92`),
  * CREATE VIEW, ALTER TABLE ADD COLUMNS, CTAS, ANALYZE TABLE.
  *
  * Every query runs real SQL DDL against the session catalog (tables live
  * under target/ddl/<sf>/), then SELECTs the final state; the oracle computes
  * the same final state from the source parquet — so wrong overwrite
  * semantics, lost partitions, or schema drift break the hash match.
  * Queries are idempotent (DROP IF EXISTS first) because Verify replays them.
  */
object Ddl {

  private def ctx(s: SparkSession, dir: String): (String, String) = {
    Engine.registerAll(s, dir)
    val sf = new java.io.File(dir).getName.replace(".", "_")
    (sf, s"${Engine.scratchRoot}/ddl/$sf")
  }

  val all: Seq[Qd] = Seq(

    // CREATE TABLE + INSERT OVERWRITE + INSERT INTO (append) semantics.
    Qd("q77_ddl_create_insert",
      """SELECT CAST(r_regionkey AS BIGINT) AS rk, r_name, src FROM (
        |  SELECT r_regionkey, r_name, 'base' AS src FROM region
        |  UNION ALL
        |  SELECT r_regionkey, r_name, 'extra' AS src FROM region
        |  WHERE r_regionkey < 2)
        |ORDER BY src, rk""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val tbl = s"g77_$sf"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl (rk BIGINT, r_name STRING, src STRING) " +
        s"USING parquet LOCATION '$loc/g77'")
      s.sql(s"INSERT OVERWRITE $tbl " +
        "SELECT CAST(r_regionkey AS BIGINT), r_name, 'seed' FROM region")
      s.sql(s"INSERT OVERWRITE $tbl " +
        "SELECT CAST(r_regionkey AS BIGINT), r_name, 'base' FROM region")
      s.sql(s"INSERT INTO $tbl SELECT CAST(r_regionkey AS BIGINT), r_name, " +
        "'extra' FROM region WHERE r_regionkey < 2")
      s.sql(s"SELECT rk, r_name, src FROM $tbl ORDER BY src, rk")
    },

    // Dynamic-partition INSERT OVERWRITE: overwrite ONE partition in place,
    // other partitions must survive (partitionOverwriteMode=dynamic — the
    // Hive default semantics).
    Qd("q78_ddl_dynpart_overwrite",
      """SELECT n_regionkey, count(*) AS n, count(DISTINCT tag) AS tags FROM (
        |  SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |    CASE WHEN n_regionkey = 0 THEN 'v2' ELSE 'v1' END AS tag
        |  FROM nation)
        |GROUP BY n_regionkey ORDER BY n_regionkey""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val tbl = s"g78_$sf"
      val modeKey = "spark.sql.sources.partitionOverwriteMode"
      val savedMode = s.conf.getOption(modeKey)
      try {
        s.conf.set(modeKey, "dynamic")
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl (n_name STRING, tag STRING, n_regionkey BIGINT) " +
          s"USING parquet PARTITIONED BY (n_regionkey) LOCATION '$loc/g78'")
        s.sql(s"INSERT OVERWRITE $tbl PARTITION (n_regionkey) " +
          "SELECT n_name, 'v1', CAST(n_regionkey AS BIGINT) FROM nation")
        // dynamic overwrite touches ONLY region 0; v1 rows elsewhere survive
        s.sql(s"INSERT OVERWRITE $tbl PARTITION (n_regionkey) " +
          "SELECT n_name, 'v2', CAST(n_regionkey AS BIGINT) FROM nation " +
          "WHERE n_regionkey = 0")
      } finally savedMode.fold(s.conf.unset(modeKey))(s.conf.set(modeKey, _))
      s.sql(s"SELECT n_regionkey, count(*) AS n, count(DISTINCT tag) AS tags " +
        s"FROM $tbl GROUP BY n_regionkey ORDER BY n_regionkey")
    },

    // CREATE VIEW over a join + ALTER TABLE ADD COLUMNS (schema evolution:
    // old files read the new column as NULL).
    Qd("q79_ddl_view_alter",
      """SELECT CAST(n_nationkey AS BIGINT) AS nk, n_name, r_name,
        |  CAST(NULL AS STRING) AS note
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |WHERE n_nationkey < 10 ORDER BY nk""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val tbl = s"g79_$sf"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl (nk BIGINT, n_name STRING, n_regionkey BIGINT) " +
        s"USING parquet LOCATION '$loc/g79'")
      s.sql(s"INSERT OVERWRITE $tbl SELECT CAST(n_nationkey AS BIGINT), n_name, " +
        "CAST(n_regionkey AS BIGINT) FROM nation WHERE n_nationkey < 10")
      s.sql(s"ALTER TABLE $tbl ADD COLUMNS (note STRING)")
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW g79_v AS " +
        s"SELECT t.nk, t.n_name, r.r_name, t.note FROM $tbl t " +
        "JOIN region r ON t.n_regionkey = CAST(r.r_regionkey AS BIGINT)")
      s.sql("SELECT nk, n_name, r_name, note FROM g79_v ORDER BY nk")
    },

    // Hive multi-insert: one FROM scan feeding several INSERT targets
    // (SemanticAnalyzer multi-insert QB; Spark SQL supports the syntax).
    Qd("q95_multi_insert",
      """SELECT tag, CAST(k AS BIGINT) AS k, nm FROM (
        |  SELECT 'r0' AS tag, n_nationkey AS k, n_name AS nm FROM nation
        |  WHERE n_regionkey = 0
        |  UNION ALL
        |  SELECT 'r1', n_nationkey, n_name FROM nation WHERE n_regionkey = 1)
        |ORDER BY tag, k""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val (ta, tb) = (s"g95a_$sf", s"g95b_$sf")
      Seq(ta, tb).foreach { tbl =>
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        // start from an EMPTY location: DROP leaves the LOCATION dir (and a
        // prior run's files) behind, and a CREATE over a non-empty dir lets
        // the catalog cache a file listing that the INSERT OVERWRITE then
        // deletes — the transient "directory was not found" WARN the r13
        // bench logged (non-fatal, but a listing race waiting to escalate)
        val dir = new java.io.File(s"$loc/$tbl")
        org.apache.commons.io.FileUtils.deleteQuietly(dir)
        // an explicit LOCATION makes the table EXTERNAL, and Spark never
        // creates an external table's directory — without the mkdirs the
        // INSERT's relation resolution lists a missing dir (the
        // `HadoopFSUtils … was not found` WARN the r14 bench tail kept)
        dir.mkdirs()
        s.sql(s"CREATE TABLE $tbl (k BIGINT, nm STRING) USING parquet " +
          s"LOCATION '$loc/$tbl'")
      }
      s.sql(
        s"""FROM nation
           |INSERT OVERWRITE TABLE $ta
           |  SELECT CAST(n_nationkey AS BIGINT), n_name WHERE n_regionkey = 0
           |INSERT OVERWRITE TABLE $tb
           |  SELECT CAST(n_nationkey AS BIGINT), n_name WHERE n_regionkey = 1
           |""".stripMargin)
      // drop any stale cached listing before the read-back
      Seq(ta, tb).foreach(tbl => s.sql(s"REFRESH TABLE $tbl"))
      s.sql(s"SELECT 'r0' AS tag, k, nm FROM $ta UNION ALL " +
        s"SELECT 'r1', k, nm FROM $tb ORDER BY tag, k")
    },

    // CTAS + ANALYZE TABLE COMPUTE STATISTICS (table + columns) — the
    // StatsOptimizer/CBO feed (`optimizer/StatsOptimizer.java:97`); stats must
    // not change results, and row count must come back exact from the catalog.
    Qd("q80_ddl_ctas_analyze",
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(min(c_custkey) AS BIGINT) AS mn, CAST(max(c_custkey) AS BIGINT) AS mx
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val tbl = s"g80_$sf"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      // DROP leaves the LOCATION dir behind; CTAS refuses a non-empty target
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$loc/g80"))
      s.sql(s"CREATE TABLE $tbl USING parquet LOCATION '$loc/g80' AS " +
        "SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_mktsegment FROM customer")
      s.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS")
      s.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR COLUMNS c_custkey")
      s.sql(s"SELECT c_mktsegment, count(*) AS n, min(c_custkey) AS mn, " +
        s"max(c_custkey) AS mx FROM $tbl GROUP BY c_mktsegment ORDER BY c_mktsegment")
    },

    // CHAR(n)/VARCHAR(n) length semantics
    // (`serde/src/java/org/apache/hadoop/hive/serde2/typeinfo/CharTypeInfo.java`,
    // qtests `clientpositive/char_1.q`, `varchar_2.q`): CHAR pads to n on
    // read and comparisons ignore the padding (the engine pads the other
    // side); VARCHAR stores at most n. DuckDB has no fixed CHAR, so the
    // oracle emulates the padding with rpad. Documented deviation: on
    // overflowing writes Hive truncates silently while Spark raises
    // (ANSI store assignment), so truncation is applied explicitly at
    // insert — the stored result is identical.
    Qd("q116_char_varchar",
      """SELECT p_partkey,
        |  concat('[', rpad(p_brand, 12, ' '), ']') AS bp,
        |  length(rpad(p_brand, 12, ' ')) AS lb,
        |  (p_brand = 'Brand#13') AS isb13,
        |  substring(p_name, 1, 15) AS nm,
        |  length(substring(p_name, 1, 15)) AS ln
        |FROM part WHERE p_partkey <= 1000 ORDER BY p_partkey""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val tbl = s"g116_$sf"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl (pk BIGINT, b CHAR(12), n VARCHAR(15)) " +
        s"USING parquet LOCATION '$loc/g116'")
      s.sql(s"INSERT OVERWRITE $tbl SELECT CAST(p_partkey AS BIGINT), " +
        "p_brand, substring(p_name, 1, 15) FROM part WHERE p_partkey <= 1000")
      // b reads back padded to 12; the comparison pads its literal side, so
      // `b = 'Brand#13'` is TRUE for the 8-char stored value (Hive CHAR
      // comparison semantics)
      s.sql(s"""SELECT pk AS p_partkey, concat('[', b, ']') AS bp,
        length(b) AS lb, (b = 'Brand#13') AS isb13, n AS nm, length(n) AS ln
        FROM $tbl ORDER BY p_partkey""")
    },

    // Stats-only query answering (`optimizer/StatsOptimizer.java:97`,
    // `hive.compute.query.using.stats`): after ANALYZE, a global
    // count/count(col)/min/max is answered from catalog statistics with NO
    // table scan — [[graft.plans.StatsOnlyAnsweringRule]] collapses the
    // aggregate to a LocalRelation ([[graft.StatsOnlySpec]] asserts the
    // plan shape; this query pins the values against the oracle).
    Qd("q117_stats_only_agg",
      """SELECT count(*) AS n, count(o_orderpriority) AS nc,
        |  CAST(min(o_orderkey) AS BIGINT) AS mn,
        |  CAST(max(o_orderkey) AS BIGINT) AS mx
        |FROM orders""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val tbl = s"g117_$sf"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$loc/g117"))
      s.sql(s"CREATE TABLE $tbl USING parquet LOCATION '$loc/g117' AS " +
        "SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderpriority FROM orders")
      s.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR COLUMNS o_orderkey, o_orderpriority")
      s.sql(s"SELECT count(*) AS n, count(o_orderpriority) AS nc, " +
        s"min(o_orderkey) AS mn, max(o_orderkey) AS mx FROM $tbl")
    },

    // LLAP analog — in-memory columnar IO + cache
    // (`llap-server/src/java/org/apache/hadoop/hive/llap/io/api/impl/LlapIoImpl.java:68`).
    // Spark's native re-expression is `spark.catalog.cacheTable` →
    // InMemoryRelation (compressed columnar batches) scanned by
    // InMemoryTableScan; the hot dimension is cached once and BOTH
    // sub-aggregates (per-segment rollup + the scalar distinct-nation
    // subquery) read the columnar cache instead of re-scanning parquet.
    // PlanShapeSpec asserts InMemoryTableScan appears in the final plan.
    // The cached view PROJECTS just the three needed columns: Spark's
    // CacheManager substitutes by plan-fragment sameResult match, not view
    // name, so caching the bare table would silently serve every later
    // `customer` scan in the session from the cache — the projection keeps
    // the cache from matching (and changing the measured plans of) other
    // queries.
    Qd("q146_cached_scan",
      """SELECT c_mktsegment AS seg, count(*) AS n,
        |  ROUND(CAST(sum(c_acctbal) AS DOUBLE), 2) AS bal,
        |  (SELECT count(DISTINCT c_nationkey) FROM customer) AS nk
        |FROM customer GROUP BY c_mktsegment ORDER BY seg""") { (s, dir) =>
      val (sf, _) = ctx(s, dir)
      val v = s"g146_cust_$sf"
      Engine.table(s, dir, "customer")
        .select("c_mktsegment", "c_acctbal", "c_nationkey")
        .createOrReplaceTempView(v)
      if (!s.catalog.isCached(v)) {
        s.catalog.cacheTable(v)
        s.table(v).count() // materialize the columnar cache eagerly
      }
      s.sql(s"""SELECT c_mktsegment AS seg, count(*) AS n,
        ROUND(CAST(sum(c_acctbal) AS DOUBLE), 2) AS bal,
        (SELECT count(DISTINCT c_nationkey) FROM $v) AS nk
        FROM $v GROUP BY c_mktsegment ORDER BY seg""")
    },

    // Cost-based join reordering — the reference's Calcite CBO layer
    // (hive.cbo.enable; `ql/src/java/org/apache/hadoop/hive/ql/optimizer/
    // calcite/` feeds ANALYZE column stats into a join-cost model). Spark
    // analog: ANALYZE ... FOR ALL COLUMNS + spark.sql.cbo.joinReorder. The
    // join is WRITTEN worst-first (fact ⋈ unfiltered customer, selective
    // nation last); with stats the optimizer must pull the selective
    // dimension join inward so the fact table joins an already-reduced
    // side — at 100 TB that ordering is the difference between shuffling
    // the fact once against 2/25 of customers vs against all of them.
    // StorageOptSpec asserts the reorder happens (leaf order flips).
    // Confs restore after the CTAS materializes the result; the CTAS runs
    // the join distributed under CBO, and the returned scan is conf-free.
    Qd("q162_cbo_join_reorder",
      """SELECT n_name, count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sk
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_name IN ('NATION_3','NATION_17')
        |GROUP BY n_name ORDER BY n_name""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val (tOrd, tCust, tNat, res) =
        (s"g162_ord_$sf", s"g162_cust_$sf", s"g162_nat_$sf", s"g162_res_$sf")
      s.sql(s"DROP TABLE IF EXISTS $res")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$loc/g162/res"))
      // stats tables build once per session+sf (bench replays the query;
      // re-CTAS + re-ANALYZE would dominate the measured join)
      if (!s.catalog.tableExists(tOrd)) {
        Seq(tOrd, tCust, tNat).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$loc/g162"))
        s.sql(s"CREATE TABLE $tOrd USING parquet LOCATION '$loc/g162/ord' AS " +
          "SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, CAST(o_custkey AS BIGINT) AS o_custkey FROM orders")
        s.sql(s"CREATE TABLE $tCust USING parquet LOCATION '$loc/g162/cust' AS " +
          "SELECT CAST(c_custkey AS BIGINT) AS c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey FROM customer")
        s.sql(s"CREATE TABLE $tNat USING parquet LOCATION '$loc/g162/nat' AS " +
          "SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name FROM nation")
        Seq(tOrd, tCust, tNat).foreach(t =>
          s.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS"))
      }
      val keys = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
      val saved = keys.map(k => k -> s.conf.getOption(k))
      try {
        keys.foreach(s.conf.set(_, "true"))
        s.sql(s"""CREATE TABLE $res USING parquet LOCATION '$loc/g162/res' AS
          SELECT n_name, count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sk
          FROM $tOrd JOIN $tCust ON o_custkey = c_custkey
          JOIN $tNat ON c_nationkey = n_nationkey
          WHERE n_name IN ('NATION_3','NATION_17') GROUP BY n_name""")
      } finally saved.foreach { case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
      s.table(res).orderBy("n_name")
    },

    // Runtime bloom-filter semi-join reduction — Hive's dynamic semi-join
    // reduction (hive.tez.dynamic.semijoin.reduction: the dim side's join
    // keys build a bloom filter that is pushed into the fact scan before
    // the shuffle join; `ql/src/java/org/apache/hadoop/hive/ql/
    // parse/GenTezUtils.java` semijoin branch + min/max/bloom runtime
    // filters). Spark analog: InjectRuntimeFilter — the filtered orders
    // side contributes bloom_filter_agg(xxhash64(o_orderkey)) and the
    // lineitem side gains BloomFilterMightContain below its shuffle,
    // dropping non-joining fact rows before the exchange. At 100 TB the
    // fact shuffle is the job; the bloom cuts it by the dim selectivity —
    // measured at ×64 (graft.tools.BloomScale): shuffled bytes 473.7 MB →
    // 189.1 MB (2.5×), wall 4.2 s → 2.4 s. Thresholds are relaxed only
    // while the CTAS materializes (test data is KB-scale; the 10 GiB
    // default application-side threshold exists so small scans don't pay
    // bloom overhead, and the 10 MB default creationSideThreshold rejects
    // dim sides beyond toy scale — deployments size it to dim cardinality).
    // StorageOptSpec asserts might_contain appears in the optimized plan.
    Qd("q163_runtime_bloom_join",
      """SELECT l_returnflag, count(*) AS n,
        |  ROUND(CAST(sum(l_quantity) AS DOUBLE), 2) AS sq
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val res = s"g163_res_$sf"
      s.sql(s"DROP TABLE IF EXISTS $res")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$loc/g163"))
      val keys = Seq(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
      val saved = keys.map { case (k, _) => k -> s.conf.getOption(k) }
      try {
        keys.foreach { case (k, v) => s.conf.set(k, v) }
        s.sql(s"""CREATE TABLE $res USING parquet LOCATION '$loc/g163/res' AS
          SELECT l_returnflag, count(*) AS n,
            ROUND(CAST(sum(l_quantity) AS DOUBLE), 2) AS sq
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderpriority = '1-URGENT'
          GROUP BY l_returnflag""")
      } finally saved.foreach { case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
      s.table(res).orderBy("l_returnflag")
    },

    // MSCK REPAIR TABLE — partition discovery over directories an external
    // loader dropped in place (reference: `ql/src/java/org/apache/hadoop/
    // hive/ql/exec/DDLTask.java` msck → HiveMetaStoreChecker). The query
    // itself proves the repair: the pre-repair count (catalog knows zero
    // partitions) is emitted as the rk=-1 row, then MSCK discovers the
    // rk=<N> directories (region 2 deliberately absent — discovery is
    // directory-driven, not data-driven) and the per-partition counts
    // follow. At scale this is how a 100 TB ingest lands: files first,
    // one metadata-only repair after.
    Qd("q164_msck_repair",
      """SELECT rk, n FROM (
        |  SELECT CAST(n_regionkey AS INT) AS rk, count(*) AS n FROM nation
        |  WHERE n_regionkey IN (0, 1, 3, 4) GROUP BY 1
        |  UNION ALL SELECT -1, 0)
        |ORDER BY rk""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val tbl = s"g164_$sf"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$loc/g164"))
      val nat = s.table("nation")
      Seq(0, 1, 3, 4).foreach { rk =>
        nat.filter(org.apache.spark.sql.functions.col("n_regionkey") === rk)
          .selectExpr("n_name", "CAST(n_nationkey AS BIGINT) AS nk")
          .write.mode(SaveMode.Overwrite).parquet(s"$loc/g164/rk=$rk")
      }
      s.sql(s"CREATE TABLE $tbl (n_name STRING, nk BIGINT, rk INT) " +
        s"USING parquet PARTITIONED BY (rk) LOCATION '$loc/g164'")
      val pre = s.table(tbl).count() // 0: no partitions known yet
      s.sql(s"MSCK REPAIR TABLE $tbl")
      s.sql(s"""SELECT rk, n FROM (
        SELECT CAST(rk AS INT) AS rk, count(*) AS n FROM $tbl GROUP BY rk
        UNION ALL SELECT -1, CAST($pre AS BIGINT))
        ORDER BY rk""")
    },

    // TRUNCATE TABLE [PARTITION] + ALTER TABLE DROP PARTITION — partition
    // lifecycle DDL (reference: `ql/src/java/org/apache/hadoop/hive/ql/
    // exec/DDLTask.java` truncateTable / dropPartitions). Managed tables
    // (Spark rejects TRUNCATE on external ones). Encoded facts: DROP
    // PARTITION removes rk=0 from metadata AND data; TRUNCATE PARTITION
    // empties rk=1 but the partition survives in metadata (the -1 row
    // counts SHOW PARTITIONS = 4); full TRUNCATE keeps the table and its
    // schema for reuse (the -2 row counts the re-inserted subset).
    Qd("q165_truncate_drop_partition",
      """SELECT rk, n FROM (
        |  SELECT CAST(n_regionkey AS INT) AS rk, count(*) AS n FROM nation
        |  WHERE n_regionkey >= 2 GROUP BY 1
        |  UNION ALL SELECT -1, 4
        |  UNION ALL SELECT -2, 2)
        |ORDER BY rk""") { (s, dir) =>
      val (sf, _) = ctx(s, dir)
      val (tbl, tb2, tb3) = (s"g165_$sf", s"g165b_$sf", s"g165c_$sf")
      // the in-memory catalog forgets managed tables across sessions but
      // their warehouse dirs persist — drop both metadata AND location
      Seq(tbl, tb2, tb3).foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(s"${Engine.scratchRoot}/warehouse/${t.toLowerCase}"))
      }
      s.sql(s"CREATE TABLE $tbl (n_name STRING, nk BIGINT, rk INT) " +
        "USING parquet PARTITIONED BY (rk)")
      s.sql(s"INSERT INTO $tbl SELECT n_name, CAST(n_nationkey AS BIGINT), " +
        "CAST(n_regionkey AS INT) FROM nation")
      s.sql(s"ALTER TABLE $tbl DROP PARTITION (rk=0)")
      s.sql(s"TRUNCATE TABLE $tbl PARTITION (rk=1)")
      s.sql(s"CREATE TABLE $tb2 (r_name STRING) USING parquet")
      s.sql(s"INSERT INTO $tb2 SELECT r_name FROM region")
      s.sql(s"TRUNCATE TABLE $tb2")
      s.sql(s"INSERT INTO $tb2 SELECT r_name FROM region WHERE r_regionkey < 2")
      // ALTER TABLE RENAME TO (DDLTask renameTable): a managed rename moves
      // the warehouse dir with the metadata; the data must survive it
      s.sql(s"ALTER TABLE $tb2 RENAME TO $tb3")
      val nparts = s.sql(s"SHOW PARTITIONS $tbl").count()
      s.sql(s"""SELECT rk, n FROM (
        SELECT CAST(rk AS INT) AS rk, count(*) AS n FROM $tbl GROUP BY rk
        UNION ALL SELECT -1, CAST($nparts AS BIGINT)
        UNION ALL SELECT -2, (SELECT count(*) FROM $tb3))
        ORDER BY rk""")
    },

    // CREATE TEMPORARY MACRO — SQL-defined scalar functions (reference:
    // `ql/src/test/queries/clientpositive/macro.q` CREATE TEMPORARY MACRO
    // SIGMOID(x DOUBLE) 1.0/(1.0+EXP(-x)); FunctionRegistry registers the
    // expression tree under the macro name). Spark-native analog: SQL UDFs
    // (CREATE TEMPORARY FUNCTION … RETURNS … RETURN expr) — the body is
    // inlined into the plan at analysis like Hive's macro expansion, so it
    // codegens with the query (no row-at-a-time UDF bridge; the 100 TB cost
    // is identical to writing the expression inline).
    Qd("q166_temporary_macro",
      """SELECT b, count(*) AS n, ROUND(CAST(sum(sig) AS DOUBLE), 4) AS s FROM (
        |  SELECT CAST(floor(least(greatest((CAST(c_acctbal AS DOUBLE) - 0.0) / (10000.0 - 0.0), 0.0), 0.999999) * 10) AS INT) AS b,
        |    1.0 / (1.0 + exp(-(CAST(c_acctbal AS DOUBLE) / 1000.0))) AS sig
        |  FROM customer)
        |GROUP BY b ORDER BY b""") { (s, dir) =>
      Engine.registerAll(s, dir)
      s.sql("DROP TEMPORARY FUNCTION IF EXISTS g166_sigmoid")
      s.sql("DROP TEMPORARY FUNCTION IF EXISTS g166_bucket")
      s.sql("CREATE TEMPORARY FUNCTION g166_sigmoid(x DOUBLE) RETURNS DOUBLE " +
        "RETURN 1.0 / (1.0 + exp(-x))")
      s.sql("CREATE TEMPORARY FUNCTION g166_bucket(v DOUBLE, lo DOUBLE, hi DOUBLE, n INT) " +
        "RETURNS INT RETURN CAST(floor(least(greatest((v - lo) / (hi - lo), 0.0), 0.999999) * n) AS INT)")
      s.sql("""SELECT b, count(*) AS n, ROUND(CAST(sum(sig) AS DOUBLE), 4) AS s FROM (
        SELECT g166_bucket(CAST(c_acctbal AS DOUBLE), 0.0, 10000.0, 10) AS b,
               g166_sigmoid(CAST(c_acctbal AS DOUBLE) / 1000.0) AS sig FROM customer)
        GROUP BY b ORDER BY b""")
    },

    // EXPORT TABLE → DROP → IMPORT TABLE round-trip (reference:
    // `ql/.../parse/ExportSemanticAnalyzer.java:47` + ImportSemanticAnalyzer):
    // a partitioned managed table is exported (per-partition data dirs + a
    // _metadata descriptor), dropped — the managed drop deletes its
    // warehouse data, so the import can only succeed from the export — and
    // re-created under a NEW name from the export directory alone. The
    // final per-partition aggregate must equal the source data exactly
    // (schema, partitioning, and every row survived the round-trip).
    Qd("q196_ddl_export_import",
      """SELECT CAST(n_regionkey AS INT) AS rk, count(*) AS n,
        |  CAST(sum(n_nationkey) AS BIGINT) AS sk
        |FROM nation GROUP BY 1 ORDER BY rk""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val (tbl, tb2) = (s"g196_$sf", s"g196i_$sf")
      val exp = s"$loc/g196_export"
      Seq(tbl, tb2).foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
          s"${Engine.scratchRoot}/warehouse/${t.toLowerCase}"))
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(exp))
      s.sql(s"CREATE TABLE $tbl (n_name STRING, nk BIGINT, rk INT) " +
        "USING parquet PARTITIONED BY (rk)")
      s.sql(s"INSERT INTO $tbl SELECT n_name, CAST(n_nationkey AS BIGINT), " +
        "CAST(n_regionkey AS INT) FROM nation")
      graft.operators.ExportImport.exportTable(s, tbl, exp)
      s.sql(s"DROP TABLE $tbl") // managed: data gone with it
      graft.operators.ExportImport.importTable(s, exp, tb2)
      s.sql(s"SELECT CAST(rk AS INT) AS rk, count(*) AS n, " +
        s"CAST(sum(nk) AS BIGINT) AS sk FROM $tb2 GROUP BY rk ORDER BY rk")
    }
  )
}
