package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Engine
import graft.sources.KvStorageHandler
import graft.sources.KvStorageHandler.parseMapping

/** KV storage-handler queries — the reference's HBase/Accumulo handler
  * semantics (`hbase-handler/.../HBaseStorageHandler.java`,
  * `accumulo-handler/.../AccumuloStorageHandler.java`) driven end-to-end:
  * column-mapping specs, scan-range predicate decomposition with manifest
  * pruning (require()d scan profiles), LSM Put/Delete versioning, family-map
  * columns, and major compaction, all over [[graft.sources.KvStorageHandler]]'s
  * region-sharded store. Timestamps are write-generation ordinals, so every
  * visible state is closed-form and the DuckDB oracle replays it from the
  * source tables directly.
  */
object KvHandlerQ {

  private def ctx(s: SparkSession, dir: String): (String, String) = {
    Engine.registerAll(s, dir)
    val sf = new java.io.File(dir).getName.replace(".", "_")
    (sf, s"${Engine.scratchRoot}/ddl/$sf")
  }

  /** KV roots are LSM state: a re-run must start from generation 1, not
    * append to the previous run's log (the `ver`/`:timestamp` outputs are
    * generation ordinals). */
  private def wipe(s: SparkSession, root: String): Unit = {
    val p = new Path(root)
    val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (f.exists(p)) f.delete(p, true)
  }

  private def key12(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    lpad(c.cast("string"), 12, "0")

  val all: Seq[Qd] = Seq(

    // Range scan with predicate decomposition: customers keyed by a
    // zero-padded custkey, one full Put generation, a partial Put that
    // rewrites only the f:bal cell for every 5th customer (latest version
    // wins; the `:timestamp` column surfaces the winning generation), a
    // row-Delete tombstone for every 7th, then a key-range + residual scan.
    // The key range is decomposed out of the predicate (HBaseScanRange
    // analog) and must prune region files; zero-padding makes the string
    // range coincide with the numeric BETWEEN the oracle runs.
    Qd("q333_kv_handler_scan",
      """SELECT CAST(c_custkey AS BIGINT) AS ck,
        |  CAST(CASE WHEN c_custkey % 5 = 0 THEN 2 ELSE 1 END AS BIGINT) AS ver,
        |  c_name AS nm,
        |  CAST(CASE WHEN c_custkey % 5 = 0
        |            THEN round(round(c_acctbal, 2) + 100, 2)
        |            ELSE round(c_acctbal, 2) END AS DOUBLE) AS bal,
        |  c_mktsegment AS seg
        |FROM customer
        |WHERE c_custkey % 7 <> 0 AND c_custkey BETWEEN 100 AND 899
        |  AND c_mktsegment <> 'MACHINERY'
        |ORDER BY ck""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g333_kv"
      wipe(s, root)
      val cust = Engine.table(s, dir, "customer")
      val full = parseMapping(
        StructType(Seq(StructField("k", StringType), StructField("ver", LongType),
          StructField("nm", StringType), StructField("bal", DoubleType),
          StructField("seg", StringType))),
        ":key,:timestamp,f:name,f:bal#b,f:seg")
      // gen 1: every customer
      KvStorageHandler.put(s, root, cust.select(
        key12(col("c_custkey")).as("k"), lit(0L).as("ver"),
        col("c_name").as("nm"), round(col("c_acctbal"), 2).as("bal"),
        col("c_mktsegment").as("seg")), full)
      // gen 2: balance-only upsert for every 5th customer (a per-cell Put —
      // a different Hive table can map the same KV table onto fewer columns)
      val balOnly = parseMapping(
        StructType(Seq(StructField("k", StringType), StructField("bal", DoubleType))),
        ":key,f:bal#b")
      KvStorageHandler.put(s, root,
        cust.filter(col("c_custkey") % 5 === 0).select(
          key12(col("c_custkey")).as("k"),
          round(round(col("c_acctbal"), 2) + 100, 2).as("bal")), balOnly)
      // gen 3: row tombstones for every 7th customer
      KvStorageHandler.deleteRows(s, root,
        cust.filter(col("c_custkey") % 7 === 0)
          .select(key12(col("c_custkey")).as("k")), "k")
      val pred = col("k") >= lit(key12str(100)) && col("k") <= lit(key12str(899)) &&
        col("seg") =!= "MACHINERY"
      val (kf, residual) = KvStorageHandler.decomposeKeyPredicate(pred, "k")
      require(!kf.isFullScan, "key range must decompose out of the predicate")
      require(residual.isDefined, "the segment conjunct must stay residual")
      val p = KvStorageHandler.scanProfile(s, root, kf)
      require(p._1 < p._2, s"key range must prune region files, scanned $p")
      KvStorageHandler.scan(s, root, full, pred)
        .select(col("k").cast("bigint").as("ck"), col("ver"), col("nm"),
          col("bal"), col("seg"))
        .orderBy("ck")
    },

    // Point-get list (multi-get): an IN over the key column decomposes to
    // points that prune to just the region files covering those keys; a
    // DeleteColumn tombstone erases one cell (the row survives, the column
    // reads NULL — HBase cell-granular deletes, not row ones).
    Qd("q334_kv_point_lookup",
      """SELECT CAST(o_orderkey AS BIGINT) AS ok,
        |  CAST(o_custkey AS BIGINT) AS ck,
        |  CAST(CASE WHEN o_orderkey % 3 = 0
        |            THEN round(round(o_totalprice, 2) * 1.1, 2)
        |            ELSE round(o_totalprice, 2) END AS DOUBLE) AS price,
        |  CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |       ELSE o_orderpriority END AS pri
        |FROM orders
        |WHERE o_orderkey IN (1, 4, 7, 32, 33, 38, 65, 66, 70)
        |ORDER BY ok""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g334_kv"
      wipe(s, root)
      val orders = Engine.table(s, dir, "orders")
      val m = parseMapping(
        StructType(Seq(StructField("k", StringType), StructField("ck", LongType),
          StructField("price", DoubleType), StructField("pri", StringType))),
        ":key,f:ck#b,f:price#b,f:pri")
      KvStorageHandler.put(s, root, orders.select(
        key12(col("o_orderkey")).as("k"),
        col("o_custkey").cast("long").as("ck"),
        round(col("o_totalprice"), 2).as("price"),
        col("o_orderpriority").as("pri")), m)
      val priceOnly = parseMapping(
        StructType(Seq(StructField("k", StringType), StructField("price", DoubleType))),
        ":key,f:price#b")
      KvStorageHandler.put(s, root,
        orders.filter(col("o_orderkey") % 3 === 0).select(
          key12(col("o_orderkey")).as("k"),
          round(round(col("o_totalprice"), 2) * 1.1, 2).as("price")), priceOnly)
      KvStorageHandler.deleteCells(s, root,
        orders.filter(col("o_orderkey") % 11 === 0)
          .select(key12(col("o_orderkey")).as("k")), "k", "f", "pri")
      val keys = Seq(1, 4, 7, 32, 33, 38, 65, 66, 70).map(key12str)
      val pred = col("k").isin(keys: _*) && col("ck") > 0
      val (kf, _) = KvStorageHandler.decomposeKeyPredicate(pred, "k")
      require(kf.points.exists(_.size == keys.size),
        s"IN over the key must decompose to a ${keys.size}-point multi-get")
      val p = KvStorageHandler.scanProfile(s, root, kf)
      require(p._1 < p._2, s"point list must prune region files, scanned $p")
      KvStorageHandler.scan(s, root, m, pred)
        .select(col("k").cast("bigint").as("ok"), col("ck"), col("price"), col("pri"))
        .orderBy("ok")
    },

    // Family-map columns: parts write a whole `a:*` attribute family (brand,
    // mfgr, and a prefixed pf.cont entry only for large sizes) plus a binary
    // long family `z:*#b`; the READ maps the same KV table through a second
    // Hive-side schema that adds an `a:pf.*` qualifier-prefix slice
    // (LazyHBaseCellMap's prefix form) — two tables over one store, the
    // standard HBase-handler deployment shape. The aggregate consumes map
    // lookups and cardinality, so every family-map path is value-checked.
    Qd("q335_kv_family_map",
      """SELECT p_brand AS brand,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(p_size) AS BIGINT) AS sz,
        |  CAST(sum(CAST(round(p_retailprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
        |  CAST(sum(CASE WHEN p_size > 20 THEN 1 ELSE 0 END) AS BIGINT) AS with_cont
        |FROM part GROUP BY brand ORDER BY brand""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g335_kv"
      wipe(s, root)
      val part = Engine.table(s, dir, "part")
      val writeM = parseMapping(
        StructType(Seq(StructField("k", StringType),
          StructField("attrs", MapType(StringType, StringType)),
          StructField("nums", MapType(StringType, LongType)))),
        ":key,a:*,z:*#b")
      KvStorageHandler.put(s, root, part.select(
        key12(col("p_partkey")).as("k"),
        map_concat(
          map(lit("brand"), col("p_brand"), lit("type"), col("p_type")),
          when(col("p_size") > 20, map(lit("pf.cont"), col("p_name")))
            .otherwise(map())).as("attrs"),
        map(lit("size"), col("p_size").cast("long"),
          lit("retail"), round(col("p_retailprice") * 100, 0).cast("long")).as("nums")),
        writeM)
      val readM = parseMapping(
        StructType(Seq(StructField("k", StringType),
          StructField("attrs", MapType(StringType, StringType)),
          StructField("cont", MapType(StringType, StringType)),
          StructField("nums", MapType(StringType, LongType)))),
        ":key,a:*,a:pf.*,z:*#b")
      KvStorageHandler.read(s, root, readM)
        .groupBy(col("attrs")("brand").as("brand"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("nums")("size")).as("sz"),
          sum(col("nums")("retail")).as("cents"),
          sum(size(col("cont")).cast("long")).as("with_cont"))
        .orderBy("brand")
    },

    // Major compaction invariance: four generations of churn (split initial
    // load, a price rewrite, row tombstones), compact to a single base
    // generation, and require (a) the visible row view is IDENTICAL before
    // and after, and (b) a point probe scans strictly fewer region files
    // afterwards — the LSM contract the reference's region servers provide.
    Qd("q336_kv_compact",
      """WITH t AS (SELECT o_orderstatus AS stat,
        |    CASE WHEN o_orderkey % 3 = 0
        |         THEN round(o_totalprice, 2) + 100
        |         ELSE round(o_totalprice, 2) END AS price
        |  FROM orders WHERE o_orderkey % 13 <> 0)
        |SELECT stat, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(round(price * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |FROM t GROUP BY stat ORDER BY stat""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g336_kv"
      wipe(s, root)
      val orders = Engine.table(s, dir, "orders")
      val m = parseMapping(
        StructType(Seq(StructField("k", StringType), StructField("price", DoubleType),
          StructField("stat", StringType))),
        ":key,f:price#b,f:stat")
      def load(p: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame =
        orders.filter(p(col("o_orderkey"))).select(
          key12(col("o_orderkey")).as("k"),
          round(col("o_totalprice"), 2).as("price"),
          col("o_orderstatus").as("stat"))
      KvStorageHandler.put(s, root, load(_ % 2 === 0), m) // gen 1
      KvStorageHandler.put(s, root, load(_ % 2 === 1), m) // gen 2
      val priceOnly = parseMapping(
        StructType(Seq(StructField("k", StringType), StructField("price", DoubleType))),
        ":key,f:price#b")
      KvStorageHandler.put(s, root,
        orders.filter(col("o_orderkey") % 3 === 0).select(
          key12(col("o_orderkey")).as("k"),
          (round(col("o_totalprice"), 2) + 100).as("price")), priceOnly)
      KvStorageHandler.deleteRows(s, root,
        orders.filter(col("o_orderkey") % 13 === 0)
          .select(key12(col("o_orderkey")).as("k")), "k")
      val probe = KvStorageHandler.KeyFilter.points(Seq(key12str(32)))
      // materialize each visible view ONCE (localCheckpoint, bounded by the
      // visible row count): the invariance check re-ran the whole LSM
      // merge-resolution plan per exceptAll side — JobProfile measured the
      // two isEmpty actions at 5.8 s / 24 jobs of this query's wall — and
      // the final aggregate a fifth time. The check itself is unchanged:
      // exact multiset equality in BOTH directions, now as one action.
      val before = KvStorageHandler.read(s, root, m).localCheckpoint(true)
      val pBefore = KvStorageHandler.scanProfile(s, root, probe)
      KvStorageHandler.compact(s, root)
      val after = KvStorageHandler.read(s, root, m).localCheckpoint(true)
      require(before.exceptAll(after).union(after.exceptAll(before)).isEmpty,
        "compaction must be result-invariant")
      val pAfter = KvStorageHandler.scanProfile(s, root, probe)
      require(pAfter._1 < pBefore._1,
        s"compaction must shrink the probe's file set ($pBefore -> $pAfter)")
      // cents as BIGINT: double-sum at ~1e9 magnitude is accumulation-order
      // sensitive across engines; fixed-point is order-free
      after.groupBy("stat")
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("price") * 100, 0).cast("long")).as("cents"))
        .orderBy("stat")
    },

    // The `#b` fixed-width binary codec at the BYTE level (HBase
    // Bytes.toBytes semantics, `ColumnMappings.java:146-233`): the oracle
    // recomputes the big-endian hex closed-form — including two's
    // complement for negatives — so the wire layout itself is
    // hash-checked, the ThriftBinarySerde discipline. Float/double lanes
    // (IEEE-754 bit patterns have no DuckDB closed form) are pinned by
    // encode→decode round-trip identity plus the HBase byte width.
    Qd("q338_kv_binary_bytes",
      """SELECT CAST(p_partkey AS BIGINT) AS pk,
        |  upper(lpad(to_hex(p_partkey), 16, '0')) AS h_long,
        |  upper(lpad(to_hex(p_size), 8, '0')) AS h_int,
        |  upper(lpad(to_hex(4294967296 - p_size), 8, '0')) AS h_neg,
        |  upper(lpad(to_hex(p_size % 65536), 4, '0')) AS h_short,
        |  CASE WHEN p_size > 20 THEN 'FF' ELSE '00' END AS h_bool,
        |  CAST(8 AS INT) AS w_dbl,
        |  CAST(round(p_retailprice, 2) AS DOUBLE) AS rt_dbl,
        |  CAST(p_partkey * 2 AS BIGINT) AS rt_long
        |FROM part WHERE p_partkey <= 200 ORDER BY pk""") { (s, dir) =>
      import graft.functions.{KvDecodeFixed, KvEncodeFixed}
      import org.apache.spark.sql.graftshim.{ColumnBridge => CB}
      import org.apache.spark.sql.Column
      def enc(c: Column): Column = CB.column(KvEncodeFixed(CB.expression(c)))
      def dec(c: Column, t: org.apache.spark.sql.types.DataType): Column =
        CB.column(KvDecodeFixed(CB.expression(c), t))
      Engine.table(s, dir, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("bigint").as("pk"),
          hex(enc(col("p_partkey").cast("long"))).as("h_long"),
          hex(enc(col("p_size").cast("int"))).as("h_int"),
          hex(enc((-col("p_size")).cast("int"))).as("h_neg"),
          hex(enc(col("p_size").cast("short"))).as("h_short"),
          hex(enc(col("p_size") > 20)).as("h_bool"),
          length(enc(round(col("p_retailprice"), 2).cast("double"))).cast("int").as("w_dbl"),
          dec(enc(round(col("p_retailprice"), 2).cast("double")), DoubleType).as("rt_dbl"),
          dec(enc((col("p_partkey") * 2).cast("long")), LongType).as("rt_long"))
        .orderBy("pk")
    },

    // Accumulo column visibility (`accumulo.visibility.label` /
    // `accumulo.authorizations`, AccumuloSerDeParameters.java:54-57): cells
    // carry their write batch's label; a scan sees only cells its auth set
    // satisfies. Auth filtering applies AFTER version resolution (Accumulo's
    // VisibilityFilter sits above the VersioningIterator), so a restricted
    // NEWER version hides the cell from an unauthorized reader — it does
    // not fall back to the older public version. Both reader views in one
    // result, tagged; the oracle replays the closed form.
    Qd("q339_kv_visibility",
      """WITH c AS (SELECT c_custkey AS ck, c_name AS nm,
        |    round(c_acctbal, 2) AS bal0
        |  FROM customer WHERE c_custkey <= 600 AND c_custkey % 9 <> 0)
        |SELECT 'full' AS reader, CAST(ck AS BIGINT) AS ck, nm,
        |  CAST(CASE WHEN ck % 4 = 0 THEN bal0 + 100 ELSE bal0 END AS DOUBLE) AS bal
        |FROM c
        |UNION ALL
        |SELECT 'public', CAST(ck AS BIGINT), nm,
        |  CAST(CASE WHEN ck % 4 = 0 THEN NULL ELSE bal0 END AS DOUBLE)
        |FROM c
        |ORDER BY reader, ck""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g339_kv"
      wipe(s, root)
      val cust = Engine.table(s, dir, "customer").filter(col("c_custkey") <= 600)
      val m = parseMapping(
        StructType(Seq(StructField("k", StringType), StructField("nm", StringType),
          StructField("bal", DoubleType))), ":key,f:name,f:bal#b")
      KvStorageHandler.put(s, root, cust.select(
        key12(col("c_custkey")).as("k"), col("c_name").as("nm"),
        round(col("c_acctbal"), 2).as("bal")), m, visibility = "public")
      val balOnly = parseMapping(
        StructType(Seq(StructField("k", StringType), StructField("bal", DoubleType))),
        ":key,f:bal#b")
      KvStorageHandler.put(s, root,
        cust.filter(col("c_custkey") % 4 === 0).select(
          key12(col("c_custkey")).as("k"),
          (round(col("c_acctbal"), 2) + 100).as("bal")), balOnly,
        visibility = "pii&finance")
      KvStorageHandler.deleteRows(s, root,
        cust.filter(col("c_custkey") % 9 === 0)
          .select(key12(col("c_custkey")).as("k")), "k")
      def view(tag: String, auths: Set[String]): DataFrame =
        KvStorageHandler.read(s, root, m, Some(auths))
          .select(lit(tag).as("reader"), col("k").cast("bigint").as("ck"),
            col("nm"), col("bal"))
      view("full", Set("public", "pii", "finance"))
        .unionAll(view("public", Set("public")))
        .orderBy("reader", "ck")
    },

    // Composite struct row key (`HBaseCompositeKey.java:56`,
    // `CompositeHBaseKeyFactory`): the key is struct(orderkey, linenumber)
    // joined by the ^A separator; equality on the LEADING field decomposes
    // to a key-prefix range (require()d to prune region files), full
    // equality to a point. Parts stored zero-padded so string order matches
    // numeric order — the same contract raw HBase byte keys put on users.
    Qd("q340_kv_composite_key",
      """WITH li AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
        |    max(CAST(round(l_quantity, 0) AS BIGINT)) AS qty,
        |    max(CAST(round(l_extendedprice, 2) AS DOUBLE)) AS price
        |  FROM lineitem WHERE l_orderkey <= 2000
        |  GROUP BY 1, 2)
        |SELECT * FROM (
        |  SELECT 'prefix' AS probe, CAST(ok AS BIGINT) AS ok,
        |    CAST(ln AS BIGINT) AS ln, qty, price FROM li WHERE ok = 1
        |  UNION ALL
        |  SELECT 'point', CAST(ok AS BIGINT), CAST(ln AS BIGINT), qty, price
        |  FROM li WHERE ok = 1 AND ln = 3
        |) ORDER BY probe, ln""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g340_kv"
      wipe(s, root)
      val li = Engine.table(s, dir, "lineitem").filter(col("l_orderkey") <= 2000)
      val keyT = StructType(Seq(StructField("ok", LongType), StructField("ln", LongType)))
      val m = parseMapping(
        StructType(Seq(StructField("rk", keyT), StructField("qty", LongType),
          StructField("price", DoubleType))), ":key,f:qty#b,f:price#b")
      // the synthetic corpus can repeat (orderkey, linenumber); KV keys are
      // unique, so pre-aggregate per key — the oracle replays the same max
      KvStorageHandler.put(s, root, li
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(max(round(col("l_quantity"), 0).cast("long")).as("qty"),
          max(round(col("l_extendedprice"), 2)).as("price"))
        .select(
          struct(key12(col("l_orderkey")).as("ok"),
            lpad(col("l_linenumber").cast("string"), 2, "0").as("ln")).as("rk"),
          col("qty"), col("price")), m, regions = 8)
      val prefixPred = col("rk")("ok") === key12str(1) && col("qty") >= 0L
      val kfP = KvStorageHandler.decomposeCompositePredicate(prefixPred, "rk", keyT)
      require(kfP.lower.isDefined && kfP.upper.isDefined,
        "leading-field equality must decompose to a key-prefix range")
      val prof = KvStorageHandler.scanProfile(s, root, kfP)
      require(prof._1 < prof._2, s"prefix range must prune region files, scanned $prof")
      val pointPred = col("rk")("ok") === key12str(1) && col("rk")("ln") === "03"
      val kfPt = KvStorageHandler.decomposeCompositePredicate(pointPred, "rk", keyT)
      require(kfPt.points.exists(_.size == 1),
        "all-field equality must decompose to a point")
      def rows(tag: String, pred: org.apache.spark.sql.Column): DataFrame =
        KvStorageHandler.scan(s, root, m, pred)
          .select(lit(tag).as("probe"), col("rk.ok").as("ok"),
            col("rk.ln").as("ln"), col("qty"), col("price"))
      rows("prefix", prefixPred).unionAll(rows("point", pointPred))
        .orderBy("probe", "ln")
    },

    // The textual surface (CREATE KV TABLE … MAPPING / INSERT INTO /
    // ALTER … COMPACT / plain SELECT through the registered view / DROP) —
    // the `STORED BY 'HBaseStorageHandler' WITH SERDEPROPERTIES
    // ('hbase.columns.mapping'=…)` spelling re-expressed with the routing
    // keyword in the statement text (the TxnSql discipline). The second
    // INSERT upserts (a Put batch — Hive on HBase documents that even
    // INSERT OVERWRITE cannot truncate, it upserts); UPDATE must raise
    // Hive 2.1's storage-handler ACID refusal.
    Qd("q341_kv_sql",
      """WITH c AS (SELECT c_mktsegment AS seg,
        |    CASE WHEN c_custkey % 6 = 0
        |         THEN round(c_acctbal, 2) + 50 ELSE round(c_acctbal, 2)
        |    END AS bal
        |  FROM customer WHERE c_custkey <= 800)
        |SELECT seg, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(round(bal * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |FROM c GROUP BY seg ORDER BY seg""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g341_kv"
      wipe(s, root)
      scala.util.Try(Engine.sql(s, dir, "DROP KV TABLE kvt341")) // re-entrant
      Engine.sql(s, dir,
        s"""CREATE KV TABLE kvt341 (k STRING, seg STRING, bal DOUBLE)
           |LOCATION '$root' MAPPING ':key,f:seg,f:bal#b' REGIONS 4""".stripMargin)
      Engine.sql(s, dir,
        """INSERT INTO kvt341
          |SELECT lpad(CAST(c_custkey AS STRING), 12, '0'), c_mktsegment,
          |  round(c_acctbal, 2)
          |FROM customer WHERE c_custkey <= 800""".stripMargin)
      Engine.sql(s, dir,
        """INSERT OVERWRITE TABLE kvt341
          |SELECT lpad(CAST(c_custkey AS STRING), 12, '0'), c_mktsegment,
          |  round(c_acctbal, 2) + 50
          |FROM customer WHERE c_custkey <= 800 AND c_custkey % 6 = 0""".stripMargin)
      require(scala.util.Try(Engine.sql(s, dir,
        "UPDATE kvt341 SET bal = 0 WHERE k = '1'")).isFailure,
        "UPDATE on a KV table must raise Hive's storage-handler refusal")
      Engine.sql(s, dir, "ALTER KV TABLE kvt341 COMPACT")
      Engine.sql(s, dir,
        """SELECT seg, CAST(count(*) AS BIGINT) AS cnt,
          |  CAST(sum(CAST(round(bal * 100, 0) AS BIGINT)) AS BIGINT) AS cents
          |FROM kvt341 GROUP BY seg ORDER BY seg""".stripMargin)
    },

    // Timestamp-predicate pushdown (`HiveHBaseTableInputFormat.setupTimeRange
    // :310-335`): conjuncts on the `:timestamp` column become a cell-level
    // [start, end) time range applied BEFORE version resolution — `ver <= 2`
    // reads the winning version AS OF generation 2 (the pre-rewrite balance
    // surfaces; the row does not disappear), and `ver >= 2` sees only cells
    // written since (scalars whose last write predates the range read NULL;
    // rows with no in-range cell vanish). Tombstones mask regardless of the
    // range (HBase's delete tracker admits markers withinOrAfterTimeRange —
    // deletes hide older data even from time-range scans), and a put NEWER
    // than the marker resurrects. Both probes in one tagged result; the
    // oracle replays the generation closed-form. The as-of probe also
    // carries a key range, so key pruning and the time range compose.
    Qd("q342_kv_timerange",
      """WITH c AS (SELECT c_custkey AS ck, c_name AS nm,
        |    round(c_acctbal, 2) AS bal0
        |  FROM customer WHERE c_custkey <= 700)
        |SELECT 'asof2' AS probe, CAST(ck AS BIGINT) AS ck, nm,
        |  CAST(CASE WHEN ck % 4 = 0 THEN bal0 + 100 ELSE bal0 END AS DOUBLE) AS bal,
        |  CAST(CASE WHEN ck % 4 = 0 THEN 2 ELSE 1 END AS BIGINT) AS ver
        |FROM c WHERE ck % 9 <> 0 AND ck BETWEEN 100 AND 599
        |UNION ALL
        |SELECT 'since2', CAST(ck AS BIGINT), CAST(NULL AS VARCHAR),
        |  CAST(CASE WHEN ck % 6 = 0 THEN bal0 + 200 ELSE bal0 + 100 END AS DOUBLE),
        |  CAST(CASE WHEN ck % 6 = 0 THEN 4 ELSE 2 END AS BIGINT)
        |FROM c WHERE ck % 6 = 0 OR (ck % 4 = 0 AND ck % 9 <> 0)
        |ORDER BY probe, ck""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g342_kv"
      wipe(s, root)
      val cust = Engine.table(s, dir, "customer").filter(col("c_custkey") <= 700)
      val m = parseMapping(
        StructType(Seq(StructField("k", StringType), StructField("ver", LongType),
          StructField("nm", StringType), StructField("bal", DoubleType))),
        ":key,:timestamp,f:name,f:bal#b")
      // gen 1: full put
      KvStorageHandler.put(s, root, cust.select(
        key12(col("c_custkey")).as("k"), lit(0L).as("ver"),
        col("c_name").as("nm"), round(col("c_acctbal"), 2).as("bal")), m)
      val balOnly = parseMapping(
        StructType(Seq(StructField("k", StringType), StructField("bal", DoubleType))),
        ":key,f:bal#b")
      // gen 2: balance rewrite for every 4th
      KvStorageHandler.put(s, root,
        cust.filter(col("c_custkey") % 4 === 0).select(
          key12(col("c_custkey")).as("k"),
          (round(col("c_acctbal"), 2) + 100).as("bal")), balOnly)
      // gen 3: row tombstones for every 9th
      KvStorageHandler.deleteRows(s, root,
        cust.filter(col("c_custkey") % 9 === 0)
          .select(key12(col("c_custkey")).as("k")), "k")
      // gen 4: balance rewrite for every 6th (resurrects deleted %18 rows)
      KvStorageHandler.put(s, root,
        cust.filter(col("c_custkey") % 6 === 0).select(
          key12(col("c_custkey")).as("k"),
          (round(col("c_acctbal"), 2) + 200).as("bal")), balOnly)
      val asofPred = col("ver") <= 2L &&
        col("k") >= key12str(100) && col("k") <= key12str(599)
      require(KvStorageHandler.decomposeTsRange(asofPred, "ver") ==
        KvStorageHandler.TsRange(Long.MinValue, 3L),
        "ts <= 2 must decompose to the [min, 3) cell time range")
      val (kfA, _) = KvStorageHandler.decomposeKeyPredicate(asofPred, "k")
      val p = KvStorageHandler.scanProfile(s, root, kfA)
      require(p._1 < p._2, s"the key range must still prune region files, scanned $p")
      val sincePred = col("ver") >= 2L
      require(KvStorageHandler.decomposeTsRange(sincePred, "ver") ==
        KvStorageHandler.TsRange(2L, Long.MaxValue),
        "ts >= 2 must decompose to the [2, max) cell time range")
      def view(tag: String, pred: org.apache.spark.sql.Column): DataFrame =
        KvStorageHandler.scan(s, root, m, pred)
          .select(lit(tag).as("probe"), col("k").cast("bigint").as("ck"),
            col("nm"), col("bal"), col("ver"))
      view("asof2", asofPred).unionAll(view("since2", sincePred))
        .orderBy("probe", "ck")
    },

    // OR-of-ranges pushdown ([[KvStorageHandler.decomposeKeyDisjuncts]]) —
    // EXCEEDS the reference (IndexPredicateAnalyzer sends any disjunction
    // whole to the residual and scans every region): a disjunction of key
    // ranges (time-sliced rowkeys) decomposes to a UNION of scan ranges,
    // each pruned through the manifest independently — the requires pin
    // that the union scans no more files than the two covering sets and
    // strictly fewer than the store, so the gap between the slices is
    // never read; the full predicate still re-checks every surfaced row.
    Qd("q357_kv_or_ranges",
      """SELECT CAST(c_custkey AS BIGINT) AS ck, c_name AS nm,
        |  CAST(CASE WHEN c_custkey % 5 = 0
        |            THEN round(round(c_acctbal, 2) + 100, 2)
        |            ELSE round(c_acctbal, 2) END AS DOUBLE) AS bal
        |FROM customer
        |WHERE c_custkey % 7 <> 0
        |  AND (c_custkey BETWEEN 100 AND 249 OR c_custkey BETWEEN 900 AND 1099)
        |ORDER BY ck""") { (s, dir) =>
      val (sf, loc) = ctx(s, dir)
      val root = s"$loc/g357_kv"
      wipe(s, root)
      val cust = Engine.table(s, dir, "customer")
      val m = parseMapping(
        StructType(Seq(StructField("k", StringType), StructField("nm", StringType),
          StructField("bal", DoubleType))),
        ":key,f:name,f:bal#b")
      KvStorageHandler.put(s, root, cust.select(
        key12(col("c_custkey")).as("k"),
        col("c_name").as("nm"), round(col("c_acctbal"), 2).as("bal")), m)
      val balOnly = parseMapping(
        StructType(Seq(StructField("k", StringType), StructField("bal", DoubleType))),
        ":key,f:bal#b")
      KvStorageHandler.put(s, root,
        cust.filter(col("c_custkey") % 5 === 0).select(
          key12(col("c_custkey")).as("k"),
          round(round(col("c_acctbal"), 2) + 100, 2).as("bal")), balOnly)
      KvStorageHandler.deleteRows(s, root,
        cust.filter(col("c_custkey") % 7 === 0)
          .select(key12(col("c_custkey")).as("k")), "k")
      val ra = col("k") >= key12str(100) && col("k") <= key12str(249)
      val rb = col("k") >= key12str(900) && col("k") <= key12str(1099)
      val pred = ra || rb
      val (kfs, residual) = KvStorageHandler.decomposeKeyDisjuncts(pred, "k")
      require(kfs.size == 2 && kfs.forall(!_.isFullScan),
        "the OR must decompose to two scan ranges")
      require(residual.isEmpty, "both branches are captured exactly")
      val pu = KvStorageHandler.scanProfileUnion(s, root, kfs)
      val pa = KvStorageHandler.scanProfile(s, root,
        KvStorageHandler.decomposeKeyPredicate(ra, "k")._1)
      val pb = KvStorageHandler.scanProfile(s, root,
        KvStorageHandler.decomposeKeyPredicate(rb, "k")._1)
      require(pu._1 <= pa._1 + pb._1,
        s"union scanned ${pu._1} > covering sets ${pa._1}+${pb._1}")
      // bracket from below too: the union can never admit FEWER files than
      // its widest branch — together the two bounds pin that the r14
      // disjunct-dedup change neither widens nor corrupts the admitted set
      require(pu._1 >= math.max(pa._1, pb._1),
        s"union scanned ${pu._1} < widest branch ${math.max(pa._1, pb._1)}")
      require(pu._1 < pu._2,
        s"the gap between the ranges must prune region files, scanned $pu")
      KvStorageHandler.scan(s, root, m, pred)
        .select(col("k").cast("bigint").as("ck"), col("nm"), col("bal"))
        .orderBy("ck")
    })

  private def key12str(n: Int): String = f"$n%012d"
}
