package graft.queries

import graft.Engine
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink surface — SURVEY.md §2.2: delimited text (LazySimpleSerDe),
  * CSV (OpenCSVSerde), JSON (JsonSerDe), ORC, Parquet, Regex (RegexSerDe),
  * plus FileSinkOperator semantics: dynamic-partitioned writes and
  * bucketed+sorted tables (`CLUSTERED BY ... SORTED BY ... INTO N BUCKETS`,
  * HiveParser.g:1825).
  *
  * Each query WRITES a derived copy under target/srcdata/<sf>/ in the tested
  * format, reads it back, and aggregates; the oracle computes the same
  * aggregate from the original parquet — so a round-trip bug (quoting,
  * delimiter, schema, partition values) breaks the hash match.
  */
object Sources {

  private def t(s: SparkSession, dir: String, n: String) = Engine.table(s, dir, n)

  private def base(dir: String): String = {
    val sf = new java.io.File(dir).getName
    s"${Engine.scratchRoot}/srcdata/$sf"
  }

  val all: Seq[Qd] = Seq(

    // Delimited text round-trip (LazySimpleSerDe.java:76) — '|' delimiter,
    // explicit schema on read (schema-on-read analog).
    Qd("q60_src_csv_delimited",
      """SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sq,
        |  ROUND(sum(l_extendedprice), 4) AS sep
        |FROM lineitem WHERE l_orderkey % 97 = 0
        |GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
      val p = s"${base(dir)}/csv_lineitem"
      t(s, dir, "lineitem").filter(col("l_orderkey") % 97 === 0)
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
        .write.mode(SaveMode.Overwrite).option("sep", "|").option("header", "true")
        .csv(p)
      s.read.option("sep", "|").option("header", "true")
        .schema(StructType(Seq(
          StructField("l_orderkey", LongType), StructField("l_returnflag", StringType),
          StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType))))
        .csv(p)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sq"),
          round(sum("l_extendedprice"), 4).as("sep"))
        .orderBy("l_returnflag")
    },

    // JSON round-trip (JsonSerDe / spark.read.json).
    Qd("q61_src_json",
      """SELECT o_orderstatus, count(*) AS n, ROUND(sum(o_totalprice), 4) AS tp
        |FROM orders WHERE o_orderkey % 101 = 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""") { (s, dir) =>
      val p = s"${base(dir)}/json_orders"
      t(s, dir, "orders").filter(col("o_orderkey") % 101 === 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode(SaveMode.Overwrite).json(p)
      s.read.schema(StructType(Seq(
          StructField("o_orderkey", LongType), StructField("o_orderstatus", StringType),
          StructField("o_totalprice", DoubleType))))
        .json(p)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 4).as("tp"))
        .orderBy("o_orderstatus")
    },

    // ORC round-trip (OrcInputFormat.java:145) — Spark-native ORC reader with
    // predicate pushdown on the read-back.
    Qd("q62_src_orc",
      """SELECT p_brand, count(*) AS n, ROUND(avg(p_retailprice), 4) AS rp
        |FROM part WHERE p_size <= 20
        |GROUP BY p_brand ORDER BY p_brand""") { (s, dir) =>
      val p = s"${base(dir)}/orc_part"
      t(s, dir, "part").write.mode(SaveMode.Overwrite).orc(p)
      s.read.orc(p).filter(col("p_size") <= 20)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), round(avg("p_retailprice"), 4).as("rp"))
        .orderBy("p_brand")
    },

    // ORC bloom filters — Hive 2.1 writes per-row-group bloom streams for
    // `orc.bloom.filter.columns` and evaluates point predicates against
    // them in the SARG row-group skip (reference:
    // `ql/src/java/org/apache/hadoop/hive/ql/io/orc/OrcFile.java`
    // bloomFilterColumns/bloomFilterFpp writer options;
    // orc RecordReaderImpl SARG evaluation). Spark's ORC writer takes the
    // same table options, and the point-lookup read-back prunes row groups
    // via bloom + min/max. Rows are written key-sorted so min/max ranges are
    // tight — at 100 TB this is the layout that makes needle lookups skip
    // ~all row groups. StorageOptSpec asserts the bloom streams exist in the
    // file footer and the IN predicate reaches the ORC scan.
    Qd("q161_src_orc_bloom",
      """SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus,
        |  ROUND(CAST(o_totalprice AS DOUBLE), 4) AS tp
        |FROM orders WHERE o_orderkey IN (11, 421, 1093, 4000)
        |ORDER BY k""") { (s, dir) =>
      val p = s"${base(dir)}/orc_bloom_orders"
      t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("tp"))
        .sort("k")
        .write.mode(SaveMode.Overwrite)
        .option("orc.bloom.filter.columns", "k")
        .option("orc.bloom.filter.fpp", "0.02")
        .orc(p)
      s.read.orc(p).filter(col("k").isin(11L, 421L, 1093L, 4000L))
        .select(col("k"), col("o_orderstatus"), round(col("tp"), 4).as("tp"))
        .orderBy("k")
    },

    // Bucket pruning — Hive's hive.tez.bucket.pruning
    // (`ql/.../optimizer/FixedBucketPruningOptimizer.java`): a point
    // predicate on the bucketing column reads only the buckets the literals
    // hash to, not the whole table. Spark's FileSourceScanExec does the
    // same from bucketBy metadata (SelectedBucketsCount in the scan,
    // PlanShapeSpec-asserted). At 100 TB a needle lookup on a 1024-bucket
    // table touches 1/512 of the files — no index needed beyond layout.
    Qd("q169_bucket_pruning",
      """SELECT CAST(o_custkey AS BIGINT) AS ck, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sk
        |FROM orders WHERE o_custkey IN (37, 73)
        |GROUP BY o_custkey ORDER BY ck""") { (s, dir) =>
      val sf = new java.io.File(dir).getName.replace(".", "_")
      val bt = s"graft_ord_bp_$sf"
      if (!s.catalog.tableExists(bt)) {
        t(s, dir, "orders")
          .selectExpr("CAST(o_orderkey AS BIGINT) AS o_orderkey",
            "CAST(o_custkey AS BIGINT) AS o_custkey")
          .write.mode(SaveMode.Overwrite)
          .bucketBy(16, "o_custkey").sortBy("o_custkey")
          .option("path", s"${base(dir)}/warehouse/$bt").format("parquet")
          .saveAsTable(bt)
      }
      s.table(bt).filter(col("o_custkey").isin(37L, 73L))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n"), sum("o_orderkey").as("sk"))
        .select(col("o_custkey").as("ck"), col("n"), col("sk"))
        .orderBy("ck")
    },

    // INSERT OVERWRITE DIRECTORY — query results straight to a directory,
    // no table metadata (reference qtest
    // `clientpositive/insert_overwrite_directory.q`; SemanticAnalyzer's
    // TOK_DIR target). Spark supports the same statement with USING
    // <format>; the read-back aggregate pins both the write and that
    // OVERWRITE replaced (not appended to) the previous contents — the
    // statement runs twice and the second result must stand alone.
    Qd("q168_insert_overwrite_directory",
      """SELECT o_orderstatus, count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sk
        |FROM orders WHERE o_orderkey % 7 = 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""") { (s, dir) =>
      graft.Engine.registerAll(s, dir)
      val p = s"${base(dir)}/iod_orders"
      s.sql(s"INSERT OVERWRITE DIRECTORY '$p' USING parquet " +
        "SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus " +
        "FROM orders WHERE o_orderkey % 3 = 0")
      s.sql(s"INSERT OVERWRITE DIRECTORY '$p' USING parquet " +
        "SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus " +
        "FROM orders WHERE o_orderkey % 7 = 0")
      s.read.parquet(p).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum("o_orderkey").cast("bigint").as("sk"))
        .orderBy("o_orderstatus")
    },

    // Regex-over-text read (RegexSerDe): write "key|name|nationkey" lines,
    // parse with regexp_extract.
    Qd("q63_src_text_regex",
      """SELECT s_nationkey, count(*) AS n, CAST(sum(s_suppkey) AS BIGINT) AS sk
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""") { (s, dir) =>
      val p = s"${base(dir)}/text_supplier"
      t(s, dir, "supplier")
        .select(concat_ws("|", col("s_suppkey"), col("s_name"), col("s_nationkey"))
          .as("value"))
        .write.mode(SaveMode.Overwrite).text(p)
      val pat = "^([0-9]+)\\|(.*)\\|([0-9]+)$"
      s.read.text(p)
        .select(
          regexp_extract(col("value"), pat, 1).cast("bigint").as("s_suppkey"),
          regexp_extract(col("value"), pat, 3).cast("bigint").as("s_nationkey"))
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"), sum("s_suppkey").as("sk"))
        .orderBy("s_nationkey")
    },

    // Dynamic-partitioned sink (FileSinkOperator.java:92 dynamic partitioning)
    // then a partition-pruned read-back of one partition.
    Qd("q64_sink_dynamic_partition",
      """SELECT o_orderpriority, count(*) AS n, ROUND(sum(o_totalprice), 4) AS tp
        |FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, dir) =>
      val p = s"${base(dir)}/part_orders"
      t(s, dir, "orders")
        .write.mode(SaveMode.Overwrite).partitionBy("o_orderpriority").parquet(p)
      s.read.parquet(p)
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 4).as("tp"))
        .orderBy("o_orderpriority")
    },

    // Dynamic partition pruning: the partitioned fact's scanned partition
    // set is decided at RUNTIME from the dim side's filter (Hive plans this
    // as DPP sink operators feeding the fact scan, `SparkPartitionPruningSinkOperator`
    // analog / SURVEY §2 row 25; Spark injects a DynamicPruningExpression
    // subquery reusing the broadcast — plan-asserted in PlanShapeSpec).
    // The dim is derived deterministically from orders, so the oracle is the
    // same join expressed directly.
    Qd("q132_dpp_join",
      """WITH dim AS (
        |  SELECT DISTINCT o_orderpriority AS pr,
        |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |         THEN 'hot' ELSE 'cold' END AS grp
        |  FROM orders)
        |SELECT pr, count(*) AS n, ROUND(sum(o_totalprice), 4) AS tp
        |FROM orders JOIN dim ON o_orderpriority = pr
        |WHERE grp = 'hot' GROUP BY pr ORDER BY pr""") { (s, dir) =>
      val p = s"${base(dir)}/dpp_orders"
      val d = s"${base(dir)}/dpp_dim"
      t(s, dir, "orders")
        .write.mode(SaveMode.Overwrite).partitionBy("o_orderpriority").parquet(p)
      t(s, dir, "orders").select(col("o_orderpriority").as("pr")).distinct()
        .withColumn("grp", when(col("pr").isin("1-URGENT", "2-HIGH"), "hot")
          .otherwise("cold"))
        .write.mode(SaveMode.Overwrite).parquet(d)
      s.read.parquet(p)
        .join(broadcast(s.read.parquet(d).filter(col("grp") === "hot")),
          col("o_orderpriority") === col("pr"))
        .groupBy("pr")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 4).as("tp"))
        .orderBy("pr")
    },

    // Schema-on-read null tolerance (LazySimpleSerDe
    // `serde2/lazy/LazySimpleSerDe.java` — a text cell that fails to parse
    // as the declared type yields NULL, never an error). Bad cells are
    // injected deterministically (every 100th part key), so the oracle
    // recomputes the expected NULLs from the base table.
    Qd("q143_schema_on_read",
      """SELECT p_partkey,
        |  CASE WHEN p_partkey % 100 = 0 THEN NULL ELSE p_size END AS size_read,
        |  CAST(count(*) OVER () AS BIGINT) AS n_total
        |FROM part WHERE p_partkey < 1200 ORDER BY p_partkey""") { (s, dir) =>
      val p = s"${base(dir)}/schema_on_read"
      t(s, dir, "part").filter(col("p_partkey") < 1200)
        .select(col("p_partkey"),
          when(col("p_partkey") % 100 === 0, lit("not_a_number"))
            .otherwise(col("p_size").cast("string")).as("p_size"))
        .write.mode(SaveMode.Overwrite).option("header", "true").csv(p)
      s.read.schema("p_partkey BIGINT, p_size INT")
        .option("header", "true").option("mode", "PERMISSIVE").csv(p)
        .select(col("p_partkey"), col("p_size").as("size_read"),
          count(lit(1)).over().as("n_total"))
        .orderBy("p_partkey")
    },

    // Partition-wise file formats (reference qtests
    // `partition_wise_fileformat*.q`): a Hive table's partitions may each
    // use a different serde/format (ALTER TABLE ... PARTITION ... SET
    // FILEFORMAT). A Spark scan is single-format, so the mixed table is the
    // UNION of per-format partition reads — one logical table, three
    // format-specific scans, each still pushing its own filters/pruning.
    Qd("q133_mixed_format_partitions",
      """SELECT o_orderpriority, count(*) AS n, ROUND(sum(o_totalprice), 4) AS tp
        |FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, dir) =>
      val root = s"${base(dir)}/mixedfmt"
      val src = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      def part(pr: String) = src.filter(col("o_orderpriority") === pr)
        .drop("o_orderpriority")
      part("1-URGENT").write.mode(SaveMode.Overwrite)
        .option("header", "true").csv(s"$root/pr=1-URGENT")
      part("2-HIGH").write.mode(SaveMode.Overwrite).orc(s"$root/pr=2-HIGH")
      part("3-MEDIUM").write.mode(SaveMode.Overwrite).parquet(s"$root/pr=3-MEDIUM")
      val csvSchema = "o_orderkey BIGINT, o_totalprice DOUBLE"
      val mixed = s.read.schema(csvSchema).option("header", "true")
        .csv(s"$root/pr=1-URGENT").withColumn("o_orderpriority", lit("1-URGENT"))
        .unionByName(s.read.orc(s"$root/pr=2-HIGH")
          .withColumn("o_orderpriority", lit("2-HIGH")))
        .unionByName(s.read.parquet(s"$root/pr=3-MEDIUM")
          .withColumn("o_orderpriority", lit("3-MEDIUM")))
      mixed.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 4).as("tp"))
        .orderBy("o_orderpriority")
    },

    // Bucketed + sorted table sink (CLUSTERED BY / SORTED BY INTO N BUCKETS)
    // and an SMB-style join between the two co-bucketed tables — with
    // matching bucketing Spark elides both shuffles (SMBMapJoinOperator
    // analog; plan asserted in SourcesSpec).
    Qd("q65_sink_bucketed_join",
      """SELECT c.c_mktsegment, count(*) AS n, ROUND(sum(o.o_totalprice), 4) AS tp
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""") { (s, dir) =>
      val sf = new java.io.File(dir).getName.replace(".", "_")
      val wh = s"${base(dir)}/warehouse"
      val ot = s"graft_ord_b_$sf"; val ct = s"graft_cust_b_$sf"
      t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode(SaveMode.Overwrite)
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$wh/$ot").format("parquet").saveAsTable(ot)
      t(s, dir, "customer").select("c_custkey", "c_mktsegment")
        .write.mode(SaveMode.Overwrite)
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$wh/$ct").format("parquet").saveAsTable(ct)
      s.table(ot).join(s.table(ct), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 4).as("tp"))
        .orderBy("c_mktsegment")
    },

    // Virtual columns (TableScanOperator.java:56 — INPUT__FILE__NAME):
    // per-source-file row counts via input_file_name(); DuckDB reproduces it
    // with read_parquet(filename=true).
    // Compression-codec sink options (zstd) — the write option must not
    // change the data.
    Qd("q87_parquet_zstd",
      """SELECT l_linestatus, count(*) AS n, ROUND(sum(l_quantity), 4) AS sq
        |FROM lineitem WHERE l_orderkey % 53 = 0
        |GROUP BY l_linestatus ORDER BY l_linestatus""") { (s, dir) =>
      val p = s"${base(dir)}/zstd_lineitem"
      t(s, dir, "lineitem").filter(col("l_orderkey") % 53 === 0)
        .select("l_orderkey", "l_linestatus", "l_quantity")
        .write.mode(SaveMode.Overwrite).option("compression", "zstd").parquet(p)
      s.read.parquet(p)
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("sq"))
        .orderBy("l_linestatus")
    },

    // SequenceFile round-trip (HiveSequenceFileOutputFormat.java:41 —
    // Hive's default container stores one row per record as a Writable
    // value with a null key). Spark core ships the hadoop sequence-file
    // codec, so the Spark-native equivalent is an RDD sink/source pair:
    // rows serialize as Text values under NullWritable keys, the read-back
    // parses the delimited payload. Writables are reused by the reader, so
    // the map materializes `toString` before the iterator advances.
    // RCFile re-expression (`ql/.../io/RCFile.java:58`): row groups stored
    // column-wise; the read back materializes ONLY the two queried columns
    // and length-skips the rest (lazy-column property spec-asserted in
    // SourcesRcSpec with byte accounting).
    Qd("q144_src_columnar_rowgroup",
      """SELECT s_nationkey, count(*) AS n, ROUND(sum(s_acctbal), 4) AS ab
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""") { (s, dir) =>
      val p = s"${base(dir)}/grcf_supplier"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
      val cols = Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      graft.sources.ColumnarRowGroupFile.write(
        t(s, dir, "supplier").select(cols.map(col).toSeq: _*), p)
      graft.sources.ColumnarRowGroupFile
        .read(s, p, cols, Seq("s_nationkey", "s_acctbal"))
        .select(col("s_nationkey").cast("int").as("s_nationkey"),
          col("s_acctbal").cast("double").as("s_acctbal"))
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"), round(sum("s_acctbal"), 4).as("ab"))
        .orderBy("s_nationkey")
    },

    Qd("q118_src_sequencefile",
      """SELECT s_nationkey, count(*) AS n, ROUND(sum(s_acctbal), 4) AS ab,
        |  CAST(sum(s_suppkey) AS BIGINT) AS sk
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""") { (s, dir) =>
      import org.apache.hadoop.io.{NullWritable, Text}
      val p = s"${base(dir)}/seq_supplier"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
      t(s, dir, "supplier")
        .select(concat_ws("|", col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
          .as("value"))
        .rdd.map(r => (NullWritable.get(), new Text(r.getString(0))))
        .saveAsSequenceFile(p)
      val lines = s.sparkContext.sequenceFile[NullWritable, Text](p)
        .map(_._2.toString)
      s.createDataFrame(lines.map(org.apache.spark.sql.Row(_)),
          StructType(Seq(StructField("value", StringType))))
        .select(split(col("value"), "\\|").as("f"))
        .select(col("f")(0).cast("bigint").as("s_suppkey"),
          col("f")(1).cast("int").as("s_nationkey"),
          col("f")(2).cast("double").as("s_acctbal"))
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"), round(sum("s_acctbal"), 4).as("ab"),
          sum("s_suppkey").as("sk"))
        .orderBy("s_nationkey")
    },

    // Avro container round-trip (AvroSerDe.java:48). The pinned env has no
    // spark-avro *datasource*, but avro + avro-mapred ship with Spark core,
    // so the Spark-native route is the hadoop mapreduce codec:
    // GenericRecords under AvroKey written/read via
    // AvroKeyOutputFormat/AvroKeyInputFormat. The Schema object is not
    // serializable — parsed per partition from the JSON string. Records are
    // converted to Rows inside the same map stage (the reader may reuse
    // datum instances, like any Writable-based format).
    Qd("q120_src_avro",
      """SELECT c_mktsegment, count(*) AS n, ROUND(sum(c_acctbal), 4) AS ab,
        |  CAST(sum(c_custkey) AS BIGINT) AS ck
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""") { (s, dir) =>
      import org.apache.avro.Schema
      import org.apache.avro.generic.{GenericData, GenericRecord}
      import org.apache.avro.mapred.AvroKey
      import org.apache.avro.mapreduce.{AvroJob, AvroKeyInputFormat, AvroKeyOutputFormat}
      import org.apache.hadoop.io.NullWritable
      import org.apache.hadoop.mapreduce.Job
      import org.apache.spark.sql.Row

      val p = s"${base(dir)}/avro_customer"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
      val schemaJson =
        """{"type":"record","name":"cust","fields":[
          |{"name":"c_custkey","type":"long"},
          |{"name":"c_mktsegment","type":"string"},
          |{"name":"c_acctbal","type":"double"}]}""".stripMargin

      val wjob = Job.getInstance(s.sparkContext.hadoopConfiguration)
      AvroJob.setOutputKeySchema(wjob, new Schema.Parser().parse(schemaJson))
      t(s, dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
        .rdd.mapPartitions { it =>
          val schema = new Schema.Parser().parse(schemaJson)
          it.map { r =>
            val rec = new GenericData.Record(schema)
            rec.put("c_custkey", r.getLong(0))
            rec.put("c_mktsegment", r.getString(1))
            rec.put("c_acctbal", r.getDouble(2))
            (new AvroKey[GenericRecord](rec), NullWritable.get())
          }
        }
        .saveAsNewAPIHadoopFile(p, classOf[AvroKey[GenericRecord]],
          classOf[NullWritable], classOf[AvroKeyOutputFormat[GenericRecord]],
          wjob.getConfiguration)

      val rjob = Job.getInstance(s.sparkContext.hadoopConfiguration)
      AvroJob.setInputKeySchema(rjob, new Schema.Parser().parse(schemaJson))
      val rows = s.sparkContext.newAPIHadoopFile(p,
          classOf[AvroKeyInputFormat[GenericRecord]],
          classOf[AvroKey[GenericRecord]], classOf[NullWritable],
          rjob.getConfiguration)
        .mapPartitions(_.map { case (k, _) =>
          val rec = k.datum()
          Row(rec.get("c_custkey").asInstanceOf[Long],
            rec.get("c_mktsegment").toString,
            rec.get("c_acctbal").asInstanceOf[Double])
        })
      s.createDataFrame(rows, StructType(Seq(
          StructField("c_custkey", LongType),
          StructField("c_mktsegment", StringType),
          StructField("c_acctbal", DoubleType))))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum("c_acctbal"), 4).as("ab"),
          sum("c_custkey").as("ck"))
        .orderBy("c_mktsegment")
    },

    Qd("q83_virtual_columns",
      """SELECT fname, n FROM (
        |  SELECT 'region.parquet' AS fname, count(*) AS n FROM region
        |  UNION ALL SELECT 'nation.parquet', count(*) FROM nation
        |  UNION ALL SELECT 'supplier.parquet', count(*) FROM supplier)
        |ORDER BY fname""") { (s, dir) =>
      val one = (n: String) => Engine.table(s, dir, n)
        .select(input_file_name().as("path"))
      one("region").union(one("nation")).union(one("supplier"))
        .select(regexp_extract(col("path"), "([a-z]+\\.parquet)$", 1).as("fname"))
        .groupBy("fname").agg(count(lit(1)).as("n"))
        .orderBy("fname")
    },

    // Corrupt-tolerant JSON parsing with a RESCUE column — the
    // `_corrupt_record` / badRecordsPath production contract (the
    // reference's JsonSerDe offers only ignore.malformed.json = drop):
    // malformed records must neither kill the job NOR vanish — they land
    // raw in a rescue column for quarantine/replay while good records
    // parse normally. The line corpus is DERIVED deterministically from
    // events on BOTH engines (every 13th record is truncated mid-object),
    // Spark parses with from_json in PERMISSIVE mode +
    // columnNameOfCorruptRecord, and the oracle replays the contract with
    // json_valid — parsed fields, NULL-vs-rescued, and the corrupt
    // payload itself all hash-checked.
    Qd("q258_json_rescue_column",
      """WITH lines AS (SELECT event_id,
        |  CASE WHEN event_id % 13 = 0
        |    THEN '{"u":' || CAST(user_id AS VARCHAR) || ',"t":"' || event_type
        |    ELSE '{"u":' || CAST(user_id AS VARCHAR) || ',"t":"' || event_type || '"}'
        |  END AS line FROM events),
        |p AS (SELECT event_id, line, json_valid(line) AS ok FROM lines)
        |SELECT event_id,
        |  CASE WHEN ok THEN CAST(json_extract(line, '$.u') AS BIGINT) END AS u,
        |  CASE WHEN ok THEN json_extract_string(line, '$.t') END AS t,
        |  CASE WHEN NOT ok THEN line END AS rescued
        |FROM p ORDER BY event_id""") { (s, dir) =>
      val lines = Engine.table(s, dir, "events").select(col("event_id"),
        when(col("event_id") % 13 === 0,
          concat(lit("{\"u\":"), col("user_id").cast("string"),
            lit(",\"t\":\""), col("event_type")))
          .otherwise(concat(lit("{\"u\":"), col("user_id").cast("string"),
            lit(",\"t\":\""), col("event_type"), lit("\"}")))
          .as("line"))
      val schema = "u BIGINT, t STRING, _rescued STRING"
      lines.select(col("event_id"),
          from_json(col("line"), StructType.fromDDL(schema),
            Map("mode" -> "PERMISSIVE",
              "columnNameOfCorruptRecord" -> "_rescued")).as("j"))
        .select(col("event_id"), col("j.u").as("u"), col("j.t").as("t"),
          col("j._rescued").as("rescued"))
        .orderBy("event_id")
    },

    // Thrift TBinaryProtocol serde ([[graft.sources.ThriftBinarySerde]] —
    // the reference's ThriftDeserializer/DynamicSerDe surface, the last
    // previously-descoped serde): each order encodes as a REAL strict
    // TBinaryProtocol struct (6 projected fields + an UNPROJECTED field
    // id 99 the reader must skip structurally; every 3rd payload emits
    // its fields in REVERSE order — id-based matching must not care;
    // every 53rd payload is truncated mid-value → PERMISSIVE rescue:
    // the row survives as status='corrupt' with NULL fields). The
    // parse is a compiled per-partition kernel; the oracle recomputes
    // every decoded value closed-form from the orders columns — a full
    // hash check of the wire decode, not a round-trip tautology.
    Qd("q332_thrift_serde",
      """WITH t AS (SELECT o_orderkey AS i, o_orderstatus AS st,
        |  CAST(o_totalprice AS DOUBLE) AS price FROM orders),
        |p AS (SELECT
        |  CASE WHEN i % 53 = 0 THEN 'corrupt' ELSE 'ok' END AS status,
        |  CASE WHEN i % 53 = 0 THEN NULL ELSE st END AS st,
        |  CASE WHEN i % 53 = 0 THEN NULL ELSE i % 97 END AS qty,
        |  CASE WHEN i % 53 = 0 THEN NULL ELSE price END AS price,
        |  CASE WHEN i % 53 = 0 THEN NULL
        |       ELSE CASE WHEN i % 2 = 0 THEN 1 ELSE 0 END END AS flag,
        |  CASE WHEN i % 53 = 0 THEN NULL ELSE i % 5 + i % 7 END AS tags
        |  FROM t)
        |SELECT status, st, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(SUM(qty) AS BIGINT) AS sum_qty,
        |  CAST(ROUND(SUM(price), 2) AS DOUBLE) AS sum_price,
        |  CAST(SUM(flag) AS BIGINT) AS n_flag,
        |  CAST(SUM(tags) AS BIGINT) AS sum_tags
        |FROM p GROUP BY status, st
        |ORDER BY status, st NULLS FIRST""") { (s, dir) =>
      import graft.sources.ThriftBinarySerde
      import graft.sources.ThriftBinarySerde._
      val enc = org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.BINARY)
      val blobs = t(s, dir, "orders")
        .select(col("o_orderkey").cast("bigint").as("i"),
          col("o_orderstatus").as("st"),
          col("o_totalprice").cast("double").as("price"))
        .map { r =>
          val (i, st, price) =
            (r.getLong(0), r.getString(1), r.getDouble(2))
          val fields: Seq[(Short, Byte, Any)] = Seq(
            (1.toShort, I64, i),
            (2.toShort, STRING, st),
            (3.toShort, I32, (i % 97).toInt),
            (4.toShort, DOUBLE, price),
            (5.toShort, BOOL, i % 2 == 0),
            (6.toShort, LIST, Seq(i % 5, i % 7)),
            (99.toShort, I16, (i % 31).toShort)) // unprojected: must skip
          val ordered = if (i % 3 == 0) fields.reverse else fields
          val b = ThriftBinarySerde.encode(ordered)
          (i, if (i % 53 == 0) b.dropRight(3) else b)
        }(enc)
        .toDF("i", "payload")
      ThriftBinarySerde.parse(blobs, "payload", Seq(
          Field(1, I64, "id"), Field(2, STRING, "st"),
          Field(3, I32, "qty"), Field(4, DOUBLE, "price"),
          Field(5, BOOL, "flag"), Field(6, LIST, "tags")))
        .groupBy("status", "st")
        .agg(count(lit(1)).as("cnt"),
          sum(col("qty").cast("bigint")).as("sum_qty"),
          round(sum("price"), 2).cast("double").as("sum_price"),
          sum(col("flag").cast("long")).as("n_flag"), // NULL-propagating
          sum(aggregate(col("tags"), lit(0L), (a, x) => a + x)).as("sum_tags"))
        .orderBy(col("status"), col("st").asc_nulls_first)
    }
  )
}
