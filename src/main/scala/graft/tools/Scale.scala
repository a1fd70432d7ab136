package graft.tools

import java.io.File

import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Engine, JobCounter, SparkEntry}
import graft.operators.Multimodal
import graft.queries.TpcdsLite

/** One runner for the scale experiments (SURVEY §6) and the per-job
  * profile of registered queries.
  *
  * Usage: `sbt "runMain graft.tools.Scale <case> [args]"`, with
  *  - `SPARK_GRAFT_SF_DIR`: the base data (default `/root/testdata/sf0.1`);
  *  - `SPARK_GRAFT_FACTOR`: the case's ×N (each case has its own default);
  *  - `SPARK_GRAFT_CPUS`: session cores (default: every core of the host);
  *  - `SPARK_GRAFT_QUERY`: the queries `profile` runs (comma-separated).
  *
  * Every case runs in its own session over the one SparkContext and
  * writes under `target/scale/<case>`, which is deleted when the case
  * ends. ×N warehouse data is built once under `target/scale/data` and
  * reused. Every timed row is best-of-N after a GC and a settle, and
  * carries the best run's job count, job-sum and driver gap.
  */
object Scale {

  /** One experiment. `factor` is its ×N unless `SPARK_GRAFT_FACTOR` says
    * otherwise. */
  final case class Case(name: String, factor: Int)(val body: Run => Unit)

  /** What a case runs with. */
  final class Run(val spark: SparkSession, val name: String, val dir: String,
      val factor: Int, val queries: Seq[String], val args: Seq[String]) {
    val scratch = s"$root/$name"

    /** Prints one result row of this case. */
    def report(msg: String): Unit = println(s"[scale] $name $msg")

    /** Best of `reps` runs of `body` and that run's result; prints the row. */
    def time[T](label: String, reps: Int = 2)(body: => T): (Double, T) = {
      val runs = (1 to reps).map { _ =>
        System.gc()
        Thread.sleep(150)
        JobCounter.during(spark)(body)
      }
      val (out, best) = runs.minBy(_._2.wallS)
      report(f"$label: best ${best.wallS}%.2fs " +
        f"(runs ${runs.map(r => f"${r._2.wallS}%.2f").mkString(",")}), " +
        f"${best.count} jobs, job-sum ${best.jobSumS}%.2fs, " +
        f"driver-gap ${best.driverGapS}%.2fs, " +
        f"shuffle-write ${best.shuffleWriteBytes / 1e6}%.1fMB")
      (best.wallS, out)
    }

    /** The warehouse ×`factor` (ScaleUp): every table but nation and
      * region replicated with per-replica key offsets, so every foreign key
      * resolves and per-key group sizes stay those of the base. Built once
      * per base dir, its contents and factor; ×1 is the base itself. */
    def tpch(): String = if (factor == 1) dir else {
      val out = s"$root/data/${sourceKey(dir)}_x$factor"
      if (!new File(s"$out/_SUCCESS").exists()) {
        def read(t: String) = spark.read.parquet(s"$dir/$t.parquet")
        def keyStride(t: String, key: String) = stride(read(t), key)
        val (order, cust, part, supp) = (keyStride("orders", "o_orderkey"),
          keyStride("customer", "c_custkey"), keyStride("part", "p_partkey"),
          keyStride("supplier", "s_suppkey"))
        val big = math.max(32, factor / 2)
        Seq(
          ("lineitem", Map("l_orderkey" -> order, "l_partkey" -> part, "l_suppkey" -> supp), big),
          ("orders", Map("o_orderkey" -> order, "o_custkey" -> cust), big),
          ("customer", Map("c_custkey" -> cust), 32),
          ("part", Map("p_partkey" -> part), 32),
          ("supplier", Map("s_suppkey" -> supp), 8),
          ("documents", Map("doc_id" -> keyStride("documents", "doc_id")), 32),
          ("embeddings", Map("vec_id" -> keyStride("embeddings", "vec_id")), 32),
          ("events", Map("event_id" -> keyStride("events", "event_id"),
            "user_id" -> keyStride("events", "user_id")), 32),
          ("nation", Map.empty[String, Long], 0), ("region", Map.empty[String, Long], 0)
        ).foreach { case (t, keys, parts) =>
          val df = if (keys.isEmpty) read(t) else replicate(read(t), factor, keys)().repartition(parts)
          df.write.mode("overwrite").parquet(s"$out/$t.parquet")
          System.err.println(s"[scale] $t x$factor -> $out/$t.parquet")
        }
        new File(s"$out/_SUCCESS").createNewFile()
      }
      out
    }
  }

  private def root = s"${Engine.scratchRoot}/scale"

  /** `dir`'s absolute path as a file name, plus a digest of every file's
    * (path, length, mtime) under it: a cache built from one base is never
    * read for another, or for the same dir regenerated. */
  private def sourceKey(dir: String): String = {
    val d = new File(dir).getAbsoluteFile
    val sig = FileUtils.listFiles(d, null, true).asScala.toSeq
      .map(f => s"${d.toPath.relativize(f.toPath)}:${f.length}:${f.lastModified}")
      .sorted.mkString("|")
    val fp = java.security.MessageDigest.getInstance("MD5").digest(sig.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    s"${d.getPath.replaceAll("[^A-Za-z0-9.]", "_")}_$fp"
  }

  /** `df` ×`factor`: replica i shifts each key column by i × its stride, so
    * replicas never share a key. `perReplica` sees the replica index as
    * `__rep`, before the shift. */
  def replicate(df: DataFrame, factor: Int, keyStrides: Map[String, Long])(
      perReplica: DataFrame => DataFrame = identity): DataFrame = {
    val reps = perReplica(df.withColumn("__rep", explode(sequence(lit(0L), lit(factor - 1L)))))
    keyStrides.foldLeft(reps) { case (d, (key, s)) =>
      d.withColumn(key, (col(key) + col("__rep") * lit(s)).cast("long"))
    }.drop("__rep")
  }

  /** max(`key`) + 1: the stride that keeps replicas' keys apart. */
  def stride(df: DataFrame, key: String): Long = df.agg(max(col(key))).head.getLong(0) + 1L

  /** Runs `df` to the end, writing nothing. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private val core: Seq[Case] = Seq(

    // per-job wall breakdown of registered queries: job count, per-job wall
    // and call site, and the driver gap, then the final plan
    Case("profile", 1) { r =>
      import r._
      Engine.registerAll(spark, dir)
      scala.util.Try(TpcdsLite.register(spark))
      (if (queries.isEmpty) Seq("q240_txn_data_skipping") else queries).foreach { q =>
        val fn = SparkEntry.queries(q)
        val last = (1 to 2).map { it =>
          val (df, rep) = JobCounter.during(spark) { val df = fn(spark, dir); noop(df); df }
          report(f"==== $q iter $it: wall ${rep.wallS}%.2fs, ${rep.count} jobs, " +
            f"job-sum ${rep.jobSumS}%.2fs, driver-gap ${rep.driverGapS}%.2fs ====")
          rep.jobs.groupBy(_.site).toSeq
            .map { case (s, js) => (s, js.length, js.map(_.wallMs).sum) }
            .sortBy(-_._3).take(20).foreach { case (s, n, ms) =>
              report(f"  $s%-40s n=$n%-4d sum=${ms / 1e3}%.2fs")
            }
          rep.jobs.sortBy(-_.wallMs).take(12).foreach(j =>
            report(f"  top job ${j.id}%-5d ${j.wallMs / 1e3}%.2fs  ${j.site}"))
          df
        }.last
        report(s"final plan of $q:\n${last.queryExecution.executedPlan}")
      }
    },

    // builds the ×N warehouse the other cases share
    Case("scaleup", 64) { r => r.report(s"x${r.factor} warehouse at ${r.tpch()}") },

    // §2.8 conformance: names (one a line, in the file given as the case's
    // argument) that resolve neither to a Spark built-in nor to the pack
    Case("funcaudit", 1) { r =>
      import r._
      graft.functions.HiveFunctionPack.register(spark)
      val file = args.headOption.getOrElse(sys.error("usage: Scale funcaudit <names file>"))
      val src = Source.fromFile(file)
      val names = try src.getLines().map(_.trim.stripSuffix("\"")).filter(_.nonEmpty).toSeq.toList
      finally src.close()
      // operators and keywords the SQL grammar provides, not the registry
      val grammar = Set("!", "!=", "$sum0", "%", "&", "*", "+", "-", "/", "<",
        "<=", "<=>", "<>", "=", "==", ">", ">=", "^", "|", "~", "and", "or",
        "not", "case", "when", "between", "in", "div", "like", "rlike", "regexp",
        "index")
      val missing = names.filterNot { n =>
        grammar.contains(n.toLowerCase) ||
          scala.util.Try(spark.sql(s"DESCRIBE FUNCTION `$n`")).isSuccess
      }
      report("UNRESOLVED: " + missing.mkString(", "))
      report(s"total=${names.size} unresolved=${missing.size}")
    },

    // q263/q280 decode kernels: a compiled per-partition map with no
    // shuffle and no driver collection, so wall scales with rows over
    // parallelism
    Case("decode", 64) { r =>
      import r._
      import spark.implicits._
      def ids(n: Int) = (0L until n.toLong).toDF("doc_id").repartition(32)
      val n = 400 * factor
      val img1 = time("image x1 (400)")(noop(Multimodal.decodeImageStats(Multimodal.imageTable(ids(400)))))._1
      val imgN = time(s"image x$factor ($n)")(noop(Multimodal.decodeImageStats(Multimodal.imageTable(ids(n)))))._1
      val aud1 = time("audio x1 (400)")(noop(Multimodal.decodeAudioStats(Multimodal.audioTable(ids(400)))))._1
      val audN = time(s"audio x$factor ($n)")(noop(Multimodal.decodeAudioStats(Multimodal.audioTable(ids(n)))))._1
      println(f"""{"metric":"decode_scale","image_x1":$img1%.3f,"image_x$factor":$imgN%.3f,"image_ratio":${imgN / img1}%.2f,"audio_x1":$aud1%.3f,"audio_x$factor":$audN%.3f,"audio_ratio":${audN / aud1}%.2f}""")
    },

    // q163 runtime bloom-filter semi-join reduction on a forced shuffle join
    // at ×N, bloom off vs on: at 20% dim selectivity the bloom should drop
    // ~80% of the fact rows before the exchange
    Case("bloom", 64) { r =>
      import r._
      Engine.registerAll(spark, tpch())
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val q = """SELECT l_returnflag, count(*) AS n,
        ROUND(CAST(sum(l_quantity) AS DOUBLE), 2) AS sq
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY l_returnflag"""
      def run(label: String): Double = {
        val inPlan = spark.sql(q).queryExecution.optimizedPlan.toString.contains("might_contain")
        time(s"$label bloom-in-plan=$inPlan")(noop(spark.sql(q)))._1
      }
      val bloom = "spark.sql.optimizer.runtime.bloomFilter."
      spark.conf.set(bloom + "enabled", "false")
      val off = run("bloom OFF")
      val off2 = run("bloom OFF again")
      spark.conf.set(bloom + "enabled", "true")
      spark.conf.set(bloom + "applicationSideScanSizeThreshold", "0")
      val on = run("bloom ON  (default creationSideThreshold)")
      spark.conf.set(bloom + "creationSideThreshold", "256MB")
      val on2 = run("bloom ON  (creationSideThreshold=256MB)")
      report(f"off=$off%.2f offAgain=$off2%.2f on=$on%.2f onBig=$on2%.2f")
    },

    // the tracked join+agg shapes on the ×N warehouse at the session's
    // cores; the cores-ratio table is two invocations (SPARK_GRAFT_CPUS=8
    // and 32). The lineitem noop scan is the I/O+decode floor under every
    // shape: if it stops scaling with cores, so do the queries.
    Case("tpch", 64) { r =>
      import r._
      val d = tpch()
      Engine.registerAll(spark, d)
      val c = s"c${spark.sparkContext.defaultParallelism}"
      noop(SparkEntry.queries("q01_agg_pricing_summary")(spark, d)) // warm-up
      time(s"$c scan_floor_lineitem")(noop(spark.read.parquet(s"$d/lineitem.parquet")))
      Seq("q100_tpch_q5_shape", "q101_tpch_q10_shape", "q03_join_shuffle",
        "q01_agg_pricing_summary").foreach { q =>
        time(s"$c $q")(noop(SparkEntry.queries(q)(spark, d)))
      }
    },

    // query72 (q293), the reference suite's largest join tree: only the
    // sales fact grows, every dimension broadcasts, so wall tracks the
    // filtered fact slice, not the join count
    Case("q72", 16) { r =>
      import r._
      TpcdsLite.register(spark)
      val base = time("x1 fact")(noop(spark.sql(q72)))._1
      val df = spark.sql(q72)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      require(!plan.contains("CartesianProduct"), "q72 planned a cartesian")
      tpcdsFact(r, "catalog_sales")(_.repartition(32).write)
      val xOn = time(s"x$factor fact")(noop(spark.sql(q72)))._1
      println(f"""{"metric":"q72_scale","factor":$factor,"x1":$base%.3f,"x$factor":$xOn%.3f,"scaleup_ratio":${xOn / base}%.2f,"broadcast_joins":${"BroadcastHashJoin".r.findAllIn(plan).size}}""")
    },

    // TPC-DS q3 (q265, the DPP shape) at ×N date-partitioned fact rows,
    // dynamic partition pruning on vs off: the d_moy filter prunes the scan
    // to ~1/12 of the partition dirs at any scale
    Case("tpcds", 16) { r =>
      import r._
      TpcdsLite.register(spark)
      val base = time("x1 fact, DPP on")(noop(spark.sql(q3)))._1
      tpcdsFact(r, "store_sales")(
        _.repartition(col("ss_sold_date_sk")).write.partitionBy("ss_sold_date_sk"))
      val xOn = time(s"x$factor fact, DPP on")(noop(spark.sql(q3)))._1
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
      val xOff = time(s"x$factor fact, DPP OFF")(noop(spark.sql(q3)))._1
      println(f"""{"metric":"tpcds_q3_scale","factor":$factor,"x1_dpp_on":$base%.3f,"x${factor}_dpp_on":$xOn%.3f,"x${factor}_dpp_off":$xOff%.3f,"scaleup_ratio":${xOn / base}%.2f,"dpp_win":${xOff / xOn}%.2f}""")
    })

  /** The TPC-DS-lite fact ×`factor` as `table`, generated once. */
  private def tpcdsFact(r: Run, table: String)(
      write: DataFrame => org.apache.spark.sql.DataFrameWriter[_]): Unit = if (r.factor > 1) {
    val out = s"$root/data/tpcds_${table}_x${r.factor}"
    if (!new File(s"$out/_SUCCESS").exists())
      write(r.spark.sql(TpcdsLite.sparkGenSql(table, r.factor))).mode("overwrite").parquet(out)
    r.spark.read.parquet(out).createOrReplaceTempView(table)
  }

  // q293's body (constants identical; see queries/Tpcds.scala)
  private val q72 =
    """SELECT i_item_desc, w_warehouse_name, d1.d_week_seq AS week_seq,
      |  CAST(COUNT(CASE WHEN p_promo_sk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS no_promo,
      |  CAST(COUNT(CASE WHEN p_promo_sk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS promo,
      |  CAST(COUNT(*) AS BIGINT) AS total_cnt
      |FROM catalog_sales
      |JOIN inventory ON (catalog_sales.cs_item_sk = inventory.inv_item_sk)
      |JOIN warehouse ON (warehouse.w_warehouse_sk = inventory.inv_warehouse_sk)
      |JOIN item ON (item.i_item_sk = catalog_sales.cs_item_sk)
      |JOIN customer_demographics
      |  ON (catalog_sales.cs_bill_cdemo_sk = customer_demographics.cd_demo_sk)
      |JOIN household_demographics
      |  ON (catalog_sales.cs_bill_hdemo_sk = household_demographics.hd_demo_sk)
      |JOIN date_dim d1 ON (catalog_sales.cs_sold_date_sk = d1.d_date_sk)
      |JOIN date_dim d2 ON (inventory.inv_date_sk = d2.d_date_sk)
      |JOIN date_dim d3 ON (catalog_sales.cs_ship_date_sk = d3.d_date_sk)
      |LEFT OUTER JOIN promotion ON (catalog_sales.cs_promo_sk = promotion.p_promo_sk)
      |LEFT OUTER JOIN catalog_returns
      |  ON (catalog_returns.cr_item_sk = catalog_sales.cs_item_sk
      |    AND catalog_returns.cr_order_number = catalog_sales.cs_order_number)
      |WHERE d1.d_week_seq = d2.d_week_seq
      |  AND inv_quantity_on_hand < cs_quantity
      |  AND d3.d_date > d1.d_date + 5
      |  AND hd_buy_potential = 'BP1'
      |  AND d1.d_year = 1998
      |  AND cd_marital_status = 'MS2'
      |GROUP BY i_item_desc, w_warehouse_name, d1.d_week_seq
      |ORDER BY total_cnt DESC, i_item_desc, w_warehouse_name, week_seq
      |LIMIT 100""".stripMargin

  private val q3 =
    """SELECT dt.d_year, item.i_brand_id AS brand_id, item.i_brand AS brand,
      |  CAST(SUM(ss_ext_sales_price) AS DOUBLE) AS sum_agg
      |FROM date_dim dt, store_sales, item
      |WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
      |  AND store_sales.ss_item_sk = item.i_item_sk
      |  AND item.i_manufact_id = 7
      |  AND dt.d_moy = 12
      |GROUP BY dt.d_year, item.i_brand, item.i_brand_id
      |ORDER BY d_year, sum_agg DESC, brand_id
      |LIMIT 100""".stripMargin

  val cases: Seq[Case] = core ++ ScaleAnn.cases ++ ScaleStores.cases

  /** Runs case `name` in a session of its own over `spark`'s context and
    * deletes its scratch dir when it ends. */
  def run(spark: SparkSession, name: String, dir: String, factor: Option[Int] = None,
      queries: Seq[String] = Nil, args: Seq[String] = Nil): Unit = {
    val c = cases.find(_.name == name).getOrElse(
      sys.error(s"unknown case $name; cases: ${cases.map(_.name).mkString(", ")}"))
    val r = new Run(spark.newSession(), name, dir, factor.getOrElse(c.factor), queries, args)
    FileUtils.deleteQuietly(new File(r.scratch))
    try c.body(r) finally FileUtils.deleteQuietly(new File(r.scratch))
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, s"usage: Scale <case> [args]; cases: ${cases.map(_.name).mkString(", ")}")
    val env = sys.env
    val spark = Engine.session(appName = s"graft-scale-${args.head}", cores =
      env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt))
    try run(spark, args.head, env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
      env.get("SPARK_GRAFT_FACTOR").map(_.toInt),
      env.get("SPARK_GRAFT_QUERY").toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty),
      args.tail.toSeq)
    finally spark.stop()
  }
}
