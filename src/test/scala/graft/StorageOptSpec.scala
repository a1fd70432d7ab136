package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Storage/optimizer features behind q161–q163: ORC bloom filter streams
  * really land in the file footer and the point predicate reaches the ORC
  * scan; CBO join reordering really flips the join order given stats; the
  * runtime bloom filter really appears on the fact side of a selective
  * shuffle join. These are the mechanisms the queries claim — asserted,
  * not assumed.
  */
class StorageOptSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 4, appName = "graft-storageopt")
  val dir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  test("q161: ORC footer carries bloom streams for k only; IN-predicate reaches the scan") {
    val df = SparkEntry.queries("q161_src_orc_bloom")(spark, dir)
    df.collect()
    // predicate pushdown into the ORC scan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(k"),
      s"IN predicate did not reach the ORC scan:\n$plan")
    // footer: bloom stream present for column k (id 1), absent elsewhere
    val d = new java.io.File(s"${Engine.scratchRoot}/srcdata/sf0.001/orc_bloom_orders")
    val orc = d.listFiles().filter(_.getName.endsWith(".orc")).head
    val conf = new org.apache.hadoop.conf.Configuration()
    val reader = org.apache.orc.OrcFile.createReader(
      new org.apache.hadoop.fs.Path(orc.getAbsolutePath),
      org.apache.orc.OrcFile.readerOptions(conf))
    val rr = reader.rows().asInstanceOf[org.apache.orc.impl.RecordReaderImpl]
    try {
      val ncols = reader.getSchema.getMaximumId + 1
      val inc = Array.fill(ncols)(true)
      val kinds = rr.readRowIndex(0, inc, inc).getBloomFilterKinds
      assert(kinds(1) != null, "no bloom filter stream for column k")
      assert(kinds(2) == null, "bloom filter written for a column not in orc.bloom.filter.columns")
    } finally rr.close()
  }

  test("q162: column stats + CBO flip the join order (selective dim joins first)") {
    // build the same stats-bearing tables the query uses, then compare the
    // optimized join leaf order with CBO off vs on
    SparkEntry.queries("q162_cbo_join_reorder")(spark, dir).collect()
    val q = """SELECT n_name, count(*) AS n
      FROM g162_ord_sf0_001 o
      JOIN g162_cust_sf0_001 c ON o.o_custkey = c.c_custkey
      JOIN g162_nat_sf0_001 n ON c.c_nationkey = n.n_nationkey
      WHERE n.n_name IN ('NATION_3','NATION_17')
      GROUP BY n_name"""
    def leafOrder(): Seq[String] =
      spark.sql(q).queryExecution.optimizedPlan.collectLeaves()
        .map(_.toString.replaceAll("\n[\\s\\S]*", ""))
    val keys = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      keys.foreach(spark.conf.set(_, "false"))
      val off = leafOrder()
      keys.foreach(spark.conf.set(_, "true"))
      val on = leafOrder()
      assert(off.head.contains("g162_ord"),
        s"without CBO the join keeps written order (fact first): $off")
      assert(!on.head.contains("g162_ord") && on.last.contains("g162_ord"),
        s"CBO should pull the selective dim join inward, fact last: $on")
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("q163: runtime bloom filter lands on the fact side of the shuffle join") {
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      Engine.registerAll(spark, dir)
      val df = spark.sql("""SELECT l_returnflag, count(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY l_returnflag""")
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") && opt.contains("bloom_filter_agg"),
        s"runtime bloom filter not injected:\n$opt")
      // and it filters the FACT side: might_contain guards l_orderkey
      assert(opt.replaceAll("[\\s\\S]*might_contain", "might_contain")
        .take(200).contains("l_orderkey"),
        "bloom filter should guard the fact table's join key")
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
