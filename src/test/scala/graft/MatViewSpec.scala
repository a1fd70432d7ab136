package graft

import java.io.File

import graft.operators.{IncrementalAgg, MatView, TxnMergeOnRead, TxnSql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Materialized views ([[graft.operators.MatView]]): plan-matched
  * transparent rewrite over the [[IncrementalAgg]] state, zero-staleness
  * freshness, incremental REBUILD, and honest fallbacks for every shape
  * the state cannot answer. The q220 CORRECTNESS row pins the SQL-surface
  * chain against the oracle; this spec pins the rewrite decisions and —
  * via scan locations in the executed plan — WHERE each query was
  * answered from. */
class MatViewSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 4, appName = "graft-mv")
  import spark.implicits._

  override def afterAll(): Unit = spark.stop()

  private val base = s"${Engine.scratchRoot}/mvspec"

  /** A txn table with known content: k unique, g in 0..4, h in 0..1,
    * x double. */
  private def mk(tag: String, rows: Int = 1000): (String, String) = {
    val root = s"$base/$tag"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
    org.apache.commons.io.FileUtils.deleteQuietly(
      new File(s"${root}_mv_mv_$tag"))
    TxnMergeOnRead.create(spark, root,
      spark.range(0, rows).select(col("id").as("k"),
        (col("id") % 5).as("g"), (col("id") % 2).as("h"),
        (col("id") % 7).cast("double").as("x")))
    TxnSql.register(s"mvt_$tag", root)
    (root, s"mvt_$tag")
  }

  private def scanned(df: DataFrame): Seq[String] = {
    df.collect()
    "file:[^\\]\\s,]*".r.findAllIn(df.queryExecution.executedPlan.toString)
      .toSeq.distinct
  }

  private def answeredFromState(df: DataFrame): Boolean =
    scanned(df).forall(_.contains("_mv_"))

  test("fresh MV answers a matching aggregate from state ONLY — and matches the base computation") {
    val (_, t) = mk("basic")
    MatView.create(spark, s"mv_basic",
      s"SELECT g, h, count(*) AS cnt, sum(x) AS sx FROM $t GROUP BY g, h")
    val q = spark.sql(TxnSql.rewriteReads(spark,
      s"SELECT g, h, count(*) AS cnt, sum(x) AS sx FROM $t GROUP BY g, h"))
    val rw = MatView.tryRewrite(spark, q)
    assert(rw.isDefined, "exact-shape aggregate must rewrite")
    assert(answeredFromState(rw.get),
      s"rewritten plan must scan the MV state only, got ${scanned(rw.get)}")
    // observationally identical: schema and values
    assert(rw.get.schema.map(f => (f.name, f.dataType)) ===
      q.schema.map(f => (f.name, f.dataType)))
    assert(rw.get.orderBy("g", "h").collect().toSeq ===
      q.orderBy("g", "h").collect().toSeq)
  }

  test("rollup to a group subset + WHERE on a group col + avg derivation") {
    val (_, t) = mk("rollup")
    MatView.create(spark, "mv_rollup",
      s"SELECT g, h, count(*) AS c, sum(x) AS s FROM $t GROUP BY g, h")
    val sql = s"SELECT g, count(*) AS c, sum(x) AS s, avg(x) AS a " +
      s"FROM $t WHERE h = 1 GROUP BY g ORDER BY g"
    val q = spark.sql(TxnSql.rewriteReads(spark, sql))
    val rw = MatView.tryRewrite(spark, q)
    assert(rw.isDefined, "group-subset + group-col filter must rewrite")
    assert(answeredFromState(rw.get))
    assert(rw.get.collect().toSeq === q.collect().toSeq,
      "rollup from (g,h) partials must equal the direct (g) aggregate")
  }

  test("staleness: committed DML disables the rewrite until REBUILD re-enables it") {
    val (root, t) = mk("stale")
    MatView.create(spark, "mv_stale",
      s"SELECT g, count(*) AS c, sum(x) AS s FROM $t GROUP BY g")
    val sql = s"SELECT g, count(*) AS c, sum(x) AS s FROM $t GROUP BY g"
    def q() = spark.sql(TxnSql.rewriteReads(spark, sql))
    assert(MatView.tryRewrite(spark, q()).isDefined)
    TxnMergeOnRead.delete(spark, root, "g = 2")
    assert(MatView.tryRewrite(spark, q()).isEmpty,
      "stale state must NOT answer queries — silent fallback to base")
    val (fromV, toV) = MatView.rebuild(spark, "mv_stale")
    assert(toV === fromV + 1, "rebuild consumed exactly the one new version")
    val rw = MatView.tryRewrite(spark, q())
    assert(rw.isDefined, "rebuilt state answers again")
    assert(answeredFromState(rw.get))
    assert(rw.get.orderBy("g").collect().toSeq ===
      q().orderBy("g").collect().toSeq,
      "post-DML state reflects the delete")
  }

  test("honest fallbacks: min, non-group filter, sum of integral col, expression group, distinct") {
    val (_, t) = mk("fallback")
    MatView.create(spark, "mv_fb",
      s"SELECT g, count(*) AS c, sum(x) AS s FROM $t GROUP BY g")
    def rw(sql: String) = MatView.tryRewrite(spark,
      spark.sql(TxnSql.rewriteReads(spark, sql)))
    assert(rw(s"SELECT g, min(x) AS m FROM $t GROUP BY g").isEmpty,
      "min is not derivable from (cnt, sum)")
    assert(rw(s"SELECT g, count(*) AS c FROM $t WHERE k > 10 GROUP BY g").isEmpty,
      "filter on a non-group column cannot be answered from group state")
    assert(rw(s"SELECT g, sum(k) AS sk FROM $t GROUP BY g").isEmpty,
      "integral sum would change the result type — state stores doubles")
    assert(rw(s"SELECT g + 1 AS g1, sum(x) AS s FROM $t GROUP BY g + 1").isEmpty,
      "expression grouping keys are out of scope")
    assert(rw(s"SELECT g, count(DISTINCT h) AS d FROM $t GROUP BY g").isEmpty,
      "distinct aggregates are not derivable")
    assert(rw(s"SELECT g, count(*) AS c, sum(x) AS s FROM $t VERSION AS OF 1 GROUP BY g").isEmpty,
      "a time-travel read must never be answered by current state")
  }

  test("SQL surface end-to-end: CREATE / stale / REBUILD / DROP through Engine.sql") {
    val (root, t) = mk("sqlsurface")
    val dir = "/root/testdata/sf0.001"
    Engine.sql(spark, dir, s"CREATE MATERIALIZED VIEW mv_sql AS " +
      s"SELECT g, count(*) AS c, sum(x) AS s FROM $t GROUP BY g")
    val sql = s"SELECT g, count(*) AS c, sum(x) AS s FROM $t GROUP BY g ORDER BY g"
    val fresh = Engine.sql(spark, dir, sql)
    assert(answeredFromState(fresh), "fresh MV answers through Engine.sql")
    Engine.sql(spark, dir, s"DELETE FROM $t WHERE g = 0")
    val stale = Engine.sql(spark, dir, sql)
    assert(!answeredFromState(stale) && stale.count() === 4,
      "stale falls back to base and sees the delete")
    Engine.sql(spark, dir, "ALTER MATERIALIZED VIEW mv_sql REBUILD")
    val rebuilt = Engine.sql(spark, dir, sql)
    assert(answeredFromState(rebuilt) && rebuilt.count() === 4,
      "REBUILD folded the delete — g=0 group is gone from state")
    Engine.sql(spark, dir, "DROP MATERIALIZED VIEW mv_sql")
    assert(!answeredFromState(Engine.sql(spark, dir, sql)),
      "dropped MV never rewrites")
    assert(MatView.definitionOf("mv_sql").isEmpty)
  }

  test("declared min/max rewrite from state and survive a delete-then-rebuild; undeclared still fall back") {
    val (root, t) = mk("minmax")
    MatView.create(spark, "mv_mm",
      s"SELECT g, count(*) AS c, sum(x) AS s, min(k) AS mn, max(k) AS mx " +
      s"FROM $t GROUP BY g")
    def q(sql: String) = spark.sql(TxnSql.rewriteReads(spark, sql))
    val sql1 = s"SELECT g, min(k) AS mn, max(k) AS mx FROM $t GROUP BY g ORDER BY g"
    val rw1 = MatView.tryRewrite(spark, q(sql1))
    assert(rw1.isDefined && answeredFromState(rw1.get),
      "declared min/max must answer from state")
    assert(rw1.get.collect().toSeq === q(sql1).collect().toSeq)
    // rollup: min over a group SUBSET = min of per-(g,h) mins — but this
    // view groups only by g; use the global rollup instead
    val sqlG = s"SELECT min(k) AS mn, max(k) AS mx FROM $t"
    val rwG = MatView.tryRewrite(spark, q(sqlG))
    assert(rwG.isDefined && rwG.get.collect().toSeq === q(sqlG).collect().toSeq)
    // delete the global max, rebuild (touched-group recompute), rewrite again
    TxnMergeOnRead.delete(spark, root, "k = 999")
    assert(MatView.tryRewrite(spark, q(sql1)).isEmpty, "stale: no rewrite")
    MatView.rebuild(spark, "mv_mm")
    val rw2 = MatView.tryRewrite(spark, q(sql1))
    assert(rw2.isDefined && answeredFromState(rw2.get))
    assert(rw2.get.collect().toSeq === q(sql1).collect().toSeq,
      "post-delete extrema are exact (the departed row WAS a max)")
    // an UNDECLARED min column still falls back honestly
    assert(MatView.tryRewrite(spark,
      q(s"SELECT g, min(x) AS m FROM $t GROUP BY g")).isEmpty)
  }

  test("global aggregate (no GROUP BY in query) derives from state; empty table edge") {
    val (_, t) = mk("global")
    MatView.create(spark, "mv_g",
      s"SELECT g, count(*) AS c, sum(x) AS s FROM $t GROUP BY g")
    val sql = s"SELECT count(*) AS c, sum(x) AS s, avg(x) AS a FROM $t"
    val q = spark.sql(TxnSql.rewriteReads(spark, sql))
    val rw = MatView.tryRewrite(spark, q)
    assert(rw.isDefined && answeredFromState(rw.get))
    assert(rw.get.collect().toSeq === q.collect().toSeq)
  }

  test("defining statement rejects WHERE, missing GROUP BY, and unregistered tables") {
    val (_, t) = mk("def")
    intercept[IllegalArgumentException](MatView.create(spark, "mv_w",
      s"SELECT g, count(*) AS c, sum(x) AS s FROM $t WHERE h = 1 GROUP BY g"))
    intercept[IllegalArgumentException](MatView.create(spark, "mv_ng",
      s"SELECT count(*) AS c, sum(x) AS s FROM $t"))
    intercept[IllegalArgumentException](MatView.create(spark, "mv_ur",
      "SELECT id, count(*) AS c, sum(id) AS s FROM range(10) GROUP BY id"))
  }
}
