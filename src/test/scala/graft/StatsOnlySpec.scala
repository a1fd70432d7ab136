package graft

import java.io.File
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Stats-only query answering (Hive StatsOptimizer analog,
  * `ql/src/java/org/apache/hadoop/hive/ql/optimizer/StatsOptimizer.java:97`):
  * after ANALYZE, a global count/min/max over a bare catalog table must
  * collapse to a [[LocalRelation]] — no scan scheduled at all — and still
  * return the right values. Also pins the safety gates: a WHERE clause, a
  * non-stats-answerable aggregate, and the kill switch all fall back to a
  * real scan.
  */
class StatsOnlySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 4, appName = "graft-stats")

  override def afterAll(): Unit = spark.stop()

  private val tbl = "statsonly_t"
  private val loc = s"${Engine.scratchRoot}/statsonlyspec/t"

  override def beforeAll(): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(loc))
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v STRING) USING parquet LOCATION '$loc'")
    spark.sql(s"INSERT OVERWRITE $tbl SELECT id, concat('v', id) FROM range(0, 1000)")
    spark.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR ALL COLUMNS")
  }

  private def isStatsAnswered(sql: String): Boolean =
    spark.sql(sql).queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  test("ANALYZEd count/min/max collapses to LocalRelation with correct values") {
    val q = s"SELECT count(*) AS n, min(k) AS mn, max(k) AS mx FROM $tbl"
    assert(isStatsAnswered(q), "stats-only rewrite did not fire")
    val r = spark.sql(q).head()
    assert(r.getLong(0) == 1000L && r.getLong(1) == 0L && r.getLong(2) == 999L)
  }

  test("count(col) uses null counts from column stats") {
    spark.sql(s"INSERT INTO $tbl VALUES (CAST(NULL AS BIGINT), 'x')")
    // write invalidates rowCount → rule must NOT fire on stale stats
    assert(!isStatsAnswered(s"SELECT count(k) AS n FROM $tbl"))
    spark.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR ALL COLUMNS")
    val q = s"SELECT count(k) AS n, count(*) AS total FROM $tbl"
    assert(isStatsAnswered(q), "rewrite did not fire after re-ANALYZE")
    val r = spark.sql(q).head()
    assert(r.getLong(0) == 1000L && r.getLong(1) == 1001L)
  }

  test("filters, distinct aggregates, and the kill switch fall back to a scan") {
    assert(!isStatsAnswered(s"SELECT count(*) AS n FROM $tbl WHERE k > 10"))
    assert(!isStatsAnswered(s"SELECT count(DISTINCT k) AS n FROM $tbl"))
    assert(!isStatsAnswered(s"SELECT sum(k) AS s FROM $tbl"))
    spark.conf.set("spark.graft.statsOnlyAnswering", "false")
    try assert(!isStatsAnswered(s"SELECT count(*) AS n FROM $tbl"))
    finally spark.conf.unset("spark.graft.statsOnlyAnswering")
  }
}
