package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TableConstraints

/** PK/FK informational constraints (q349–q351): the RELY rewrites must
  * actually fire (join gone, aggregate gone), must NOT fire without RELY /
  * without full-PK coverage / when parent columns are used / when the
  * parent is filtered / when a same-named derived column impersonates the
  * PK, and must return exactly what the un-rewritten plan returns. */
class PkFkConstraintSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 4, appName = "graft-pkfk")
  val dir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  private def joins(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case j: Join => j }.size
  private def aggs(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.size

  private def setup(): Unit = {
    Engine.registerAll(spark, dir)
    TableConstraints.clear("cs_parent", "cs_child")
    spark.sql("DROP TABLE IF EXISTS cs_parent")
    spark.sql("DROP TABLE IF EXISTS cs_child")
    // a crashed earlier run can leave an orphan managed-table location that
    // DROP (of the no-longer-registered table) does not clean
    Seq("cs_parent", "cs_child").foreach(t => org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(s"${Engine.scratchRoot}/warehouse/$t")))
    spark.sql("CREATE TABLE cs_parent USING parquet AS " +
      "SELECT c_custkey, c_name, c_nationkey FROM customer")
    spark.sql("CREATE TABLE cs_child USING parquet AS SELECT o_orderkey, " +
      "CASE WHEN o_orderkey % 97 = 0 THEN CAST(NULL AS BIGINT) " +
      "ELSE o_custkey END AS fk FROM orders")
  }

  private def declareRely(): Unit = {
    TableConstraints.execDdl(spark, "ALTER TABLE cs_parent ADD CONSTRAINT pk_p " +
      "PRIMARY KEY (c_custkey) DISABLE NOVALIDATE RELY")
    TableConstraints.execDdl(spark, "ALTER TABLE cs_child ADD CONSTRAINT fk_c " +
      "FOREIGN KEY (fk) REFERENCES cs_parent(c_custkey) DISABLE NOVALIDATE RELY")
  }

  private val joinSql =
    """SELECT fk % 10 AS bucket, count(*) AS n, sum(o_orderkey) AS sk
      |FROM cs_child c JOIN cs_parent p ON c.fk = p.c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  test("RELY FK join elimination fires and matches the un-rewritten result") {
    setup(); declareRely()
    val df = spark.sql(joinSql)
    assert(joins(df) == 0, s"join not eliminated:\n${df.queryExecution.optimizedPlan}")
    val rewritten = df.collect().map(_.toString).toSeq
    spark.conf.set("spark.graft.relyConstraintRewrites", "false")
    try {
      val df2 = spark.sql(joinSql)
      assert(joins(df2) == 1, "kill switch must keep the join")
      assert(df2.collect().map(_.toString).toSeq == rewritten,
        "rewritten result must equal the real join")
    } finally spark.conf.set("spark.graft.relyConstraintRewrites", "true")
  }

  test("NORELY keeps the join (informational-only until the user opts in)") {
    setup()
    TableConstraints.execDdl(spark, "ALTER TABLE cs_parent ADD CONSTRAINT pk_p " +
      "PRIMARY KEY (c_custkey) DISABLE NOVALIDATE RELY")
    TableConstraints.execDdl(spark, "ALTER TABLE cs_child ADD CONSTRAINT fk_c " +
      "FOREIGN KEY (fk) REFERENCES cs_parent(c_custkey) DISABLE NOVALIDATE NORELY")
    assert(joins(spark.sql(joinSql)) == 1)
  }

  test("a parent-column consumer keeps the join") {
    setup(); declareRely()
    val df = spark.sql(
      """SELECT p.c_name, count(*) AS n
        |FROM cs_child c JOIN cs_parent p ON c.fk = p.c_custkey
        |GROUP BY 1 ORDER BY 1 LIMIT 5""".stripMargin)
    assert(joins(df) == 1, "parent columns are used — elimination would be wrong")
  }

  test("a filtered parent keeps the join (filter could drop matching rows)") {
    setup(); declareRely()
    val df = spark.sql(
      """SELECT c.fk, count(*) AS n
        |FROM cs_child c JOIN cs_parent p ON c.fk = p.c_custkey
        |WHERE p.c_nationkey < 5
        |GROUP BY 1 ORDER BY 1 LIMIT 5""".stripMargin)
    assert(joins(df) == 1, "a real parent filter must block elimination")
  }

  test("RELY PK distinct elimination fires; NORELY / partial-PK keep the aggregate") {
    setup()
    TableConstraints.execDdl(spark, "ALTER TABLE cs_parent ADD CONSTRAINT pk_p " +
      "PRIMARY KEY (c_custkey) DISABLE NOVALIDATE RELY")
    val q = "SELECT DISTINCT c_custkey, c_name FROM cs_parent WHERE c_nationkey < 13"
    val df = spark.sql(q)
    assert(aggs(df) == 0, s"distinct not eliminated:\n${df.queryExecution.optimizedPlan}")
    // result parity vs the kill switch
    val fast = df.collect().map(_.toString).sorted.toSeq
    spark.conf.set("spark.graft.relyConstraintRewrites", "false")
    try {
      val slow = spark.sql(q)
      assert(aggs(slow) == 1)
      assert(slow.collect().map(_.toString).sorted.toSeq == fast)
    } finally spark.conf.set("spark.graft.relyConstraintRewrites", "true")
    // grouping below the PK must keep the aggregate
    assert(aggs(spark.sql("SELECT DISTINCT c_name FROM cs_parent")) == 1)
    // NORELY must keep it
    TableConstraints.execDdl(spark, "ALTER TABLE cs_parent DROP CONSTRAINT pk_p")
    TableConstraints.execDdl(spark, "ALTER TABLE cs_parent ADD CONSTRAINT pk_p " +
      "PRIMARY KEY (c_custkey) DISABLE NOVALIDATE NORELY")
    assert(aggs(spark.sql(q)) == 1)
  }

  test("a derived column impersonating the PK name does not eliminate") {
    setup()
    TableConstraints.execDdl(spark, "ALTER TABLE cs_parent ADD CONSTRAINT pk_p " +
      "PRIMARY KEY (c_custkey) DISABLE NOVALIDATE RELY")
    // c_custkey here is DERIVED (mod 10 — duplicates exist); same name,
    // different exprId — elimination would change results
    val df = spark.sql(
      "SELECT DISTINCT c_custkey, c_nationkey FROM " +
        "(SELECT c_custkey % 10 AS c_custkey, c_nationkey FROM cs_parent)")
    assert(aggs(df) == 1, "name-only PK match must not eliminate")
    val n = df.count()
    assert(n < spark.table("cs_parent").count(), "distinct must actually dedup here")
  }

  test("DDL validation: the create_with_constraints.q rejection set") {
    setup()
    def denied(sql: String): Unit =
      assert(scala.util.Try(TableConstraints.execDdl(spark, sql)).isFailure, sql)
    TableConstraints.execDdl(spark, "ALTER TABLE cs_parent ADD CONSTRAINT pk_p " +
      "PRIMARY KEY (c_custkey) DISABLE NOVALIDATE")
    denied("ALTER TABLE cs_parent ADD CONSTRAINT e1 PRIMARY KEY (c_name) ENABLE NOVALIDATE")
    denied("ALTER TABLE cs_parent ADD CONSTRAINT e2 PRIMARY KEY (c_name) DISABLE VALIDATE")
    denied("ALTER TABLE cs_parent ADD CONSTRAINT e3 PRIMARY KEY (c_name) DISABLE NOVALIDATE")
    denied("ALTER TABLE cs_child ADD CONSTRAINT e4 FOREIGN KEY (fk, o_orderkey) " +
      "REFERENCES cs_parent(c_custkey) DISABLE NOVALIDATE")
    denied("ALTER TABLE cs_child ADD CONSTRAINT e5 FOREIGN KEY (fk) " +
      "REFERENCES cs_parent(c_name) DISABLE NOVALIDATE")
    denied("ALTER TABLE cs_child ADD CONSTRAINT e6 FOREIGN KEY (fk) " +
      "REFERENCES cs_nopk(x) DISABLE NOVALIDATE")
    // composite PK + matching composite FK round-trips
    TableConstraints.clear("cs_parent")
    TableConstraints.execDdl(spark, "ALTER TABLE cs_parent ADD CONSTRAINT pk2 " +
      "PRIMARY KEY (c_custkey, c_nationkey) DISABLE NOVALIDATE RELY")
    val pk = TableConstraints.primaryKeyOf("cs_parent").get
    assert(pk.cols == Seq("c_custkey", "c_nationkey") && pk.rely)
  }
}
