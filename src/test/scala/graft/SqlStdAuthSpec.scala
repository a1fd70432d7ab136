package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.security.SqlStdAuth

/** SQL-standard authorization semantics vs the reference plugin
  * (`ql/security/authorization/plugin/sqlstd/`): admin-only role DDL,
  * reserved role names, transitive role membership with the implicit
  * `public` role, owner OWNER_PRIV, grant-option discipline on GRANT,
  * grantor-scoped REVOKE, SET ROLE restriction, the
  * Operation2Privilege statement→privilege map enforced through
  * [[Engine.sql]], and SHOW GRANT / ROLES rendering. */
class SqlStdAuthSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 4, appName = "graft-auth")
  private val dir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = { SqlStdAuth.disable(); spark.stop() }

  private def sql(q: String) = Engine.sql(spark, dir, q)

  private def deniedMsg(body: => Any): String =
    intercept[SecurityException](body).getMessage

  test("role DDL is admin-only; reserved and built-in role names are rejected") {
    SqlStdAuth.enable(adminUser = "alice")
    sql("CREATE ROLE analysts")
    assert(deniedMsg(sql("CREATE ROLE all")).contains("reserved"))
    assert(deniedMsg(sql("CREATE ROLE public")).contains("reserved"))
    SqlStdAuth.setUser("bob")
    assert(deniedMsg(sql("CREATE ROLE r2")).contains("ADMIN role"))
    assert(deniedMsg(sql("DROP ROLE analysts")).contains("ADMIN role"))
  }

  test("membership is transitive through role-to-role grants; public is implicit") {
    SqlStdAuth.enable(adminUser = "alice")
    sql("CREATE ROLE outer_r")
    sql("CREATE ROLE inner_r")
    sql("GRANT ROLE inner_r TO ROLE outer_r")
    sql("GRANT ROLE outer_r TO USER bob")
    val bobRoles = sql("SHOW ROLE GRANT USER bob").collect().map(_.getString(0)).toSet
    assert(bobRoles == Set("public", "outer_r", "inner_r"))
    // granting a role needs admin or WITH ADMIN OPTION
    SqlStdAuth.setUser("bob")
    assert(deniedMsg(sql("GRANT ROLE inner_r TO USER carol")).contains("not allowed"))
    SqlStdAuth.setUser("alice")
    sql("GRANT ROLE inner_r TO USER carol WITH ADMIN OPTION")
    SqlStdAuth.setUser("carol")
    sql("GRANT ROLE inner_r TO USER dave") // carol holds ADMIN OPTION now
  }

  test("REVOKE ROLE of a never-granted membership fails loudly (r15: the " +
      "primitive-Boolean map unboxed a missing key to false, so the check " +
      "could never fire)") {
    SqlStdAuth.enable(adminUser = "alice")
    sql("CREATE ROLE ghosts")
    assert(deniedMsg(sql("REVOKE ROLE ghosts FROM USER bob"))
      .contains("does not have role"))
    // and the real revoke path still works end-to-end
    sql("GRANT ROLE ghosts TO USER bob")
    sql("REVOKE ROLE ghosts FROM USER bob")
    assert(deniedMsg(sql("REVOKE ROLE ghosts FROM USER bob"))
      .contains("does not have role"))
  }

  test("owner holds every privilege with grant option; grant requires grant option") {
    SqlStdAuth.enable(adminUser = "alice")
    SqlStdAuth.registerTable("customer", owner = "owen")
    // non-owner without grants cannot grant
    SqlStdAuth.setUser("bob")
    assert(deniedMsg(sql("GRANT SELECT ON customer TO USER carol"))
      .contains("Permission denied"))
    // owner can; plain grant does NOT let the grantee re-grant
    SqlStdAuth.setUser("owen")
    sql("GRANT SELECT ON customer TO USER bob")
    SqlStdAuth.setUser("bob")
    assert(deniedMsg(sql("GRANT SELECT ON customer TO USER carol"))
      .contains("Permission denied"))
    // WITH GRANT OPTION does
    SqlStdAuth.setUser("owen")
    sql("GRANT SELECT ON customer TO USER bob WITH GRANT OPTION")
    SqlStdAuth.setUser("bob")
    sql("GRANT SELECT ON customer TO USER carol")
  }

  test("enforcement maps statements per Operation2Privilege and denies with the reference message") {
    SqlStdAuth.enable(adminUser = "alice")
    SqlStdAuth.registerTable("customer", owner = "owen")
    SqlStdAuth.registerTable("orders", owner = "owen")
    SqlStdAuth.setUser("owen")
    sql("GRANT SELECT ON customer TO USER bob")
    SqlStdAuth.setUser("bob")
    // granted SELECT passes, ungranted table denies with the exact shape
    assert(sql("SELECT count(*) AS c FROM customer").collect()(0).getLong(0) > 0)
    val m = deniedMsg(sql("SELECT count(*) FROM orders"))
    assert(m.contains("Permission denied: Principal [name=bob, type=USER]"))
    assert(m.contains("[[SELECT] on Object [type=TABLE_OR_VIEW, name=orders]]"))
    // a join checks EVERY input
    assert(deniedMsg(sql(
      "SELECT count(*) FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey"))
      .contains("name=orders"))
    // unregistered relations are not securable objects — they pass
    assert(sql("SELECT count(*) AS c FROM lineitem").collect()(0).getLong(0) > 0)
  }

  test("INSERT needs INSERT; INSERT OVERWRITE additionally needs DELETE (QUERY op map)") {
    SqlStdAuth.enable(adminUser = "alice")
    val root = s"${Engine.scratchRoot}/authspec/t1"
    val p = new org.apache.hadoop.fs.Path(root)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (f.exists(p)) f.delete(p, true)
    scala.util.Try(sql("DROP KV TABLE authkv"))
    sql(s"CREATE KV TABLE authkv (k STRING, v DOUBLE) LOCATION '$root' " +
      "MAPPING ':key,f:v#b' REGIONS 2")
    SqlStdAuth.registerTable("authkv", owner = "owen")
    SqlStdAuth.registerTable("customer", owner = "owen")
    SqlStdAuth.setUser("owen")
    sql("GRANT SELECT ON customer TO USER bob")
    sql("GRANT INSERT ON authkv TO USER bob")
    SqlStdAuth.setUser("bob")
    sql("INSERT INTO authkv SELECT lpad(CAST(c_custkey AS STRING), 12, '0'), " +
      "round(c_acctbal, 2) FROM customer WHERE c_custkey <= 50")
    // overwrite = INSERT + DELETE; bob lacks DELETE
    assert(deniedMsg(sql("INSERT OVERWRITE TABLE authkv SELECT " +
      "lpad(CAST(c_custkey AS STRING), 12, '0'), 0.0 FROM customer WHERE c_custkey <= 5"))
      .contains("[[DELETE] on Object [type=TABLE_OR_VIEW, name=authkv]]"))
    SqlStdAuth.setUser("owen")
    sql("GRANT DELETE ON authkv TO USER bob")
    SqlStdAuth.setUser("bob")
    sql("INSERT OVERWRITE TABLE authkv SELECT " +
      "lpad(CAST(c_custkey AS STRING), 12, '0'), 0.0 FROM customer WHERE c_custkey <= 5")
    SqlStdAuth.disable()
    sql("DROP KV TABLE authkv")
  }

  test("REVOKE is grantor-scoped for non-admins; GRANT OPTION FOR downgrades in place") {
    SqlStdAuth.enable(adminUser = "alice")
    SqlStdAuth.registerTable("customer", owner = "owen")
    SqlStdAuth.setUser("owen")
    sql("GRANT SELECT ON customer TO USER bob WITH GRANT OPTION")
    SqlStdAuth.setUser("bob")
    sql("GRANT SELECT ON customer TO USER carol")
    // bob didn't grant owen's grant — cannot revoke it… and carol's grantor is bob
    SqlStdAuth.setUser("carol")
    assert(deniedMsg(sql("REVOKE SELECT ON customer FROM USER bob"))
      .contains("Cannot find privilege"))
    // downgrade: bob keeps SELECT, loses the option
    SqlStdAuth.setUser("owen")
    sql("REVOKE GRANT OPTION FOR SELECT ON customer FROM USER bob")
    SqlStdAuth.setUser("bob")
    assert(sql("SELECT count(*) AS c FROM customer").collect()(0).getLong(0) > 0)
    assert(deniedMsg(sql("GRANT SELECT ON customer TO USER dave"))
      .contains("Permission denied"))
    // full revoke by the original grantor
    SqlStdAuth.setUser("owen")
    sql("REVOKE SELECT ON customer FROM USER bob")
    SqlStdAuth.setUser("bob")
    assert(deniedMsg(sql("SELECT count(*) FROM customer")).contains("Permission denied"))
  }

  test("SET ROLE restricts the active set; NONE drops role-derived privileges") {
    SqlStdAuth.enable(adminUser = "alice")
    SqlStdAuth.registerTable("customer", owner = "owen")
    sql("CREATE ROLE readers")
    sql("GRANT ROLE readers TO USER bob")
    SqlStdAuth.setUser("owen")
    sql("GRANT SELECT ON customer TO ROLE readers")
    SqlStdAuth.setUser("bob")
    assert(sql("SELECT count(*) AS c FROM customer").collect()(0).getLong(0) > 0)
    sql("SET ROLE NONE")
    assert(deniedMsg(sql("SELECT count(*) FROM customer")).contains("Permission denied"))
    sql("SET ROLE readers")
    assert(sql("SELECT count(*) AS c FROM customer").collect()(0).getLong(0) > 0)
    assert(deniedMsg(sql("SET ROLE analysts_nonmember")).contains("doesn't belong"))
    val cur = sql("SHOW CURRENT ROLES").collect().map(_.getString(0)).toSet
    assert(cur == Set("public", "readers"))
  }

  test("ALL expands to the four privilege types; SHOW GRANT renders the grant ledger") {
    SqlStdAuth.enable(adminUser = "alice")
    SqlStdAuth.registerTable("customer", owner = "owen")
    SqlStdAuth.setUser("owen")
    sql("GRANT ALL ON customer TO USER bob")
    val g = sql("SHOW GRANT USER bob ON customer").collect()
    assert(g.map(_.getString(3)).toSeq == Seq("SELECT", "INSERT", "UPDATE", "DELETE"))
    assert(g.forall(r => r.getString(0) == "customer" && r.getString(1) == "bob" &&
      r.getString(2) == "USER" && !r.getBoolean(4) && r.getString(6) == "owen"))
    assert(g.map(_.getLong(5)).toSeq == Seq(1L, 2L, 3L, 4L)) // deterministic ordinals
    val roles = sql("SHOW ROLES").collect().map(_.getString(0)).toSet
    assert(roles == Set("admin", "public"))
    assert(deniedMsg(sql("GRANT EXECUTE ON customer TO USER bob"))
      .contains("Unsupported privilege type"))
  }
}
