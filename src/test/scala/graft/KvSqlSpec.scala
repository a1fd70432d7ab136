package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.KvSql

/** Textual KV-table surface (`CREATE KV TABLE … MAPPING` — the reference's
  * `STORED BY 'HBaseStorageHandler' WITH SERDEPROPERTIES
  * ('hbase.columns.mapping'=…)` spelling): statement parsing, positional
  * INSERT binding, view refresh after mutations, the Hive 2.1 ACID-DML
  * refusal, and managed DROP. */
class KvSqlSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 4, appName = "graft-kvsql")
  val dir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  private def root(name: String): String = {
    val d = s"${Engine.scratchRoot}/kvsqlspec/$name"
    val p = new org.apache.hadoop.fs.Path(d)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (f.exists(p)) f.delete(p, true)
    d
  }

  private def sql(q: String) = Engine.sql(spark, dir, q)

  test("create/insert/select/compact/drop lifecycle; INSERT binds positionally with casts") {
    val r = root("life")
    scala.util.Try(sql("DROP KV TABLE kvsql_t1"))
    sql(s"CREATE KV TABLE kvsql_t1 (k STRING, a BIGINT) LOCATION '$r' " +
      "MAPPING ':key,f:a#b' REGIONS 2")
    // INT literals bind to the declared BIGINT positionally (cast applied)
    sql("INSERT INTO kvsql_t1 SELECT 'k1', 10 UNION ALL SELECT 'k2', 20")
    sql("INSERT INTO kvsql_t1 SELECT 'k1', 11") // upsert wins
    val got = sql("SELECT k, a FROM kvsql_t1 ORDER BY k").collect()
    assert(got.map(x => (x.getString(0), x.getLong(1))).toSeq ==
      Seq(("k1", 11L), ("k2", 20L)))
    sql("ALTER KV TABLE kvsql_t1 COMPACT")
    assert(sql("SELECT count(*) FROM kvsql_t1").head().getLong(0) == 2)
    sql("DROP KV TABLE kvsql_t1")
    // managed drop removed the data and the view
    assert(!new java.io.File(r).exists())
    assert(scala.util.Try(spark.sql("SELECT * FROM kvsql_t1")).isFailure)
  }

  test("rejects: duplicate create, unknown table, arity mismatch, ACID DML refusal") {
    val r = root("rej")
    scala.util.Try(sql("DROP KV TABLE kvsql_t2"))
    sql(s"CREATE KV TABLE kvsql_t2 (k STRING, a BIGINT) LOCATION '$r' MAPPING ':key,f:a#b'")
    intercept[IllegalArgumentException](
      sql(s"CREATE KV TABLE kvsql_t2 (k STRING, a BIGINT) LOCATION '$r' MAPPING ':key,f:a#b'"))
    intercept[IllegalArgumentException](sql("ALTER KV TABLE kvsql_nope COMPACT"))
    intercept[IllegalArgumentException](
      sql("INSERT INTO kvsql_t2 SELECT 'k', 1, 2"))
    val e = intercept[UnsupportedOperationException](
      sql("DELETE FROM kvsql_t2 WHERE k = 'k'"))
    assert(e.getMessage.contains("storage handler"))
    sql("DROP KV TABLE kvsql_t2")
  }

  test("CREATE VISIBILITY label stamps inserts; reads through the handler honor auths") {
    val r = root("vis")
    scala.util.Try(sql("DROP KV TABLE kvsql_t3"))
    sql(s"CREATE KV TABLE kvsql_t3 (k STRING, a BIGINT) LOCATION '$r' " +
      "MAPPING ':key,f:a#b' VISIBILITY 'pii&finance'")
    sql("INSERT INTO kvsql_t3 SELECT 'k1', 5")
    // the registered view is the connector-user (full-auth) view
    assert(sql("SELECT count(*) FROM kvsql_t3").head().getLong(0) == 1)
    // a restricted scanner through the handler API sees nothing
    val m = graft.sources.KvStorageHandler.parseMapping(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("a",
          org.apache.spark.sql.types.LongType))), ":key,f:a#b")
    assert(graft.sources.KvStorageHandler.read(spark, r, m,
      Some(Set("pii"))).count() == 0)
    assert(graft.sources.KvStorageHandler.read(spark, r, m,
      Some(Set("pii", "finance"))).count() == 1)
    // a malformed label fails at CREATE, not at first insert
    intercept[IllegalArgumentException](
      sql(s"CREATE KV TABLE kvsql_t4 (k STRING, a BIGINT) LOCATION '$r' " +
        "MAPPING ':key,f:a#b' VISIBILITY 'a&'"))
    sql("DROP KV TABLE kvsql_t3")
  }

  test("AUTHORIZATIONS table property bounds every SELECT through the view") {
    val r = root("auth")
    scala.util.Try(sql("DROP KV TABLE kvsql_t5"))
    scala.util.Try(sql("DROP KV TABLE kvsql_t5w"))
    // a full-auth writer table and a restricted reader table over the SAME
    // store — the accumulo.authorizations split (scan-side bound)
    sql(s"CREATE KV TABLE kvsql_t5w (k STRING, a BIGINT) LOCATION '$r' " +
      "MAPPING ':key,f:a#b' VISIBILITY 'pii'")
    sql("INSERT INTO kvsql_t5w SELECT 'k1', 1")
    sql(s"CREATE KV TABLE kvsql_t5 (k STRING, a BIGINT) LOCATION '$r' " +
      "MAPPING ':key,f:a#b' AUTHORIZATIONS 'public'")
    sql("INSERT INTO kvsql_t5 SELECT 'k2', 2") // unlabeled write
    assert(sql("SELECT count(*) FROM kvsql_t5").head().getLong(0) == 1,
      "the 'public'-auth view must not see the pii-labeled cell")
    assert(sql("SELECT count(*) FROM kvsql_t5w").head().getLong(0) == 2,
      "the full-auth view sees both")
    // dropping ONE of two tables over the same store must not delete the
    // sibling's data
    sql("DROP KV TABLE kvsql_t5")
    assert(sql("SELECT count(*) FROM kvsql_t5w").head().getLong(0) == 2,
      "the sibling table over the same store survives the drop")
    sql("DROP KV TABLE kvsql_t5w") // last one out deletes
    assert(!new java.io.File(r).exists())
  }

  test("lowercase insert with a short table name routes and binds correctly") {
    val r = root("lower")
    scala.util.Try(sql("DROP KV TABLE t"))
    sql(s"create kv table t (k STRING, a BIGINT) location '$r' mapping ':key,f:a#b'")
    sql("insert into t select 'k1', 7")
    assert(sql("select a from t where k = 'k1'").head().getLong(0) == 7L,
      "indexOf-style target location would have broken the lowercase body slice")
    sql("DROP KV TABLE t")
  }
}
