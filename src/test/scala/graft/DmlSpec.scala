package graft

import graft.operators.CopyOnWriteDml
import java.io.File
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Copy-on-write DML contract beyond the q111-q113 oracle checks: the
  * partition-pruned rewrite must leave untouched partition directories
  * PHYSICALLY untouched (no read, no rewrite — the property that makes a
  * 100 TB UPDATE affordable), emptied partitions must disappear, and MERGE
  * must detect cardinality violations when asked to. */
class DmlSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 4, appName = "graft-dml")

  override def afterAll(): Unit = spark.stop()

  private val base = s"${Engine.scratchRoot}/dmlspec"

  /** parquet data files under a partition dir with their mtimes. */
  private def files(loc: String, part: String): Map[String, Long] = {
    val d = new File(s"$loc/$part")
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
  }

  private def mkPartitioned(tbl: String, loc: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(loc))
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v STRING, p STRING) " +
      s"USING parquet PARTITIONED BY (p) LOCATION '$loc'")
    spark.sql(s"INSERT OVERWRITE $tbl " +
      "SELECT id, concat('v', id), CASE WHEN id % 3 = 0 THEN 'a' " +
      "WHEN id % 3 = 1 THEN 'b' ELSE 'c' END FROM range(0, 300)")
  }

  test("update rewrites only the partitions holding matched rows") {
    val (tbl, loc) = ("dmlspec_upd", s"$base/upd")
    mkPartitioned(tbl, loc)
    val beforeB = files(loc, "p=b")
    val beforeC = files(loc, "p=c")
    CopyOnWriteDml.update(spark, tbl,
      set = Seq("v" -> "upper(v)"), cond = "p = 'a' AND k % 2 = 0")
    // untouched partitions: identical file names AND mtimes
    assert(files(loc, "p=b") == beforeB)
    assert(files(loc, "p=c") == beforeC)
    val got = spark.table(tbl).filter(col("p") === "a")
      .select(col("k"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(0L) == "V0" && got(3L) == "v3" && got(6L) == "V6")
    assert(spark.table(tbl).count() == 300)
  }

  test("delete drops emptied partitions and keeps 3VL-null rows") {
    val (tbl, loc) = ("dmlspec_del", s"$base/del")
    mkPartitioned(tbl, loc)
    val beforeC = files(loc, "p=c")
    CopyOnWriteDml.delete(spark, tbl, "p = 'a' OR (p = 'b' AND k < 100)")
    assert(files(loc, "p=c") == beforeC)
    val parts = spark.sql(s"SHOW PARTITIONS $tbl").collect().map(_.getString(0)).toSet
    assert(parts == Set("p=b", "p=c"), s"emptied partition survived: $parts")
    // p='b' holds k%3=1 → 100 rows; k<100 removes k=1,4,…,97 → 33 rows
    assert(spark.table(tbl).filter(col("p") === "b").count() == 67)
    // NULL predicate keeps the row (WHERE NULL is not TRUE)
    spark.sql(s"INSERT INTO $tbl VALUES (9999, NULL, 'c')")
    CopyOnWriteDml.delete(spark, tbl, "v = 'nope'") // NULL v → NULL cond → keep
    assert(spark.table(tbl).filter(col("k") === 9999).count() == 1)
  }

  test("merge scopes the rewrite to matched + insert-target partitions") {
    val (tbl, loc) = ("dmlspec_mrg", s"$base/mrg")
    mkPartitioned(tbl, loc)
    val beforeC = files(loc, "p=c")
    import spark.implicits._
    // matches hit only p='a' rows (k%3=0); the insert lands in p='b'
    val source = Seq((0L, "upd0", "a"), (3L, "upd3", "a"), (9000L, "ins", "b"))
      .toDF("sk", "sv", "sp")
    CopyOnWriteDml.merge(spark, tbl, source,
      onCond = "t.k = s.sk",
      matchedSet = Seq("v" -> "s.sv"),
      matchedDelete = Some("s.sk = 3"),
      notMatchedInsert = Some(Seq("k" -> "s.sk", "v" -> "s.sv", "p" -> "s.sp")),
      checkCardinality = true)
    assert(files(loc, "p=c") == beforeC, "partition with no matches was rewritten")
    val t = spark.table(tbl)
    assert(t.filter(col("k") === 0).head().getString(1) == "upd0")
    assert(t.filter(col("k") === 3).count() == 0)
    assert(t.filter(col("k") === 9000).select("p").head().getString(0) == "b")
    assert(t.count() == 300 - 1 + 1)
  }

  test("merge cardinality violation is detected") {
    val (tbl, loc) = ("dmlspec_card", s"$base/card")
    mkPartitioned(tbl, loc)
    import spark.implicits._
    val dupSource = Seq((0L, "x"), (0L, "y")).toDF("sk", "sv")
    val e = intercept[IllegalArgumentException] {
      CopyOnWriteDml.merge(spark, tbl, dupSource, onCond = "t.k = s.sk",
        matchedSet = Seq("v" -> "s.sv"), checkCardinality = true)
    }
    assert(e.getMessage.contains("cardinality"))
  }

  test("merge cardinality check is ON by default (hive.merge.cardinality.check)") {
    val (tbl, loc) = ("dmlspec_carddef", s"$base/carddef")
    mkPartitioned(tbl, loc)
    import spark.implicits._
    val dupSource = Seq((0L, "x"), (0L, "y")).toDF("sk", "sv")
    val e = intercept[IllegalArgumentException] {
      CopyOnWriteDml.merge(spark, tbl, dupSource, onCond = "t.k = s.sk",
        matchedSet = Seq("v" -> "s.sv")) // no checkCardinality arg
    }
    assert(e.getMessage.contains("cardinality"))
  }

  test("SET with an unknown column name is rejected, case-insensitive names resolve") {
    val (tbl, loc) = ("dmlspec_setres", s"$base/setres")
    mkPartitioned(tbl, loc)
    val e = intercept[IllegalArgumentException] {
      CopyOnWriteDml.update(spark, tbl, Seq("no_such_col" -> "1"), "k = 0")
    }
    assert(e.getMessage.contains("unknown column"))
    // a case-mismatched but real column must update, not silently no-op
    CopyOnWriteDml.update(spark, tbl, Seq("V" -> "'upd'"), "k = 0")
    assert(spark.table(tbl).filter("k = 0").head().getAs[String]("v") == "upd")
  }

  test("SET on a partition column is rejected (Hive UpdateDeleteSemanticAnalyzer)") {
    val (tbl, loc) = ("dmlspec_pset", s"$base/pset")
    mkPartitioned(tbl, loc)
    val e = intercept[IllegalArgumentException] {
      CopyOnWriteDml.update(spark, tbl, Seq("p" -> "'z'"), "k = 0")
    }
    assert(e.getMessage.contains("partition column"))
    import spark.implicits._
    val e2 = intercept[IllegalArgumentException] {
      CopyOnWriteDml.merge(spark, tbl, Seq((0L, "z")).toDF("sk", "sp"),
        onCond = "t.k = s.sk", matchedSet = Seq("p" -> "s.sp"))
    }
    assert(e2.getMessage.contains("partition column"))
  }

  test("update on an unpartitioned table is a full rewrite with exact masking") {
    val (tbl, loc) = ("dmlspec_flat", s"$base/flat")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(loc))
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v STRING) USING parquet " +
      s"LOCATION '$loc'")
    spark.sql(s"INSERT OVERWRITE $tbl SELECT id, concat('v', id) FROM range(0, 50)")
    CopyOnWriteDml.update(spark, tbl, Seq("v" -> "'hit'"), "k >= 40")
    assert(spark.table(tbl).filter(col("v") === "hit").count() == 10)
    assert(spark.table(tbl).count() == 50)
  }
}
