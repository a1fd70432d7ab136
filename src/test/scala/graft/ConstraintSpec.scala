package graft

import java.io.File

import graft.operators.{TxnMergeOnRead, TxnSql}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** CHECK constraints on the transaction log
  * ([[TxnMergeOnRead.addConstraint]]): write-path enforcement over STAGED
  * rows only, SQL 3VL (TRUE or NULL passes, FALSE violates),
  * existing-data validation at ADD, metadata/data co-reversion under
  * RESTORE, checkpoint persistence across log pruning, and the textual
  * ALTER TABLE surface. */
class ConstraintSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession =
    Engine.session(cores = 4, appName = "graft-constraint")
  import spark.implicits._

  override def afterAll(): Unit = spark.stop()

  private val base = s"${Engine.scratchRoot}/constraintspec"

  private def mk(tag: String): String = {
    val root = s"$base/$tag"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
    TxnMergeOnRead.create(spark, root,
      spark.range(1, 101).select(col("id").as("k"),
        (col("id") * 10).cast("double").as("v"),
        when(col("id") % 10 === 0, lit(null).cast("string"))
          .otherwise(lit("x")).as("tag")))
    root
  }

  test("enforcement on every write path; 3VL; deletes exempt; violations name the constraint") {
    val root = mk("enforce")
    TxnMergeOnRead.addConstraint(spark, root, "v_pos", "v > 0")
    // NULL predicate passes: tag IS NULL rows make `length(tag) < 5` NULL
    TxnMergeOnRead.addConstraint(spark, root, "tag_short", "length(tag) < 5")
    // INSERT of a violating row
    val e1 = intercept[IllegalArgumentException](TxnMergeOnRead.insert(
      spark, root, Seq((200L, -1.0, "y")).toDF("k", "v", "tag")))
    assert(e1.getMessage.contains("v_pos") && e1.getMessage.contains("1 row"))
    // UPDATE driving rows negative
    val e2 = intercept[IllegalArgumentException](TxnMergeOnRead.update(
      spark, root, Seq("v" -> "v - 1000000"), "k <= 3"))
    assert(e2.getMessage.contains("v_pos"))
    // batch insert
    val e3 = intercept[IllegalArgumentException](TxnMergeOnRead.insertBatch(
      spark, root, "cb1", Seq((201L, 0.0, "y")).toDF("k", "v", "tag")))
    assert(e3.getMessage.contains("v_pos"))
    // compliant writes (including NULL tag — 3VL pass) and deletes work
    TxnMergeOnRead.insert(spark, root,
      Seq((202L, 5.0, null.asInstanceOf[String])).toDF("k", "v", "tag"))
    TxnMergeOnRead.delete(spark, root, "k = 202")
    // the rejected statements left no trace
    assert(TxnMergeOnRead.read(spark, root).filter(col("v") <= 0).count() === 0)
  }

  test("ADD validates existing data; duplicates and missing drops are named errors") {
    val root = mk("validate")
    val e = intercept[IllegalArgumentException](
      TxnMergeOnRead.addConstraint(spark, root, "imp", "v > 500"))
    assert(e.getMessage.contains("existing rows"))
    TxnMergeOnRead.addConstraint(spark, root, "ok", "v > 0")
    intercept[IllegalArgumentException](
      TxnMergeOnRead.addConstraint(spark, root, "ok", "v > 1"))
    intercept[IllegalArgumentException](
      TxnMergeOnRead.dropConstraint(spark, root, "nope"))
    TxnMergeOnRead.dropConstraint(spark, root, "ok")
    TxnMergeOnRead.insert(spark, root, // re-allowed after drop
      Seq((300L, -5.0, "y")).toDF("k", "v", "tag"))
  }

  test("RESTORE below the constraint's version removes it — metadata reverts with data") {
    val root = mk("restore")                                    // v1
    TxnMergeOnRead.update(spark, root, Seq("v" -> "v + 1"), "k = 1") // v2
    TxnMergeOnRead.addConstraint(spark, root, "v_pos", "v > 0")      // v3
    intercept[IllegalArgumentException](TxnMergeOnRead.insert(
      spark, root, Seq((400L, -1.0, "y")).toDF("k", "v", "tag")))
    TxnMergeOnRead.restore(spark, root, 2L)                          // v4
    assert(TxnMergeOnRead.constraintsOf(spark, root).isEmpty)
    TxnMergeOnRead.insert(spark, root, // enforced no longer
      Seq((400L, -1.0, "y")).toDF("k", "v", "tag"))
  }

  test("constraints survive checkpoint + log pruning") {
    val root = mk("ckpt")
    TxnMergeOnRead.addConstraint(spark, root, "v_pos", "v > 0")
    (1 to 3).foreach(i =>
      TxnMergeOnRead.update(spark, root, Seq("v" -> "v + 1"), s"k = $i"))
    TxnMergeOnRead.checkpoint(spark, root)
    TxnMergeOnRead.vacuum(spark, root, retainVersions = 1, pruneLog = true)
    assert(TxnMergeOnRead.constraintsOf(spark, root)
      .contains(("v_pos", "v > 0")),
      "the checkpoint seed carries constraints past pruned entries")
    intercept[IllegalArgumentException](TxnMergeOnRead.insert(
      spark, root, Seq((500L, -1.0, "y")).toDF("k", "v", "tag")))
  }

  test("textual surface: ALTER TABLE ADD COLUMNS / ADD CONSTRAINT / DROP CONSTRAINT") {
    val root = mk("sql")
    TxnSql.register("cons_sql", root)
    TxnSql.exec(spark,
      "ALTER TABLE cons_sql ADD CONSTRAINT v_cap CHECK (v <= 2000)")
    val e = intercept[IllegalArgumentException](TxnSql.exec(spark,
      "INSERT INTO cons_sql VALUES (600, 9999.0, 'y')"))
    assert(e.getMessage.contains("v_cap"))
    TxnSql.exec(spark, "ALTER TABLE cons_sql ADD COLUMNS (note STRING)")
    assert(TxnMergeOnRead.read(spark, root).columns.contains("note"))
    TxnSql.exec(spark, "ALTER TABLE cons_sql DROP CONSTRAINT v_cap")
    TxnSql.exec(spark, "INSERT INTO cons_sql VALUES (600, 9999.0, 'y', 'n')")
    assert(TxnMergeOnRead.read(spark, root).filter(col("k") === 600)
      .count() === 1)
  }
}
