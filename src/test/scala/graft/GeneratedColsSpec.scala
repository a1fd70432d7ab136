package graft

import graft.operators.TxnMergeOnRead
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Generated columns on the txn table
  * ([[TxnMergeOnRead.createGenerated]]): materialization at create,
  * compute-when-omitted on INSERT / batch INSERT / MERGE-insert,
  * verify-when-supplied (loud rejection), recompute-after-SET on
  * UPDATE and MERGE, the SET-a-generated-column rejection, and the
  * reserved-prefix guards on the constraint surface.
  */
class GeneratedColsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 4, appName = "graft-gen")

  override def afterAll(): Unit = spark.stop()

  private var n = 0
  private def freshRoot(): String = {
    n += 1
    s"${Engine.scratchRoot}/genspec/t$n"
  }

  private def mk(rows: Seq[(Long, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "v")
  }

  private def mkTable(): String = {
    val root = freshRoot()
    TxnMergeOnRead.createGenerated(spark, root,
      mk(Seq((1L, 1.5), (2L, 2.5))),
      Seq("vb" -> "CAST(floor(v) AS BIGINT)", "neg" -> "id * -1"))
    root
  }

  private def state(root: String): Map[Long, (Double, Long, Long)] =
    TxnMergeOnRead.read(spark, root).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2), r.getLong(3)))
      .toMap

  test("create materializes the declared expressions") {
    val root = mkTable()
    assert(state(root) == Map(1L -> (1.5, 1L, -1L), 2L -> (2.5, 2L, -2L)))
    assert(TxnMergeOnRead.generatedColsOf(spark, root) ==
      Seq("vb" -> "CAST(floor(v) AS BIGINT)", "neg" -> "id * -1"))
  }

  test("INSERT omitting generated columns computes them; supplying" +
      " consistent values passes; inconsistent values are rejected atomically") {
    val root = mkTable()
    TxnMergeOnRead.insert(spark, root, mk(Seq((3L, 3.7))))
    assert(state(root)(3L) == (3.7, 3L, -3L))
    TxnMergeOnRead.insert(spark, root,
      mk(Seq((4L, 4.2))).withColumn("vb", lit(4L)).withColumn("neg", lit(-4L)))
    assert(state(root)(4L) == (4.2, 4L, -4L))
    val v0 = TxnMergeOnRead.currentVersion(spark, root)
    val ex = intercept[IllegalArgumentException] {
      TxnMergeOnRead.insert(spark, root,
        mk(Seq((5L, 5.0))).withColumn("vb", lit(99L)).withColumn("neg", lit(-5L)))
    }
    assert(ex.getMessage.contains("__gen_vb"))
    assert(TxnMergeOnRead.currentVersion(spark, root) == v0)
    assert(!state(root).contains(5L))
  }

  test("batch INSERT computes omitted generated columns") {
    val root = mkTable()
    assert(TxnMergeOnRead.insertBatch(spark, root, "b1", mk(Seq((7L, 7.9)))))
    assert(state(root)(7L) == (7.9, 7L, -7L))
  }

  test("UPDATE recomputes generated columns from the post-SET row") {
    val root = mkTable()
    TxnMergeOnRead.update(spark, root, Seq("v" -> "v + 2"), "id = 1")
    assert(state(root)(1L) == (3.5, 3L, -1L)) // vb tracked v; neg unchanged
  }

  test("UPDATE SET of a generated column is rejected") {
    val root = mkTable()
    val ex = intercept[IllegalArgumentException] {
      TxnMergeOnRead.update(spark, root, Seq("vb" -> "0"), "id = 1")
    }
    assert(ex.getMessage.contains("generated"))
  }

  test("MERGE recomputes on update and computes omitted on insert") {
    val root = mkTable()
    val src = mk(Seq((1L, 10.2), (9L, 9.5))).withColumnRenamed("id", "sid")
    TxnMergeOnRead.merge(spark, root, src, "t.id = s.sid",
      matchedSet = Seq("v" -> "s.v"),
      notMatchedInsert = Some(Seq("id" -> "s.sid", "v" -> "s.v")))
    val st = state(root)
    assert(st(1L) == (10.2, 10L, -1L)) // updated: vb recomputed
    assert(st(9L) == (9.5, 9L, -9L))   // inserted: gens computed
  }

  test("MERGE SET of a generated column is rejected") {
    val root = mkTable()
    val src = mk(Seq((1L, 10.2))).withColumnRenamed("id", "sid")
    val ex = intercept[IllegalArgumentException] {
      TxnMergeOnRead.merge(spark, root, src, "t.id = s.sid",
        matchedSet = Seq("vb" -> "0"))
    }
    assert(ex.getMessage.contains("generated"))
  }

  test("reserved prefix is fenced on the public constraint surface") {
    val root = mkTable()
    intercept[IllegalArgumentException] {
      TxnMergeOnRead.addConstraint(spark, root, "__gen_x", "v > 0")
    }
    intercept[IllegalArgumentException] {
      TxnMergeOnRead.dropConstraint(spark, root, "__gen_vb")
    }
  }

  test("chained declarations: a generated column may reference an earlier" +
      " one, consistently on every write path; forward references fail") {
    val root = freshRoot()
    TxnMergeOnRead.createGenerated(spark, root,
      mk(Seq((1L, 1.0))), Seq("a" -> "CAST(v + 1 AS DOUBLE)",
        "b" -> "CAST(a * 10 AS DOUBLE)"))
    TxnMergeOnRead.insert(spark, root, mk(Seq((2L, 2.0)))) // both computed
    TxnMergeOnRead.update(spark, root, Seq("v" -> "v + 5"), "id = 1")
    val st = TxnMergeOnRead.read(spark, root).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(st(1L) == (6.0, 7.0, 70.0)) // recompute chained through a -> b
    assert(st(2L) == (2.0, 3.0, 30.0))
    intercept[Exception] { // forward reference: b defined before a exists
      TxnMergeOnRead.createGenerated(spark, freshRoot(),
        mk(Seq((1L, 1.0))), Seq("b" -> "a + 1", "a" -> "v + 1"))
    }
  }

  test("declarations survive checkpoint + log pruning and revert on restore") {
    val root = mkTable()                       // v1 create, v2-v3 gen decls
    TxnMergeOnRead.insert(spark, root, mk(Seq((3L, 3.3))))   // v4
    TxnMergeOnRead.checkpoint(spark, root)
    TxnMergeOnRead.insert(spark, root, mk(Seq((6L, 6.6))))   // v5: computed past ckpt
    assert(state(root)(6L) == (6.6, 6L, -6L))
    TxnMergeOnRead.restore(spark, root, 4L)                  // undo v5 only
    assert(!state(root).contains(6L))
    TxnMergeOnRead.insert(spark, root, mk(Seq((8L, 8.1))))   // still declared
    assert(state(root)(8L) == (8.1, 8L, -8L))
  }
}
