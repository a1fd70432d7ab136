package graft

import java.io.File

import graft.operators.{IncrementalAgg, TxnMergeOnRead}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Incremental view maintenance over the CDC feed
  * ([[graft.operators.IncrementalAgg]]): after ANY mix of DML, a refresh
  * consuming only the change range must land on exactly the aggregate a
  * from-scratch GROUP BY computes; zero-count groups vanish and can
  * resurrect; no-op refreshes write nothing; a refresh across a RESTORE is
  * the documented re-init case and fails loudly. The q217 CORRECTNESS row
  * pins the chain against the DuckDB oracle. */
class IncrementalAggSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 8, appName = "graft-incragg")

  override def afterAll(): Unit = spark.stop()

  private val base = s"${Engine.scratchRoot}/incraggspec"

  private def mk(tag: String): (String, String) = {
    val root = s"$base/$tag/tbl"
    val state = s"$base/$tag/agg"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(s"$base/$tag"))
    TxnMergeOnRead.create(spark, root,
      spark.range(0, 300).select(col("id").as("k"),
        (col("id") % 5).cast("string").as("g"), (col("id") % 7).cast("double").as("x")))
    (root, state)
  }

  private def scratch(root: String) =
    TxnMergeOnRead.read(spark, root).groupBy("g")
      .agg(count(lit(1)).as("cnt"), sum("x").cast("double").as("sum_x"))

  private def assertInSync(root: String, state: String): Unit = {
    val inc = IncrementalAgg.read(spark, state).orderBy("g").collect().toSeq
    val full = scratch(root).orderBy("g").collect().toSeq
    assert(inc === full, "incremental state must equal from-scratch recompute")
  }

  test("refresh over mixed DML equals from-scratch; intermediate states versioned") {
    val (root, state) = mk("mixed")
    val v1 = IncrementalAgg.init(spark, root, state, Seq("g"), Seq("x"))
    assert(v1 === 1L)
    assertInSync(root, state)
    TxnMergeOnRead.update(spark, root, Seq("x" -> "x + 2"), "k % 3 = 0")
    TxnMergeOnRead.delete(spark, root, "g = '4' AND k < 100")
    TxnMergeOnRead.insert(spark, root, spark.range(1000, 1040).select(
      col("id").as("k"), lit("9").as("g"), lit(1.5).as("x")))
    val (f1, t1) = IncrementalAgg.refresh(spark, root, state)
    assert(f1 === 1L && t1 === 4L)
    assertInSync(root, state)
    // a second wave, including an update of the new group
    TxnMergeOnRead.update(spark, root, Seq("x" -> "x * 2"), "g = '9'")
    TxnMergeOnRead.delete(spark, root, "g = '4'") // group fully vanishes
    IncrementalAgg.refresh(spark, root, state)
    assertInSync(root, state)
    assert(IncrementalAgg.read(spark, state).filter(col("g") === "4")
      .count() === 0, "zero-count group must vanish, not linger at cnt 0")
    // vanished group resurrects from fresh inserts
    TxnMergeOnRead.insert(spark, root, spark.range(2000, 2010).select(
      col("id").as("k"), lit("4").as("g"), lit(3.0).as("x")))
    IncrementalAgg.refresh(spark, root, state)
    assertInSync(root, state)
    assert(IncrementalAgg.read(spark, state).filter(col("g") === "4")
      .select("cnt").head().getLong(0) === 10L)
  }

  test("no-op refresh writes nothing; prune retires old state versions") {
    val (root, state) = mk("noop")
    IncrementalAgg.init(spark, root, state, Seq("g"), Seq("x"))
    val (f, t) = IncrementalAgg.refresh(spark, root, state)
    assert(f === t, "head unchanged → no-op")
    def versions() = new File(state).listFiles()
      .map(_.getName).filter(_.startsWith("v")).sorted.toSeq
    assert(versions().size === 1)
    TxnMergeOnRead.delete(spark, root, "k < 50")
    IncrementalAgg.refresh(spark, root, state)
    assert(versions().size === 2, "each effective refresh is a new state dir")
    IncrementalAgg.prune(spark, state)
    assert(versions().size === 1, "prune keeps only the current state")
    assertInSync(root, state)
  }

  test("refresh across a RESTORE fails loudly (re-init is the recovery)") {
    val (root, state) = mk("restore")
    IncrementalAgg.init(spark, root, state, Seq("g"), Seq("x"))
    TxnMergeOnRead.delete(spark, root, "k < 100")        // v2
    TxnMergeOnRead.restore(spark, root, 1L)              // v3
    val e = intercept[IllegalStateException](
      IncrementalAgg.refresh(spark, root, state))
    assert(e.getMessage.contains("RESTORE"),
      "the CDC guard must surface, not a silently wrong aggregate")
    // recovery: re-init against the restored head, back in sync
    IncrementalAgg.init(spark, root, state, Seq("g"), Seq("x"))
    assertInSync(root, state)
  }

  test("min/max: inserts tighten for free, deleting the extremum recomputes ONLY touched groups") {
    val (root, state) = mk("minmax")
    IncrementalAgg.init(spark, root, state, Seq("g"), Seq("x"),
      minMaxCols = Seq("k"))
    def scratchMm() = TxnMergeOnRead.read(spark, root).groupBy("g")
      .agg(count(lit(1)).as("cnt"), sum("x").cast("double").as("sum_x"),
        min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("g").collect().toSeq
    def sync(): Unit = {
      IncrementalAgg.refresh(spark, root, state)
      assert(IncrementalAgg.read(spark, state).orderBy("g").collect().toSeq
        === scratchMm(), "state must equal from-scratch min/max recompute")
    }
    // insert-only wave: extrema tighten in the fold, no recompute needed
    import spark.implicits._
    TxnMergeOnRead.insert(spark, root,
      Seq((-5L, "2", 1.0), (900L, "3", 2.0)).toDF("k", "g", "x"))
    sync()
    assert(IncrementalAgg.read(spark, state).filter(col("g") === "2")
      .select("min_k").as[Long].head() === -5L)
    // delete the CURRENT MAX of group 3 (k=900) and nothing in group 0:
    // group 3 must recompute to its true new max, group 0 stays intact
    TxnMergeOnRead.delete(spark, root, "k = 900")
    sync()
    // delete a NON-extremum row (group 1, k=6 — min 1, max 296): extrema
    // survive the touched-group recompute unchanged
    TxnMergeOnRead.delete(spark, root, "k = 6")
    sync()
    // update = delete + insert in one version: the group recomputes AND
    // sees the insert — both halves of the same wave
    TxnMergeOnRead.update(spark, root, Seq("k" -> "k + 10000"), "g = '4'")
    sync()
    assert(IncrementalAgg.read(spark, state).filter(col("g") === "4")
      .select("min_k").as[Long].head() >= 10000L)
  }
}
