package graft

import graft.operators.{Dedup, IncrementalLsh}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Incrementally-maintained LSH index ([[graft.operators.IncrementalLsh]]):
  * the union of per-batch outputs must equal the one-shot full-corpus LSH
  * result for any batching, each pair surfacing exactly once (at its later
  * member's batch), with empty batches no-ops and init clearing state.
  */
class IncrementalLshSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 4, appName = "graft-ilsh")

  override def afterAll(): Unit = spark.stop()

  private var n = 0
  private def freshIdx(): String = {
    n += 1
    s"${Engine.scratchRoot}/ilshspec/i$n"
  }

  /** corpus with exact dups, near-dups (one word swapped), and uniques */
  private def corpus(): DataFrame = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = (0 until 24).map { i =>
      val text = i % 6 match {
        case 0 | 1 => base // exact dup family
        case 2 => base.replace("dog", "cat") // near-dup of the base family
        case 3 => s"unique document number $i with its own words entirely $i"
        case 4 => s"completely different content $i goes here with filler $i"
        case _ => base.replace("again and again", s"once $i")
      }
      (i.toLong, text)
    }
    docs.toDF("doc_id", "text")
  }

  private def pairs(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("batched ingest equals the one-shot full-corpus LSH, any batching") {
    val docs = corpus()
    val oneShot = pairs(Dedup.minhashNearDupPairs(docs, 64, 16, 0.8))
    assert(oneShot.nonEmpty, "test corpus must contain near-dups")
    for (nb <- Seq(1, 3, 5)) {
      val idx = freshIdx()
      IncrementalLsh.init(spark, idx)
      val got = (0 until nb).map { b =>
        pairs(IncrementalLsh.ingest(spark, idx,
          docs.filter(col("doc_id") % nb === b), 64, 16, 0.8))
      }
      assert(got.reduce(_ ++ _) == oneShot, s"batching into $nb differs")
      // exactly once: batches are disjoint in the pairs they surface
      assert(got.map(_.size).sum == oneShot.size,
        s"a pair surfaced in more than one of $nb batches")
    }
  }

  test("an empty batch is a no-op; init clears state") {
    val idx = freshIdx()
    val docs = corpus()
    IncrementalLsh.init(spark, idx)
    IncrementalLsh.ingest(spark, idx, docs.filter(col("doc_id") < 12), 64, 16, 0.8)
    val empty = IncrementalLsh.ingest(spark, idx,
      docs.filter(col("doc_id") < 0), 64, 16, 0.8)
    assert(empty.count() == 0)
    IncrementalLsh.init(spark, idx)
    // after a reset, previously-indexed docs are forgotten: re-ingesting
    // the second half alone finds only its internal pairs
    val second = pairs(IncrementalLsh.ingest(spark, idx,
      docs.filter(col("doc_id") >= 12), 64, 16, 0.8))
    assert(second.forall { case (d1, d2, _) => d1 >= 12 && d2 >= 12 })
  }

  test("a pair surfaces at its LATER member's batch") {
    val idx = freshIdx()
    import spark.implicits._
    val a = Seq((1L, "alpha beta gamma delta epsilon zeta eta")).toDF("doc_id", "text")
    val b = Seq((2L, "alpha beta gamma delta epsilon zeta eta")).toDF("doc_id", "text")
    IncrementalLsh.init(spark, idx)
    assert(IncrementalLsh.ingest(spark, idx, a, 64, 16, 0.8).count() == 0)
    val got = pairs(IncrementalLsh.ingest(spark, idx, b, 64, 16, 0.8))
    assert(got == Set((1L, 2L, 1.0)))
  }
}
