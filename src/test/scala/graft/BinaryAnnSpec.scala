package graft

import graft.operators.{AnnSearch, BinaryAnn, IndexStore}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** 1-bit binary codec + Hamming search contracts ([[BinaryAnn]]): packing
  * round-trip (popcount == positive-dim count, storage = ceil(dim/8)),
  * kernel equality against a per-dimension sign-mismatch reference,
  * mismatch rejection, brute degeneracy when the shortlist covers the
  * corpus, recall floor at the production shortlist, and determinism
  * under repartition. Runs on sf0.001. */
class BinaryAnnSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 4, appName = "graft-test")
  val dir = "/root/testdata/sf0.001"
  import spark.implicits._

  override def afterAll(): Unit = spark.stop()

  private def emb = Engine.table(spark, dir, "embeddings")
    .select(col("vec_id").as("id"), col("embedding"), col("label"))

  test("encode: popcount == positive-dim count, size = ceil(dim/8), " +
      "pad bits stay zero") {
    val df = Seq(
      (1L, Seq(0.5f, -0.2f, 0f, 1f, -0f, 2f, -3f, 0.1f, 7f)), // 9 dims -> 2 bytes
      (2L, Seq.fill(9)(0f)),                                  // all-zero vector
      (3L, Seq.fill(9)(-1f))
    ).toDF("id", "embedding")
    val got = BinaryAnn.encode(df).as[(Long, Array[Byte], Long)]
      .collect().map(r => r._1 -> ((r._2.toSeq, r._3))).toMap
    // positive dims of id 1: indices 0,3,5,7,8 -> byte0 = 10101001b = 0xA9,
    // byte1 = 00000001b (bit 0 = dim 8); -0f and exact 0f are NOT positive
    assert(got(1L)._1 == Seq(0xA9.toByte, 0x01.toByte), s"got ${got(1L)._1}")
    assert(got(1L)._2 == 5L)
    assert(got(2L)._1 == Seq(0x00.toByte, 0x00.toByte) && got(2L)._2 == 0L)
    assert(got(3L)._1 == Seq(0x00.toByte, 0x00.toByte) && got(3L)._2 == 0L)
    // stats surface agrees
    val st = BinaryAnn.stats(df).as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(st(1L) == ((2L, 5L)) && st(2L) == ((2L, 0L)))
  }

  test("hamming kernel over packed codes == per-dimension sign mismatch " +
      "count on real embeddings") {
    val sub = emb.filter(col("id") < 20)
    val codes = BinaryAnn.encode(sub)
    val a = codes.select(col("id").as("ia"), col("code").as("ca"))
    val b = codes.select(col("id").as("ib"), col("code").as("cb"))
    val got = a.join(b, col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        BinaryAnn.hammingBits(col("ca"), col("cb")).as("h"))
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val raw = sub.select(col("id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toMap
    for (((ia, ib), h) <- got) {
      val expected = raw(ia).zip(raw(ib)).count { case (x, y) =>
        (x > 0f) != (y > 0f)
      }
      assert(h == expected, s"pair ($ia,$ib): packed $h != per-dim $expected")
    }
    assert(got.nonEmpty && got.values.exists(_ > 0L))
  }

  test("code length mismatch raises instead of truncating") {
    val df = Seq((1L, Seq(1f, -1f, 1f)), (2L, Seq(1f, -1f, 1f, -1f, 1f,
      -1f, 1f, -1f, 1f))).toDF("id", "embedding")
    val c = BinaryAnn.encode(df)
    val x = c.filter(col("id") === 1).select(col("code").as("ca"))
    val y = c.filter(col("id") === 2).select(col("code").as("cb"))
    assertThrows[Exception] {
      x.crossJoin(y)
        .select(BinaryAnn.hammingBits(col("ca"), col("cb"))).collect()
    }
  }

  test("shortlist >= corpus degenerates to brute force; production " +
      "shortlist keeps a recall floor; deterministic under repartition") {
    val queries = emb.filter(col("id") < 30)
    val brute = AnnSearch.bruteTopK(queries, emb, 10)
      .select("qid", "cid", "rk", "cos")
      .as[(Long, Long, Int, Double)].collect().toSet
    val full = BinaryAnn.hammingTopK(queries, emb, 10, shortlist = 100000)
      .select("qid", "cid", "rk", "cos")
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(full == brute,
      "shortlist covering the corpus must reduce to exact brute force")
    // 1 bit/dim keeps ~1/2 bit of angular resolution per dimension: at 64
    // dims the sketch is coarse, so the q368 production shortlist (32 of
    // 500) measures ~0.47 recall@10 — the codec's honest floor; widening
    // the shortlist is the recall knob (the faiss refine contract)
    val prod = BinaryAnn.hammingTopK(queries, emb, 10, shortlist = 32)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val bruteIds = brute.map(r => (r._1, r._2))
    val recall = (prod & bruteIds).size.toDouble / brute.size
    assert(recall >= 0.4, s"binary-shortlist recall=$recall")
    val wide = BinaryAnn.hammingTopK(queries, emb, 10, shortlist = 128)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val wideRecall = (wide & bruteIds).size.toDouble / brute.size
    assert(wideRecall >= recall && wideRecall >= 0.7,
      s"shortlist=128 recall=$wideRecall (32 gave $recall)")
    val again = BinaryAnn
      .hammingTopK(queries.repartition(7), emb.repartition(5), 10,
        shortlist = 32)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    assert(again == prod, "hamming shortlist must be partition-invariant")
  }

  test("indexed probe returns exactly the one-shot result, and its " +
      "Hamming scan prunes to the (id, code) columns") {
    val queries = emb.filter(col("id") < 30)
    val oneShot = BinaryAnn.hammingTopK(queries, emb, 10, shortlist = 32)
      .collect().map(_.toSeq).toSet
    val path = "target/binaryannspec/idx"
    BinaryAnn.buildIndex(emb, path)
    val probe = BinaryAnn.probeIndex(queries, path, 10, shortlist = 32)
    assert(probe.collect().map(_.toSeq).toSet == oneShot,
      "index must change where bytes are read, never a result")
    // the at-rest claim is a PLAN property: the Hamming-stage parquet scan
    // must read only (id, code) — the full-width qe/n2 columns are decoded
    // for shortlist ids alone, in the separate fetch stage
    val short = BinaryAnn.hammingShort(queries,
      spark.read.parquet(path), 32)
    short.collect()
    val scans = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(short.queryExecution.executedPlan.toString)
      .map(_.group(1)).toList
    val idxScans = scans.filter(_.contains("code"))
    assert(idxScans.nonEmpty && idxScans.forall(s =>
      !s.contains("qe") && !s.contains("n2")),
      s"Hamming stage must scan only (id, code):\n$scans")
  }

  test("train-free ingest: a batch-built index probes identically to a " +
      "one-shot build, in any batch order") {
    val queries = emb.filter(col("id") < 30)
    val oneShotPath = "target/binaryannspec/one"
    BinaryAnn.buildIndex(emb, oneShotPath)
    val expect = BinaryAnn.probeIndex(queries, oneShotPath, 10, 32)
      .collect().map(_.toSeq).toSet
    val incPath = "target/binaryannspec/inc"
    // no train step: the first batch IS a buildIndex; later batches append.
    // Ingest in a scrambled order to prove batches commute.
    BinaryAnn.buildIndex(emb.filter(col("id") % 3 === 2), incPath)
    BinaryAnn.addBatch(emb.filter(col("id") % 3 === 0), incPath)
    BinaryAnn.addBatch(emb.filter(col("id") % 3 === 1), incPath)
    val got = BinaryAnn.probeIndex(queries, incPath, 10, 32)
      .collect().map(_.toSeq).toSet
    assert(got == expect,
      "batch-built binary index must probe identically to one-shot")
  }

  test("removeBatch masks deleted rows out of the shortlist, re-add of a " +
      "removed id outlives its tombstone, and the churned index probes " +
      "exactly like a fresh build of the live set") {
    val queries = emb.filter(col("id") < 30)
    val path = "target/binaryannspec/churn"
    // live set after churn: evens minus {40..58 evens}, plus odds<20 where
    // the re-added rows carry a NEGATED embedding (every sign bit flips —
    // an update in place, the CDC delete+insert pattern)
    BinaryAnn.buildIndex(emb.filter(col("id") % 2 === 0), path)
    BinaryAnn.addBatch(emb.filter(col("id") % 2 === 1 && col("id") < 20), path)
    // delete a slice of evens AND the odd rows we are about to update
    BinaryAnn.removeBatch(
      emb.filter((col("id") % 2 === 0 && col("id").between(40, 58)) ||
          (col("id") % 2 === 1 && col("id") < 20))
        .select(col("id")), path)
    // re-add the odds with flipped embeddings: higher gen outlives tombstone
    val flipped = emb.filter(col("id") % 2 === 1 && col("id") < 20)
      .withColumn("embedding", expr("transform(embedding, x -> -x)"))
    BinaryAnn.addBatch(flipped, path)
    val got = BinaryAnn.probeIndex(queries, path, 10, 32)
      .collect().map(_.toSeq).toSet
    // the oracle: a fresh one-generation build of exactly the live rows
    val live = emb.filter(col("id") % 2 === 0 &&
        !col("id").between(40, 58)).unionByName(flipped)
    val freshPath = "target/binaryannspec/churn_fresh"
    BinaryAnn.buildIndex(live, freshPath)
    val expect = BinaryAnn.probeIndex(queries, freshPath, 10, 32)
      .collect().map(_.toSeq).toSet
    assert(got == expect,
      "churned index (add/remove/re-add) must probe like a fresh live build")
    // compaction folds tombstones physically; probe result is unchanged
    BinaryAnn.compactIndex(spark, path)
    val compacted = IndexStore.latest(spark, path).get
    assert(!compacted.has(IndexStore.TOMBS) &&
      !new java.io.File(path).list().exists(_.startsWith("tombstones")),
      "compaction must clear the tombstone sidecar")
    val post = BinaryAnn.probeIndex(queries, path, 10, 32)
      .collect().map(_.toSeq).toSet
    assert(post == expect, "compaction must never change a probe result")
    // the compacted store is a single generation again
    val gens = new java.io.File(compacted.dir("vectors")).listFiles()
      .map(_.getName).filter(_.startsWith("agen=")).toSeq
    assert(gens == Seq("agen=0"), s"compacted store gens: $gens")
  }

  test("a re-added id that was never removed fails the live-duplicate " +
      "guard loudly") {
    val path = "target/binaryannspec/dup"
    BinaryAnn.buildIndex(emb.filter(col("id") < 50), path)
    BinaryAnn.addBatch(emb.filter(col("id") === 7), path) // 7 is still live
    val ex = intercept[IllegalArgumentException] {
      BinaryAnn.probeIndex(emb.filter(col("id") < 5), path, 5, 8).collect()
    }
    assert(ex.getMessage.contains("duplicate"), ex.getMessage)
  }
}
