package graft

import graft.operators.{AnnSearch, CorpusOps, Dedup, IndexStore, Retrieval}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Contracts for the retrieval / redaction / semantic-dedup additions
  * beyond their oracle checks: hand-computable BM25 semantics on a tiny
  * corpus, plan shape of the probe join, PII scrub exactness, and the
  * dedup-idempotence property of the SemDeDup composition. */
class RetrievalSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 4, appName = "graft-retr")

  override def afterAll(): Unit = spark.stop()

  private def docsDf(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("bm25: rare term dominates, tf breaks ties, absent term scores nothing") {
    // 4 docs, all length 4 → identical length normalization.
    // 'rare' appears only in docs 1 and 2 (doc 2 twice); 'common' in all.
    val docs = docsDf(Seq(
      (1L, "rare common x y"),
      (2L, "rare rare common x"),
      (3L, "common x y z"),
      (4L, "common common x y")))
    val out = Retrieval.bm25TopK(docs, Seq(1 -> Seq("rare", "common")), k = 4)
      .orderBy("rk").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    // doc 2 (tf=2 on the rare term) > doc 1 > the rare-less docs; doc 4
    // (tf=2 on common) > doc 3.
    assert(out.toSeq == Seq((2L, 1L), (1L, 2L), (4L, 3L), (3L, 4L)))
  }

  test("bm25: hand-computed score on a one-term query") {
    // N=2, df=1, dl=2=avgdl → idf = ln(1 + (2-1+0.5)/(1+0.5)) = ln(2);
    // tf=1 → sat = (1*2.2)/(1 + 1.2*(1-0.75+0.75*1)) = 2.2/2.2 = 1
    // score = round(round(ln(2)*1e6) * 1) / 1e6 rounded to 4 = 0.6931
    val docs = docsDf(Seq((1L, "hit miss"), (2L, "x y")))
    val row = Retrieval.bm25TopK(docs, Seq(1 -> Seq("hit")), k = 1).head()
    assert(row.getLong(1) == 1L)
    assert(math.abs(row.getDouble(3) - 0.6931) < 1e-9)
  }

  test("bm25: longer docs are penalized at equal tf") {
    val docs = docsDf(Seq(
      (1L, "hit a"),
      (2L, "hit a b c d e f g")))
    val out = Retrieval.bm25TopK(docs, Seq(1 -> Seq("hit")), k = 2)
      .orderBy("rk").collect().map(_.getLong(1))
    assert(out.toSeq == Seq(1L, 2L))
  }

  test("bm25 plan: no cartesian, query side broadcast into the postings join") {
    val docs = docsDf((0L until 50L).map(i => (i, s"w$i common text")))
    val plan = Retrieval.bm25TopK(docs, Seq(1 -> Seq("common")), k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("bm25 indexed probe: identical to the one-shot; scans partition-pruned to probed buckets") {
    val dir = "/root/testdata/sf0.001"
    val d = Engine.table(spark, dir, "documents")
    val qs = Seq(1 -> Seq("dup"), 2 -> Seq("spark", "join"))
    val idx = s"${Engine.scratchRoot}/bm25index/spec"
    Retrieval.bm25WriteIndex(d, idx)
    val oneShot = Retrieval.bm25TopK(d, qs, k = 10).collect().map(_.toSeq).toSet
    assert(oneShot.nonEmpty)
    val probe = Retrieval.bm25TopKIndexed(spark, idx, qs, k = 10)
    assert(probe.collect().map(_.toSeq).toSet == oneShot,
      "indexed probe must be bit-identical to the index-free path")
    // the probe must never rescan the corpus: both index scans are
    // partition-pruned to the probed terms' buckets
    val plan = probe.queryExecution.executedPlan.toString
    val pfs = plan.linesIterator.filter(_.contains("PartitionFilters:")).toList
    assert(pfs.nonEmpty, "expected partition-pruned parquet scans")
    assert(pfs.forall(_.contains("tb")),
      s"postings/terms scans must prune on the tb bucket column, got: $pfs")
  }

  test("incremental fulltext ingest: any batch split/order probes " +
      "identically to the one-shot build (BM25 and positional)") {
    val dir = "/root/testdata/sf0.001"
    val d = Engine.table(spark, dir, "documents")
    def part(i: Int) = d.filter(col("doc_id") % 3 === i)
    val qs = Seq(1 -> Seq("dup"), 2 -> Seq("spark", "join"))
    val one = s"${Engine.scratchRoot}/bm25index/ingest_one"
    Retrieval.bm25WriteIndex(d, one)
    val ref = Retrieval.bm25TopKIndexed(spark, one, qs, k = 10)
      .collect().map(_.toSeq).toSet
    assert(ref.nonEmpty)
    for (order <- Seq(Seq(0, 1, 2), Seq(2, 0, 1))) {
      val p = s"${Engine.scratchRoot}/bm25index/ingest_${order.mkString}"
      Retrieval.bm25WriteIndex(part(order.head), p)
      order.tail.foreach(i => Retrieval.bm25AddBatch(part(i), p))
      val got = Retrieval.bm25TopKIndexed(spark, p, qs, k = 10)
        .collect().map(_.toSeq).toSet
      assert(got == ref, s"bm25 batch order $order diverged from one-shot")
    }
    val phr = Seq(1 -> Seq("spark", "join"), 2 -> Seq("big", "big"))
    val pOne = s"${Engine.scratchRoot}/phraseindex/ingest_one"
    Retrieval.phraseWriteIndex(d, pOne, nBuckets = 8)
    val pRef = Retrieval.phraseTopKIndexed(spark, pOne, phr, k = 10)
      .collect().map(_.toSeq).toSet
    assert(pRef.nonEmpty)
    for (order <- Seq(Seq(0, 1, 2), Seq(1, 2, 0))) {
      val p = s"${Engine.scratchRoot}/phraseindex/ingest_${order.mkString}"
      Retrieval.phraseWriteIndex(part(order.head), p, nBuckets = 8)
      order.tail.foreach(i => Retrieval.phraseAddBatch(part(i), p))
      val got = Retrieval.phraseTopKIndexed(spark, p, phr, k = 10)
        .collect().map(_.toSeq).toSet
      assert(got == pRef, s"phrase batch order $order diverged from one-shot")
    }
    // compaction is purely physical: probe-identical, per-batch rows fold
    val cp = s"${Engine.scratchRoot}/bm25index/ingest_012"
    Retrieval.bm25CompactIndex(spark, cp)
    assert(Retrieval.bm25TopKIndexed(spark, cp, qs, k = 10)
      .collect().map(_.toSeq).toSet == ref,
      "bm25 compaction changed probe results")
    val compacted = IndexStore.latest(spark, cp).get
    val terms = spark.read.parquet(compacted.dir("terms"))
    assert(terms.groupBy("term").count().filter(col("count") > 1).isEmpty,
      "compaction left multiple df rows for one term")
    assert(spark.read.parquet(compacted.dir("stats")).count() == 1,
      "compaction left multiple stats deltas")
    val pp = s"${Engine.scratchRoot}/phraseindex/ingest_012"
    Retrieval.phraseCompactIndex(spark, pp)
    assert(Retrieval.phraseTopKIndexed(spark, pp, phr, k = 10)
      .collect().map(_.toSeq).toSet == pRef,
      "phrase compaction changed probe results")
  }

  test("rerank: zero-norm candidate scores -1.0 and ranks last (not NULL)") {
    val s = spark
    import s.implicits._
    val emb = Seq(
      (10L, Seq(1f, 0f)),    // anchor
      (1L, Seq(0.9f, 0.1f)), // healthy candidate
      (2L, Seq(0f, 0f)))     // degenerate zero-norm candidate
      .toDF("id", "embedding")
    val cand = Seq((1, 1L, 1L), (1, 2L, 2L)).toDF("query_id", "doc_id", "bm25_rk")
    val out = Retrieval.rerankByAnchor(cand, emb, Map(1 -> 10L), k = 2)
      .orderBy("rerank").collect()
    assert(out.length == 2)
    assert(out(0).getLong(1) == 1L)
    assert(out(1).getLong(1) == 2L, "zero-norm must rank last")
    assert(out(1).getDouble(4) == -1.0, "zero-norm must score -1.0, not NULL")
  }

  test("piiScrub counts and replaces emails, ips, cards; no-op otherwise") {
    val docs = docsDf(Seq(
      (1L, "mail a.b+c@ex.org and 10.0.0.1 and 4111111111111111 end"),
      (2L, "clean text only"),
      (3L, "two mails x@y.io z@w.co one ip 192.168.1.255")))
    val out = CorpusOps.piiScrub(docs)
      .select("doc_id", "n_emails", "n_ips", "n_cards", "scrubbed")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)), r.getString(4))).toMap
    assert(out(1L)._1 == ((1L, 1L, 1L)))
    assert(out(1L)._2 == "mail <EMAIL> and <IP> and <CARD> end")
    assert(out(2L)._1 == ((0L, 0L, 0L)))
    assert(out(2L)._2 == "clean text only")
    assert(out(3L)._1 == ((2L, 1L, 0L)))
    assert(out(3L)._2 == "two mails <EMAIL> <EMAIL> one ip <IP>")
  }

  test("piiScrub: card pattern does not fire inside IPs or phone-ish digits") {
    val docs = docsDf(Seq(
      (1L, "ip 10.20.30.40 stays one token 123456789012 is too short"),
      (2L, "sixteen 1234567890123456 matches")))
    val out = CorpusOps.piiScrub(docs).select("doc_id", "n_cards", "scrubbed")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out(1L)._1 == 0L)
    assert(out(2L) == ((1L, "sixteen <CARD> matches")))
  }

  test("hybrid rerank: containment in the candidate stage, cosine ordering, plan shape") {
    val dir = "/root/testdata/sf0.001"
    val d = Engine.table(spark, dir, "documents")
    val emb = Engine.table(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding"))
    val qs = Seq(1 -> Seq("join", "spark"))
    val cand = Retrieval.bm25TopK(d, qs, k = 20)
      .collect().map(_.getLong(1)).toSet
    val out = Retrieval.bm25RerankTopK(d, emb, qs, Map(1 -> 3L),
      kCand = 20, k = 5)
    val rows = out.orderBy("rerank").collect()
    assert(rows.nonEmpty && rows.length <= 5)
    // stage containment: every reranked doc came from the BM25 candidates
    assert(rows.forall(r => cand.contains(r.getLong(1))))
    // rerank is ordered by cosine (desc), not by the BM25 rank
    val coss = rows.map(_.getDouble(4))
    assert(coss.zip(coss.tail).forall { case (a, b) => a >= b })
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("semantic dedup: kept set is pair-free at the threshold (idempotence)") {
    val dir = "/root/testdata/sf0.001"
    val e = Engine.table(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding"), col("label"))
    val clust = AnnSearch.assignClusters(e, centroidStride = 40)
    val blocked = e.join(clust, "id")
    val pairs = AnnSearch.cosineNearDupPairs(blocked, "cent_id", 0.4)
    val comp = Dedup.connectedComponents(pairs)
    val kept = clust.join(comp, col("id") === col("doc_id"), "left")
      .filter(coalesce(col("comp"), col("id")) === col("id"))
      .select(col("id"), col("cent_id"))
    // dropping non-canonicals removes every within-cluster near-dup pair:
    // re-running the pair join on the kept set must find nothing
    val keptEmb = e.join(kept.select("id"), "id").join(clust, "id")
    assert(AnnSearch.cosineNearDupPairs(keptEmb, "cent_id", 0.4).count() == 0L)
    // and the canonical of every component is its min id
    val bad = comp.groupBy("comp").agg(min("doc_id").as("mn"))
      .filter(col("comp") =!= col("mn")).count()
    assert(bad == 0L)
  }

  private def rankedList(rows: Seq[(Int, Long, Long)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("query_id", "doc_id", "rk")
  }

  test("rrf: hand-computed fusion — both-list doc wins, per-list ranks ride along") {
    // k0=60: c(rk1)=round(1e6/61)=16393, c(rk2)=round(1e6/62)=16129
    val a = rankedList(Seq((1, 10L, 1L), (1, 20L, 2L)))
    val b = rankedList(Seq((1, 20L, 1L), (1, 30L, 2L)))
    val out = Retrieval.rrfFuse(Seq(a, b), k = 3)
      .select("doc_id", "rrf_micro", "rk_0", "rk_1", "rk")
      .orderBy("rk").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(20L, 10L, 30L))
    assert(out.map(_.getLong(1)).toSeq == Seq(16393L + 16129L, 16393L, 16129L))
    // doc 20: rank 2 lexical, rank 1 dense; 10 missed the dense list
    assert(out(0).getLong(2) == 2L && out(0).getLong(3) == 1L)
    assert(out(1).getLong(2) == 1L && out(1).isNullAt(3))
    assert(out(2).isNullAt(2) && out(2).getLong(3) == 2L)
  }

  test("rrf: equal fused scores break by doc_id; k truncates per query") {
    // each doc appears in exactly one list at rank 1 → identical scores
    val a = rankedList(Seq((1, 50L, 1L), (2, 7L, 1L)))
    val b = rankedList(Seq((1, 40L, 1L), (2, 9L, 1L)))
    val out = Retrieval.rrfFuse(Seq(a, b), k = 1)
      .select("query_id", "doc_id", "rk").orderBy("query_id").collect()
    assert(out.length == 2)
    assert(out.map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((1, 40L), (2, 7L)))
  }

  test("rrf: three rankers fuse (index-agnostic — any (query_id,doc_id,rk) plugs in)") {
    val a = rankedList(Seq((1, 10L, 1L)))
    val b = rankedList(Seq((1, 10L, 2L)))
    val c = rankedList(Seq((1, 10L, 3L), (1, 11L, 1L)))
    val out = Retrieval.rrfFuse(Seq(a, b, c), k = 2)
      .select("doc_id", "rrf_micro", "rk_2", "rk").orderBy("rk").collect()
    // 10: 16393+16129+round(1e6/63)=15873 = 48395; 11: 16393
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((10L, 48395L), (11L, 16393L)))
    assert(out(0).getLong(2) == 3L && out(1).getLong(2) == 1L)
    intercept[IllegalArgumentException](Retrieval.rrfFuse(Seq.empty, k = 1))
    intercept[IllegalArgumentException](Retrieval.rrfFuse(Seq(a), k = 0))
    intercept[IllegalArgumentException](Retrieval.rrfFuse(Seq(a), k = 1, k0 = 0))
  }

  test("phrase: hand-computed occurrences — overlap counts, partial match doesn't") {
    val docs = docsDf(Seq(
      (1L, "a b a b a"),   // "a b" at 0,2; "a b a" at 0,2 (overlapping)
      (2L, "a c b"),       // adjacency broken — no match
      (3L, "b a b")))      // "a b" at 1
    val out = Retrieval.phraseTopK(docs,
        Seq(1 -> Seq("a", "b"), 2 -> Seq("a", "b", "a")), k = 10)
      .orderBy("phrase_id", "rk").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1, 1L, 2L), (1, 3L, 1L), (2, 1L, 2L)))
  }

  test("phrase: repeated terms need distinct positions; double spaces break adjacency") {
    val docs = docsDf(Seq(
      (1L, "big big big"), // "big big" anchors 0 and 1
      (2L, "big x big"),   // never adjacent
      (3L, "a  b")))       // split yields a@0, ""@1, b@2 — NOT adjacent
    val out = Retrieval.phraseTopK(docs,
        Seq(1 -> Seq("big", "big"), 2 -> Seq("a", "b")), k = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1, 1L, 2L)))
  }

  test("phrase: indexed probe is row-equal to the index-free scan and partition-prunes") {
    val docs = docsDf(Seq(
      (1L, "x y z x y"), (2L, "y x y"), (3L, "z z x y z")))
    val idx = s"${sys.props("java.io.tmpdir")}/graft-phraseidx-spec"
    Retrieval.phraseWriteIndex(docs, idx, nBuckets = 8)
    val phrases = Seq(1 -> Seq("x", "y"), 2 -> Seq("y", "z"))
    val free = Retrieval.phraseTopK(docs, phrases, k = 10)
      .orderBy("phrase_id", "rk").collect().toSeq
    val probe = Retrieval.phraseTopKIndexed(spark, idx, phrases, k = 10)
    val indexed = probe.orderBy("phrase_id", "rk").collect().toSeq
    assert(indexed == free && free.nonEmpty)
    probe.collect()
    val scans = probe.queryExecution.executedPlan.toString
    assert(scans.contains("PartitionFilters") && scans.contains("tb"))
  }

  test("proximity: window edge is inclusive and crosses bucket boundaries") {
    val docs = docsDf(Seq(
      (1L, "spark x x join"),     // p=0, q=3: |3|<=3, buckets 0 vs 1
      (2L, "spark x x x join"),   // q=4: out of window
      (3L, "join x spark")))      // other BEFORE anchor (p=2, q=0)
    val out = Retrieval.proximityTopK(docs,
        Seq(1 -> Seq("spark", "join")), w = 3, k = 10)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(out == Seq((1L, 1L), (3L, 1L)))
  }

  test("proximity: ALL other terms must fall in the window; guards reject bad phrases") {
    val docs = docsDf(Seq(
      (1L, "a b c"),         // both b and c within 2 of a@0
      (2L, "a b x x x c"),   // c@5 outside w=2
      (3L, "a a b c")))      // two anchors, both match (b@2,c@3 within 2 of a@1; a@0: b@2 ok c@3 no)
    val out = Retrieval.proximityTopK(docs,
        Seq(1 -> Seq("a", "b", "c")), w = 2, k = 10)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(out == Seq((1L, 1L), (3L, 1L)))
    intercept[IllegalArgumentException](
      Retrieval.proximityTopK(docs, Seq(1 -> Seq("big", "big")), w = 2, k = 1))
    intercept[IllegalArgumentException](
      Retrieval.proximityTopK(docs, Seq(1 -> Seq("solo")), w = 2, k = 1))
  }

  test("snippet: best anchor maximizes distinct-term coverage; window clips at doc start") {
    val docs = docsDf(Seq(
      (1L, "x spark y join z"),      // anchor spark@1: {spark,join} within 3
      (2L, "spark a b c d e join"),  // terms 6 apart: best coverage is 1
      (3L, "join w")))               // join@0: window clips to [0,3]
    val out = Retrieval.snippetTopK(docs,
        Seq(1 -> Seq("spark", "join")), w = 3, k = 3)
      .orderBy("rk").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    // doc 1 first (coverage 2), snippet = ±3 window around spark@1
    assert(out(0) == (1L, 1L, 2L, "x spark y join z"))
    // docs 2 and 3 at coverage 1; doc 2 best anchor = spark@0 (lowest pos)
    assert(out(1) == (2L, 0L, 1L, "spark a b c"))
    assert(out(2) == (3L, 0L, 1L, "join w"))
    // indexed path is row-equal (scoring pruned, fetch from the index)
    val idx = s"${sys.props("java.io.tmpdir")}/graft-snipidx-spec"
    Retrieval.phraseWriteIndex(docs, idx, nBuckets = 8)
    val indexed = Retrieval.snippetTopKIndexed(spark, idx,
        Seq(1 -> Seq("spark", "join")), w = 3, k = 3)
      .orderBy("rk").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(indexed.toSeq == out.toSeq)
  }

  test("rrf: anchorTopK re-keys anchor vec_id to query_id and excludes the anchor row") {
    val s = spark
    import s.implicits._
    val emb = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(1f, 0f)), (3L, Seq(0f, 1f)))
      .toDF("id", "embedding")
    val out = Retrieval.anchorTopK(emb, Map(9 -> 1L), k = 3)
      .orderBy("rk").collect()
    assert(out.map(_.getInt(0)).toSeq.forall(_ == 9))
    assert(out.map(_.getLong(1)).toSeq == Seq(2L, 3L)) // no self row (id 1)
    assert(math.abs(out(0).getDouble(3) - 1.0) < 1e-6)
  }
}
