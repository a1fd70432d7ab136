package graft

import graft.operators._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Training-pipeline operator semantics: minhash/LSH, simhash, ANN recall,
  * matchpath, multimodal. Runs on sf0.001. */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 4, appName = "graft-test")
  val dir = "/root/testdata/sf0.001"
  import spark.implicits._

  override def afterAll(): Unit = spark.stop()

  private def docs = Engine.table(spark, dir, "documents")
  private def emb = Engine.table(spark, dir, "embeddings")
    .select(col("vec_id").as("id"), col("embedding"), col("label"))

  test("minhash signature: identical texts agree, disjoint texts do not") {
    def sig(t: String) =
      TextFeatures.minhashSig(TextFeatures.shingles3(TextFeatures.words(t)), 32).toSeq
    assert(sig("a b c d e f g h") == sig("a b c d e f g h"))
    assert(sig("a b c d e f g h") != sig("q r s t u v w x"))
  }

  test("h60 matches the DuckDB md5-prefix formula") {
    // CAST(('0x' || substr(md5('hello'),1,15)) AS BIGINT)
    // md5('hello') = 5d41402abc4b2a76b9719d911017c592 → 0x5d41402abc4b2a7
    assert(TextFeatures.h60("hello") == 0x5d41402abc4b2a7L)
  }

  test("winnow degenerates to distinct grams below window size") {
    assert(TextFeatures.winnow(Array(5L, 3L, 5L), 4).toSeq == Seq(5L, 3L))
    assert(TextFeatures.winnow(Array(9L, 3L, 7L, 8L, 2L), 4).toSeq == Seq(3L, 2L))
  }

  test("minhash LSH equals the exhaustive all-pairs Jaccard result") {
    val lsh = Dedup.minhashNearDupPairs(docs, 128, 32, 0.8)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val exhaustive = Dedup.ngramJaccardPairs(
        docs.withColumn("all", lit(1)), "all", 0.8)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(exhaustive.nonEmpty)
    assert(lsh == exhaustive)
  }

  test("simhash: near-dup pair within hamming 4; blocked variant agrees with all-pairs") {
    for (maxHam <- Seq(3, 4, 7)) {
      val all = Dedup.simhashPairsAll(docs, maxHam)
        .select("d1", "d2", "ham").as[(Long, Long, Int)].collect().toSet
      val blocked = Dedup.simhashPairsBlocked(docs, maxHam)
        .select("d1", "d2", "ham").as[(Long, Long, Int)].collect().toSet
      assert(blocked == all, s"maxHamming=$maxHam")
    }
  }

  test("IVF ANN recall@10 >= 0.5 vs brute force") {
    val queries = emb.filter(col("id") < 30)
    val brute = AnnSearch.bruteTopK(queries, emb, 10)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val ivf = AnnSearch.ivfTopK(queries, emb, 10, 40, 4)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("PQ-ADC ANN: recall@10 vs brute force, exact rescored scores, shortlist honored") {
    val queries = emb.filter(col("id") < 30)
    val brute = AnnSearch.bruteTopK(queries, emb, 10)
      .select("qid", "cid", "cos").as[(Long, Long, Double)].collect()
    val bruteSet = brute.map(r => (r._1, r._2)).toSet
    val pq = PqAnn.pqTopK(queries, emb, 10, m = 16, ncent = 16, stride = 7,
        shortlist = 64)
      .select("qid", "cid", "cos").as[(Long, Long, Double)].collect()
    val recall = (bruteSet & pq.map(r => (r._1, r._2)).toSet).size.toDouble / bruteSet.size
    assert(recall >= 0.5, s"PQ recall=$recall")
    // rescore is EXACT: any pair PQ and brute share must carry the same cos
    val bruteCos = brute.map(r => (r._1, r._2) -> r._3).toMap
    pq.foreach { case (q, c, cos) =>
      bruteCos.get((q, c)).foreach(b => assert(b == cos,
        s"PQ reported approx score for ($q,$c): $cos != exact $b"))
    }
    // a wide-open shortlist converges to brute force exactly
    val full = PqAnn.pqTopK(queries, emb, 10, m = 16, ncent = 16, stride = 7,
        shortlist = 100000)
      .select("qid", "cid", "cos").as[(Long, Long, Double)].collect()
    assert(full.map(r => (r._1, r._2)).toSet == bruteSet,
      "shortlist=∞ PQ must equal brute force (rescore is exact)")
  }

  test("IVF-PQ: recall@10 vs brute force, exact rescored scores, full-probe degeneracy") {
    val queries = emb.filter(col("id") < 30)
    val brute = AnnSearch.bruteTopK(queries, emb, 10)
      .select("qid", "cid", "cos").as[(Long, Long, Double)].collect()
    val bruteSet = brute.map(r => (r._1, r._2)).toSet
    val ivfpq = IvfPq.ivfPqTopK(queries, emb, 10, centroidStride = 40,
        nprobe = 4, m = 16, ncent = 16, pqStride = 7, shortlist = 64)
      .select("qid", "cid", "cos").as[(Long, Long, Double)].collect()
    val recall = (bruteSet & ivfpq.map(r => (r._1, r._2)).toSet).size.toDouble / bruteSet.size
    assert(recall >= 0.4, s"IVF-PQ recall=$recall") // 4/13 lists probed caps recall
    // rescore is EXACT: any pair IVF-PQ and brute share carries the same cos
    val bruteCos = brute.map(r => (r._1, r._2) -> r._3).toMap
    ivfpq.foreach { case (q, c, cos) =>
      bruteCos.get((q, c)).foreach(b => assert(b == cos,
        s"IVF-PQ reported approx score for ($q,$c): $cos != exact $b"))
    }
    // every list probed + unbounded shortlist degenerates to brute force:
    // the approximation is ONLY candidate pruning, never the answer
    val full = IvfPq.ivfPqTopK(queries, emb, 10, centroidStride = 40,
        nprobe = 1000, m = 16, ncent = 16, pqStride = 7, shortlist = 100000)
      .select("qid", "cid").as[(Long, Long)].collect()
    assert(full.map(r => (r._1, r._2)).toSet == bruteSet,
      "nprobe=∞/shortlist=∞ IVF-PQ must equal brute force")
  }

  test("IVF-PQ index lifecycle: buildIndex + probeIndex == ivfPqTopK, " +
      "one file per inverted list") {
    val queries = emb.filter(col("id") < 30)
    val path = s"${Engine.scratchRoot}/pipelinespec/ivfpq_idx"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val idx = IvfPq.buildIndex(emb, path, centroidStride = 40,
      m = 16, ncent = 16, pqStride = 7)
    val probed = IvfPq.probeIndex(queries, emb, idx, 10, nprobe = 4,
        shortlist = 64)
      .select("qid", "cid", "cos").as[(Long, Long, Double)].collect().toSet
    val direct = IvfPq.ivfPqTopK(queries, emb, 10, centroidStride = 40,
        nprobe = 4, m = 16, ncent = 16, pqStride = 7, shortlist = 64)
      .select("qid", "cid", "cos").as[(Long, Long, Double)].collect().toSet
    assert(probed == direct,
      "the persisted index must answer exactly like the one-shot path")
    // one data file per cent_id dir — the small-files discipline the build
    // repartition exists for (a probe pays per-file open cost)
    val dirs = new java.io.File(
        IndexStore.latest(spark, path).get.dir("lists")).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cent_id="))
    assert(dirs.nonEmpty)
    dirs.foreach { d =>
      val n = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(n == 1, s"${d.getName} has $n parquet files (want 1 per list)")
    }
  }

  test("IVF-PQ incremental ingest: train + addBatch* == one-shot buildIndex, " +
      "order-independent, openIndex round-trips the frozen book") {
    val queries = emb.filter(col("id") < 30)
    val root = s"${Engine.scratchRoot}/pipelinespec/ivfpq_inc"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    def results(idx: IvfPq.IvfPqIndex) =
      IvfPq.probeIndex(queries, emb, idx, 10, nprobe = 4, shortlist = 64)
        .select("qid", "cid", "rk", "cos")
        .as[(Long, Long, Int, Double)].collect().toSet
    val oneShot = results(IvfPq.buildIndex(emb, s"$root/one",
      centroidStride = 40, m = 16, ncent = 16, pqStride = 7))
    // incremental: train on the full corpus (the q348 book), ingest thirds
    val b = (0 to 2).map(i => emb.filter(col("id") % 3 === i))
    IvfPq.trainIndex(emb, s"$root/inc", centroidStride = 40,
      m = 16, ncent = 16, pqStride = 7)
    Seq(0, 1, 2).foreach(i => IvfPq.addBatch(b(i), s"$root/inc"))
    // openIndex from disk alone — the book survives the round-trip
    val inc = results(IvfPq.openIndex(spark, s"$root/inc"))
    assert(inc == oneShot, "incremental ingest must be bit-equal to one-shot")
    // ingest order cannot matter: batches commute under append
    IvfPq.trainIndex(emb, s"$root/rev", centroidStride = 40,
      m = 16, ncent = 16, pqStride = 7)
    Seq(2, 0, 1).foreach(i => IvfPq.addBatch(b(i), s"$root/rev"))
    assert(results(IvfPq.openIndex(spark, s"$root/rev")) == oneShot,
      "reversed ingest order must produce identical probe results")
  }

  test("trained PQ codebooks: recall@10 >= stride baseline (flat PQ and " +
      "IVF-PQ residuals), and Lloyd actually moves the book") {
    val queries = emb.filter(col("id") < 30)
    val brute = AnnSearch.bruteTopK(queries, emb, 10)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    def recallOf(df: org.apache.spark.sql.DataFrame) = {
      val got = df.select("qid", "cid").as[(Long, Long)].collect().toSet
      (brute & got).size.toDouble / brute.size
    }
    val pqStride = recallOf(PqAnn.pqTopK(queries, emb, 10,
      m = 16, ncent = 16, stride = 7, shortlist = 64))
    val pqTrained = recallOf(PqAnn.pqTopK(queries, emb, 10,
      m = 16, ncent = 16, stride = 7, shortlist = 64, iters = 2))
    assert(pqTrained >= pqStride,
      s"trained PQ recall $pqTrained fell below stride baseline $pqStride")
    val ivfStride = recallOf(IvfPq.ivfPqTopK(queries, emb, 10,
      centroidStride = 40, nprobe = 4, m = 16, ncent = 16, pqStride = 7,
      shortlist = 64))
    val ivfTrained = recallOf(IvfPq.ivfPqTopK(queries, emb, 10,
      centroidStride = 40, nprobe = 4, m = 16, ncent = 16, pqStride = 7,
      shortlist = 64, pqIters = 2))
    assert(ivfTrained >= ivfStride,
      s"trained IVF-PQ recall $ivfTrained fell below stride baseline $ivfStride")
    // Lloyd iterations must actually move the codebook off the init rows
    val qc = emb.select(col("id"),
      transform(col("embedding"),
        x => round(x.cast("double") * 1000000.0).cast("long")).as("qe"))
    val init = Array.tabulate(16, 16)((mi, j) =>
      Array.fill(4)(0L)) // degenerate init: all-zero cells
    val moved = PqAnn.lloydSubspaces(qc, init, 4, 1)
    assert(moved.flatten.exists(!_.forall(_ == 0L)),
      "one Lloyd round over real vectors must move an all-zero codebook")
  }

  test("IVF-PQ remove_ids: tombstones mask before the ADC scan; compaction " +
      "drops codes physically with identical probe results") {
    val queries = emb.filter(col("id") < 30)
    val root = s"${Engine.scratchRoot}/pipelinespec/ivfpq_del"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    IvfPq.buildIndex(emb, root, centroidStride = 40,
      m = 16, ncent = 16, pqStride = 7)
    def probe() = IvfPq.probeIndex(queries, emb,
        IvfPq.openIndex(spark, root), 10, nprobe = 4, shortlist = 64)
      .select("qid", "cid", "rk", "cos")
      .as[(Long, Long, Int, Double)].collect().toSet
    val before = probe()
    IvfPq.removeIds(emb.filter(col("id") % 7 === 0).select("id"), root)
    val masked = probe()
    assert(masked.forall(_._2 % 7 != 0), "removed ids must never surface")
    assert(masked != before, "removals must change the top-k on this corpus")
    // compaction: same results, tombstones gone, codes physically absent
    IvfPq.compactIndex(spark, root)
    val compacted = IndexStore.latest(spark, root).get
    assert(!compacted.has(IndexStore.TOMBS) &&
      !new java.io.File(root).list().exists(_.startsWith("tombstones")))
    assert(probe() == masked,
      "compaction must not change any probe result")
    assert(spark.read.parquet(compacted.dir("lists"))
      .filter(col("cid") % 7 === 0).isEmpty,
      "compaction must drop tombstoned codes from the lists")
    // a second compact with no tombstones is a no-op
    IvfPq.compactIndex(spark, root)
    assert(probe() == masked)
  }

  test("OPQ-lite: signed permutation is orthogonal — brute degeneracy holds " +
      "under rotation, shared pairs carry identical exact cosines") {
    val queries = emb.filter(col("id") < 30)
    // the permutation is a real non-identity bijection with ±1 signs
    val (perm, sgn) = PqAnn.signedPerm("r358", 64)
    assert(perm.sorted.sameElements(0 until 64), "must be a bijection")
    assert(!perm.sameElements(0 until 64), "md5 order must move coordinates")
    assert(sgn.forall(s => s == 1L || s == -1L) && sgn.contains(-1L))
    // orthogonality: with every candidate rescored (shortlist=∞), rotated
    // PQ equals brute force bit-exactly — rotation changes the codes, never
    // the exact math
    val brute = AnnSearch.bruteTopK(queries, emb, 10)
      .select("qid", "cid", "cos").as[(Long, Long, Double)].collect().toSet
    val rotFull = PqAnn.pqTopK(queries, emb, 10, m = 16, ncent = 16,
        stride = 7, shortlist = 100000, rotateSeed = Some("r358"))
      .select("qid", "cid", "cos").as[(Long, Long, Double)].collect().toSet
    assert(rotFull == brute,
      "shortlist=∞ rotated PQ must equal brute force (signed perm is orthogonal)")
    // at the production shortlist, any pair the rotated and unrotated runs
    // share reports the SAME exact cosine (the rescore is rotation-blind)
    val bruteCos = brute.map(r => (r._1, r._2) -> r._3).toMap
    PqAnn.pqTopK(queries, emb, 10, m = 16, ncent = 16, stride = 7,
        shortlist = 64, rotateSeed = Some("r358"))
      .select("qid", "cid", "cos").as[(Long, Long, Double)].collect()
      .foreach { case (q, c, cos) =>
        bruteCos.get((q, c)).foreach(b => assert(b == cos,
          s"rotated rescore drifted for ($q,$c): $cos != $b"))
      }
  }

  test("k-means IVF: trained centroids' recall@10 >= the stride baseline," +
      " and training moves the codebook") {
    val queries = emb.filter(col("id") < 30)
    val brute = AnnSearch.bruteTopK(queries, emb, 10)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    def recallOf(df: org.apache.spark.sql.DataFrame) = {
      val got = df.select("qid", "cid").as[(Long, Long)].collect().toSet
      (brute & got).size.toDouble / brute.size
    }
    val stride = recallOf(AnnSearch.ivfTopK(queries, emb, 10, 40, 4))
    val trained = recallOf(AnnSearch.ivfTopKTrained(queries, emb, 10, 40, 4, 3))
    assert(trained >= stride,
      s"k-means recall $trained fell below the stride baseline $stride")
    // Lloyd iterations must actually move the centroids off the init rows
    val c0 = AnnSearch.trainCentroids(emb, 40, 0).map(_._2.toSeq).toSeq
    val c3 = AnnSearch.trainCentroids(emb, 40, 3).map(_._2.toSeq).toSeq
    assert(c0 != c3, "training left every centroid at its init value")
    // and converged training is stable: an extra iteration at convergence
    // cannot change the (deterministic) assignment-derived means
    val c4 = AnnSearch.trainCentroids(emb, 40, 4).map(_._2.toSeq).toSeq
    assert(c3.size == c4.size && c3.size == c0.size)
  }

  test("incremental IVF index: ingest is order-independent and equals the" +
      " one-shot build under the same frozen centroids") {
    val queries = emb.filter(col("id") < 30)
    def result(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "cid", "rk").as[(Long, Long, Int)].collect().toSet
    // one-shot reference: stride 120 over the union derives EXACTLY the
    // centroid set the incremental init freezes (ids ≡ 0 mod 3 ∩ mod 40)
    val oneShot = result(AnnSearch.ivfTopK(queries, emb, 10, 120, 2))
    val base = s"${Engine.scratchRoot}/ivfspec"
    for ((order, i) <- Seq(Seq(1, 2), Seq(2, 1)).zipWithIndex) {
      val idx = s"$base/i$i"
      AnnSearch.ivfIndexInit(emb.filter(col("id") % 3 === 0), 40, idx)
      order.foreach(b =>
        AnnSearch.ivfIndexIngest(emb.filter(col("id") % 3 === b), idx))
      assert(result(AnnSearch.ivfTopKIncremental(queries, idx, 10, 2)) ==
        oneShot, s"ingest order $order diverged from the one-shot build")
    }
  }

  test("tiled cosine near-dup ≡ all-pairs (tiles=1) at several tile counts") {
    val exact = AnnSearch.cosineNearDupPairs(emb, "label", 0.4, tiles = 1)
      .orderBy("d1", "d2").collect().toSeq
    assert(exact.nonEmpty, "threshold admits no pairs — test verifies nothing")
    for (t <- Seq(3, 8)) {
      val tiled = AnnSearch.cosineNearDupPairs(emb, "label", 0.4, tiles = t)
        .orderBy("d1", "d2").collect().toSeq
      assert(tiled == exact, s"tiles=$t diverged from the all-pairs answer")
    }
  }

  test("LSH near-dup ≡ exact all-pairs on planted near-duplicates") {
    // plant a perturbed copy of every vector (same integer-rational factor
    // as q147), then require the bucketed path to reproduce the exact join
    val pert = emb.select((col("id") + 1000000L).as("id"),
      expr("""transform(embedding,
        |  (x, i) -> CAST(CAST(x AS DOUBLE)
        |    * (1.0D + (CAST((i*31+7) % 13 AS DOUBLE) - 6.0D)/100.0D) AS FLOAT))""".stripMargin)
        .as("embedding"),
      col("label"))
    val u = emb.unionByName(pert)
    val exact = AnnSearch.cosineNearDupPairs(u, "label", 0.95, tiles = 1)
      .orderBy("d1", "d2").collect().toSeq
    val lsh = AnnSearch.cosineNearDupPairsLsh(u, "label", 0.95)
      .orderBy("d1", "d2").collect().toSeq
    assert(exact.nonEmpty, "no planted pairs qualified — test verifies nothing")
    assert(lsh == exact, "LSH path missed or fabricated pairs vs the exact join")
  }

  test("LSH ANN: positive recall vs brute force, candidates actually pruned") {
    val queries = emb.filter(col("id") < 30)
    val brute = AnnSearch.bruteTopK(queries, emb, 10)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val lshPairs = AnnSearch.lshTopK(queries, emb, 10)
      .select("qid", "cid").as[(Long, Long)].collect()
    val lsh = lshPairs.toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    // this corpus is near-random (mean top-10 cos ≈ 0.3), the hardest case
    // for LSH — the bound is deliberately loose; clustered real embeddings
    // recall far higher at the same (nBits, nTables)
    assert(recall >= 0.15, s"recall=$recall")
    // every query returns at most k (derivable from the collected pairs)
    assert(lshPairs.groupBy(_._1).valuesIterator.map(_.length).max <= 10)
    // pruning is real: the deduped candidate-pair count must be well under
    // the |queries|×|corpus| cartesian a degenerate signature would give
    val nCand = AnnSearch.lshCandidates(queries, emb, 6, 10, 42L).count()
    val cart = queries.count() * emb.count()
    assert(nCand < cart / 2, s"candidates=$nCand of cartesian=$cart — not pruning")
  }

  test("minhash hot-bucket cap drops duplication bombs, keeps normal pairs") {
    import org.apache.spark.sql.functions.{col, lit}
    // 6 identical docs (a bomb cluster: every band bucket holds all 6)
    // plus one near-dup pair that shares buckets of size 2
    val bomb = (1L to 6L).map(i => (i, "the quick brown fox jumps over the lazy dog again and again"))
    val pair = Seq(
      (10L, "completely different text about distributed query engines at scale"),
      (11L, "completely different text about distributed query engines at scale"))
    val docs = spark.createDataFrame(bomb ++ pair).toDF("doc_id", "text")
    val uncapped = Dedup.minhashNearDupPairs(docs, 32, 8, 0.8)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val capped = Dedup.minhashNearDupPairs(docs, 32, 8, 0.8, maxBucketSize = Some(3))
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((10L, 11L)) && uncapped.size == 15 + 1)
    assert(capped == Set((10L, 11L)), s"bomb pairs must be dropped, got $capped")
  }

  test("LSH ANN scores are exact for the pairs it returns") {
    val queries = emb.filter(col("id") < 10)
    val brute = AnnSearch.bruteTopK(queries, emb, 500)
      .select("qid", "cid", "cos").as[(Long, Long, Double)]
      .collect().map { case (q, c, s) => (q, c) -> s }.toMap
    val lsh = AnnSearch.lshTopK(queries, emb, 10)
      .select("qid", "cid", "cos").as[(Long, Long, Double)].collect()
    lsh.foreach { case (q, c, s) =>
      brute.get((q, c)).foreach(b => assert(math.abs(b - s) < 1e-9,
        s"pair ($q,$c): lsh=$s brute=$b"))
    }
  }

  test("dot_f32 expression matches HOF-computed dot product") {
    val hof = emb.select(col("id"),
      aggregate(zip_with(col("embedding"), col("embedding"),
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (a, v) => a + v).as("d"))
    val nat = emb.select(col("id"),
      AnnSearch.dotF32(col("embedding"), col("embedding")).as("d"))
    val joined = hof.as("h").join(nat.as("n"), "id")
      .select(abs(col("h.d") - col("n.d")).as("diff"))
      .agg(max("diff")).head().getDouble(0)
    assert(joined < 1e-9)
  }

  test("dot_f32 SQL registration") {
    functions.HiveFunctionPack.register(spark)
    val r = spark.sql(
      "SELECT dot_f32(array(cast(1.0 as float), cast(2.0 as float)), " +
        "array(cast(3.0 as float), cast(4.0 as float)))").head().getDouble(0)
    assert(math.abs(r - 11.0) < 1e-12)
  }

  test("matchpath: greedy funnel matches are non-overlapping and ordered") {
    val events = Seq(
      (1L, 1L, "2024-01-01 00:00:00", "signup", 1.0),
      (1L, 2L, "2024-01-01 00:01:00", "view", 2.0),
      (1L, 3L, "2024-01-01 00:02:00", "purchase", 3.0),
      (1L, 4L, "2024-01-01 00:03:00", "purchase", 4.0),
      (2L, 5L, "2024-01-01 00:00:00", "view", 9.0))
      .toDF("user_id", "event_id", "ts", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val m = MatchPath.matchPath(spark, events,
      { case "signup" => 's'; case "purchase" => 'p'; case _ => 'x' }, "sx*p")
      .collect()
    assert(m.length == 1)
    assert(m.head.start_event == 1L && m.head.end_event == 3L &&
      m.head.n_steps == 3L && math.abs(m.head.sum_value - 6.0) < 1e-12)
  }

  test("connected components: chain + triangle + isolated pair") {
    // chain 1-2-3-4, triangle 10-11-12, pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("d1", "d2")
    val comp = operators.Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comp(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(comp(_) == 10L))
    assert(Seq(20L, 21L).forall(comp(_) == 20L))
  }

  test("salted aggregation equals direct groupBy") {
    val ev = Engine.table(spark, dir, "events")
    val salted = operators.SkewAgg.saltedAgg(
        ev, Seq("event_type"), "value", col("event_id"), 16)
      .select("event_type", "n", "sv").as[(String, Long, Double)]
      .collect().map(r => r._1 -> (r._2, math.round(r._3 * 1e4)))
      .toMap
    val direct = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value").as("sv"))
      .as[(String, Long, Double)]
      .collect().map(r => r._1 -> (r._2, math.round(r._3 * 1e4)))
      .toMap
    assert(salted == direct)
  }

  test("tablesample percent yields a plausible seeded fraction") {
    val total = Engine.table(spark, dir, "lineitem").count()
    val sampled = SparkEntry.queries("q88_tablesample_percent")(spark, dir).count()
    val frac = sampled.toDouble / total
    assert(frac > 0.05 && frac < 0.15, s"fraction=$frac")
  }

  test("multimodal: feature vectors are 16-wide, L1-normalized; frame sample bounded") {
    val media = Multimodal.mediaTable(docs.limit(50))
    val feats = Multimodal.extractFeatures(spark, media)
    val rows = feats.select(size(col("feature")).as("w"),
      aggregate(col("feature"), lit(0.0d),
        (a, v) => a + v.cast("double")).as("l1"),
      length(col("frame_sample")).as("fs")).collect()
    assert(rows.forall(_.getInt(0) == 16))
    assert(rows.forall(r => math.abs(r.getDouble(1) - 1.0) < 1e-4))
    assert(rows.forall(_.getInt(2) <= 8))
  }

  test("triplet mining: hard positive is the LOWEST same-label cos, negatives rank by cos desc, label-orphan anchors drop") {
    val s = spark
    import s.implicits._
    val e = Seq(
      (1L, Seq(1f, 0f), 0),  // anchor, label 0
      (2L, Seq(0f, 1f), 9),  // anchor, label 9 — no other label-9 row → drops
      (3L, Seq(1f, 1f), 0),  // pos cos ≈ 0.7071
      (4L, Seq(0f, 1f), 0),  // pos cos 0 → the HARD positive
      (5L, Seq(1f, 0f), 1),  // neg cos 1.0 → hardest negative
      (6L, Seq(0f, 1f), 1))  // neg cos 0
      .toDF("id", "embedding", "label")
    val out = graft.operators.AnnSearch
      .tripletMine(e.filter($"id" <= 2), e, k = 2)
      .orderBy("qid", "rk").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 1L)) // anchor 2 dropped
    assert(out.map(_.getLong(2)).toSeq == Seq(4L, 4L)) // hard positive
    assert(out.map(_.getDouble(3)).forall(_ == 0.0))
    // cos-0 tie among negatives (ids 2 and 6) breaks by lower cid → 2
    assert(out.map(r => (r.getLong(4), r.getDouble(5))).toSeq ==
      Seq((5L, 1.0), (2L, 0.0)))
    assert(out.map(_.getDouble(6)).toSeq == Seq(-1.0, 0.0)) // margin = pos − neg
  }

  test("quality canonicals (q193): exactly one keep per component, and it has the max quality") {
    val out = SparkEntry.queries("q193_quality_canonicals")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    // full coverage: one row per doc
    assert(out.map(_._1).distinct.length == out.length)
    val byComp = out.groupBy(_._2)
    byComp.foreach { case (comp, members) =>
      val kept = members.filter(_._4)
      assert(kept.length == 1, s"component $comp keeps ${kept.length}")
      // the kept doc maximizes (quality, then lower doc_id)
      val best = members.minBy { case (id, _, q, _) => (-q, id) }
      assert(kept.head == best)
    }
  }
}
