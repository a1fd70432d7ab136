package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Engine
import graft.operators.{AnnSearch, BinaryAnn, GraphAnn, IvfPq, PqAnn}
import graft.tools.Scale.{Case, Run}

/** The ANN families' scale cases (q44, q347/q348, q354–q368, q379–q381). */
object ScaleAnn {

  /** The base embeddings, 30 queries and the ×N corpora built from them. */
  private final class Corpus(r: Run) {
    import r._
    import spark.implicits._
    val base = Engine.table(spark, dir, "embeddings").select(col("vec_id").as("id"), col("embedding"))
    val stride = Scale.stride(base, "id")
    val queries = base.filter(col("id") < 30).cache()
    queries.count()
    /** Production embeddings are ~1024-dim: the 64-dim vectors tiled ×16. */
    def wide(df: DataFrame): DataFrame =
      df.withColumn("embedding", flatten(array_repeat(col("embedding"), 16)))
    lazy val queriesW = wide(queries)

    /** The corpus ×`f`, written once under the case's scratch dir. */
    def at(f: Int, perReplica: DataFrame => DataFrame = identity): DataFrame = {
      val out = s"$scratch/x$f"
      if (!new java.io.File(out).exists())
        Scale.replicate(base, f, Map("id" -> stride))(perReplica)
          .repartition(math.max(8, f / 8)).write.parquet(out)
      spark.read.parquet(out)
    }

    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("qid", "cid").as[(Long, Long)].collect().toSet
    def recall(truth: Set[(Long, Long)], got: Set[(Long, Long)]): Double =
      (truth & got).size.toDouble / truth.size
    /** Best-of-2 wall of a top-k and that run's (qid, cid) pairs. */
    def topK(label: String)(run: => DataFrame): (Double, Set[(Long, Long)]) =
      time(label)(pairs(run))
  }

  /** nlist ≈ √corpus: the coarse stride grows with √factor (the FAISS
    * IndexIVFPQ sizing rule), so a probe's list grows as √N while the
    * probed fraction shrinks. */
  private def coarse(f: Int): Int = math.max(1, (50 * math.sqrt(f)).toInt)

  val cases: Seq[Case] = Seq(

    // IVF-PQ split the way production pays it: BUILD (train + encode, once
    // at ingest) against PROBE (per query batch), against brute force as
    // the corpus grows ×N and ×8N. The replicated corpus repeats every
    // vector N times, so recall is measured at shortlist 64·N (the probe
    // wall at the production 64). Then incremental ingest, delete and
    // compaction, 1024 dims, the recall-vs-nprobe curve and flat PQ.
    Case("ann", 64) { r =>
      import r._
      val c = new Corpus(r)
      import c.{base, queries, queriesW, wide, pairs, recall, topK}
      for (f <- Seq(1, factor, 8 * factor).distinct) {
        val corpus = c.at(f)
        val n = corpus.count()
        val (bw, brute) = topK(s"x$f brute")(AnnSearch.bruteTopK(queries, corpus, 10))
        val (build, idx) = time(s"x$f build", 1)(IvfPq.buildIndex(corpus, s"$scratch/idx$f",
          centroidStride = coarse(f), m = 16, ncent = 16, pqStride = 7))
        val (pw, _) = topK(s"x$f probe")(
          IvfPq.probeIndex(queries, corpus, idx, 10, nprobe = 8, shortlist = 64))
        val got = pairs(IvfPq.probeIndex(queries, corpus, idx, 10, nprobe = 8, shortlist = 64 * f))
        report(f"x$f rows=$n nlist~${n / coarse(f)} brute=$bw%.2fs build=$build%.2fs " +
          f"probe=$pw%.2fs recall=${recall(brute, got)}%.3f")
      }

      // incremental ingest (q354): train once, add the corpus in 8 batches;
      // a batch pays its own encode only, and the batch-built index probes
      // as fast as the one-shot one (8 files per list instead of 1)
      val corpus = c.at(factor)
      val inc = s"$scratch/idxinc"
      val (train, _) = time(s"x$factor train", 1)(IvfPq.trainIndex(corpus, inc,
        centroidStride = coarse(factor), m = 16, ncent = 16, pqStride = 7))
      val batchWalls = (0 until 8).map(b =>
        time(s"x$factor addBatch $b", 1)(IvfPq.addBatch(corpus.filter(col("id") % 8 === b), inc))._1)
      val idx = IvfPq.openIndex(spark, inc)
      def probe(label: String) = topK(label)(
        IvfPq.probeIndex(queries, corpus, idx, 10, nprobe = 8, shortlist = 64))
      val (pw, cleanRows) = probe(s"x$factor probe batch-built")
      report(f"x$factor-ingest train=$train%.2fs batchAvg=${batchWalls.sum / 8}%.2fs " +
        f"batchMax=${batchWalls.max}%.2fs probe=$pw%.2fs")

      // delete (q359): a tombstone append, not a rewrite; the masked probe
      // pays one broadcast anti-join until compaction folds it
      val (remove, _) = time(s"x$factor removeIds", 1)(
        IvfPq.removeIds(corpus.filter(col("id") % 9 === 0).select("id"), inc))
      val (maskedW, maskedRows) = probe(s"x$factor probe masked")
      require(maskedRows.forall(_._2 % 9 != 0), "removed ids surfaced")
      val (compact, _) = time(s"x$factor compact", 1)(IvfPq.compactIndex(spark, inc))
      val (postW, postRows) = probe(s"x$factor probe compacted")
      require(postRows == maskedRows, "compaction changed probe results")
      report(f"x$factor-delete remove=$remove%.2fs probeClean=$pw%.2fs " +
        f"probeMasked=$maskedW%.2fs compact=$compact%.2fs probePostCompact=$postW%.2fs " +
        f"(clean ${cleanRows.size} rows, masked ${maskedRows.size})")

      // 1024 dims, where the brute/ADC crossover flips: brute cost scales
      // with dim, an ADC row stays m lookups
      val corpusW = wide(corpus)
      val (bw, brute) = topK(s"x$factor@1024dim brute")(AnnSearch.bruteTopK(queriesW, corpusW, 10))
      val (build, idxW) = time(s"x$factor@1024dim build", 1)(IvfPq.buildIndex(corpusW,
        s"$scratch/idxw", centroidStride = coarse(factor), m = 16, ncent = 16, pqStride = 7))
      val (wpw, _) = topK(s"x$factor@1024dim probe")(
        IvfPq.probeIndex(queriesW, corpusW, idxW, 10, nprobe = 8, shortlist = 64))
      val got = pairs(IvfPq.probeIndex(queriesW, corpusW, idxW, 10, nprobe = 8,
        shortlist = 64 * factor))
      report(f"x$factor@1024dim rows=${corpus.count()} brute=$bw%.2fs build=$build%.2fs " +
        f"probe=$wpw%.2fs recall=${recall(brute, got)}%.3f")

      // recall vs nprobe at the production shortlist on the un-duplicated
      // corpus (a ×N shortlist would overflow the id pushdown): the honest
      // single-copy figures
      for ((dim, c1, q1) <- Seq((64, base, queries), (1024, wide(base), queriesW))) {
        val brute1 = pairs(AnnSearch.bruteTopK(q1, c1, 10))
        val idx1 = IvfPq.buildIndex(c1, s"$scratch/idx1w$dim",
          centroidStride = 40, m = 16, ncent = 16, pqStride = 7)
        for (np <- Seq(1, 2, 4, 8, 16, 32)) {
          val (w, got) = topK(s"x1@${dim}dim nprobe=$np probe")(
            IvfPq.probeIndex(q1, c1, idx1, 10, nprobe = np, shortlist = 64))
          report(f"x1@${dim}dim nprobe=$np%-2d probe=$w%.2fs recall=${recall(brute1, got)}%.3f")
        }
      }

      // flat PQ recall by shortlist and m, then stride against
      // Lloyd-trained codebooks (q355/q356) with m, ncent and the shortlist
      // fixed, flat and behind IVF
      val brute1 = pairs(AnnSearch.bruteTopK(queries, base, 10))
      for (sl <- Seq(32, 64, 96, 128); m <- Seq(8, 16)) {
        val pq = pairs(PqAnn.pqTopK(queries, base, 10, m = m, ncent = 16, stride = 7, shortlist = sl))
        report(s"pq m=$m shortlist=$sl recall=${recall(brute1, pq)}")
      }
      for (it <- Seq(0, 2)) {
        val pq = pairs(PqAnn.pqTopK(queries, base, 10, m = 16, ncent = 16, stride = 7,
          shortlist = 64, iters = it))
        val ivf = pairs(IvfPq.ivfPqTopK(queries, base, 10, centroidStride = 40, nprobe = 4,
          m = 16, ncent = 16, pqStride = 7, shortlist = 64, pqIters = it))
        report(s"pq iters=$it pqRecall=${recall(brute1, pq)} ivfPqRecall=${recall(brute1, ivf)}")
      }
    },

    // q368's 1-bit codec: its value is memory traffic (dim/8 bytes per
    // candidate against 8·dim for brute), so its lead should grow with
    // dimensionality; then recall by shortlist, the codec's only recall
    // knob, on the un-duplicated corpus
    Case("ann-binary", 64) { r =>
      import r._
      val c = new Corpus(r)
      import c.{base, queries, queriesW, wide, pairs, recall, topK}
      val cN = c.at(factor)
      for ((dim, c1, q1) <- Seq((64, cN, queries), (1024, wide(cN), queriesW))) {
        val (bw, brute) = topK(s"x$factor@${dim}dim brute")(AnnSearch.bruteTopK(q1, c1, 10))
        val p = s"$scratch/bidx$dim"
        val (build, _) = time(s"x$factor@${dim}dim binary build", 1)(BinaryAnn.buildIndex(c1, p))
        val (hw, _) = topK(s"x$factor@${dim}dim binary probe")(
          BinaryAnn.probeIndex(q1, p, 10, shortlist = 64))
        val got = pairs(BinaryAnn.probeIndex(q1, p, 10, shortlist = 64 * factor))
        report(f"x$factor@${dim}dim-binary brute=$bw%.2fs build=$build%.2fs probe=$hw%.2fs " +
          f"recall=${recall(brute, got)}%.3f")
      }
      for ((dim, c1, q1) <- Seq((64, base, queries), (1024, wide(base), queriesW))) {
        val brute1 = pairs(AnnSearch.bruteTopK(q1, c1, 10))
        BinaryAnn.buildIndex(c1, s"$scratch/bidx1$dim")
        for (sl <- Seq(32, 64, 128)) {
          val (w, got) = topK(s"x1@${dim}dim binary shortlist=$sl probe")(
            BinaryAnn.probeIndex(q1, s"$scratch/bidx1$dim", 10, shortlist = sl))
          report(f"x1@${dim}dim-binary shortlist=$sl%-3d probe=$w%.2fs recall=${recall(brute1, got)}%.3f")
        }
      }
    },

    // binary-index CDC churn (q389/q391): a 1% ingest and a 1% delete cost
    // O(batch), never a store rewrite; 8 rounds of same-content remove and
    // re-add leave probe results equal; compaction restores one generation
    Case("ann-churn", 64) { r =>
      import r._
      val c = new Corpus(r)
      import c.{base, queries, topK}
      val c1 = c.at(factor)
      val p = s"$scratch/bchurn"
      def probe(label: String) = topK(label)(BinaryAnn.probeIndex(queries, p, 10, shortlist = 64))
      val (build, _) = time(s"x$factor build", 1)(BinaryAnn.buildIndex(c1, p))
      val (cleanW, cleanRows) = probe("probe clean")
      val mx = Scale.stride(c1, "id")
      val (add, _) = time("add 1%", 1)(BinaryAnn.addBatch(base.filter(col("id") % 100 === 0)
        .select((col("id") + mx).as("id"), col("embedding")), p))
      val (remove, _) = time("remove 1%", 1)(
        BinaryAnn.removeBatch(c1.filter(col("id") % 97 === 0).select("id"), p))
      val (maskedW, maskedRows) = probe("probe masked")
      require(maskedRows.forall(_._2 % 97 != 0), "removed ids surfaced")
      val (churn, _) = time("churn 8 rounds", 1) {
        for (round <- 1 to 8) {
          // disjoint from the 1% delete: re-adding a deleted id would
          // resurrect it
          val slice = c1.filter(col("id") % 89 === round.toLong && col("id") % 97 =!= 0)
          BinaryAnn.removeBatch(slice.select("id"), p)
          BinaryAnn.addBatch(slice, p)
        }
      }
      val (churnW, churnRows) = probe("probe churned")
      require(churnRows == maskedRows, "same-content churn must not change probe results")
      val (compact, _) = time("compact", 1)(BinaryAnn.compactIndex(spark, p))
      val (postW, postRows) = probe("probe compacted")
      require(postRows == maskedRows, "compaction changed probe results")
      report(f"x$factor-binary-churn build=$build%.2fs add1pct=$add%.2fs " +
        f"remove1pct=$remove%.2fs churn8x=$churn%.2fs compact=$compact%.2fs " +
        f"probeClean=$cleanW%.2fs probeMasked=$maskedW%.2fs " +
        f"probeChurned=$churnW%.2fs probePostCompact=$postW%.2fs (clean ${cleanRows.size} rows)")
    },

    // recall vs m at 1024 dims: m is the compression knob (bytes per
    // vector scale with m; an ADC row costs m lookups), on the
    // un-duplicated corpus at nprobe 8 and the production shortlist
    Case("ann-m-curve", 1) { r =>
      import r._
      val c = new Corpus(r)
      import c.{base, queriesW, wide, pairs, recall, topK}
      val c1 = wide(base)
      val brute1 = pairs(AnnSearch.bruteTopK(queriesW, c1, 10))
      for (m <- Seq(8, 16, 32, 64, 128)) {
        val (build, idxm) = time(s"x1@1024dim m=$m build", 1)(IvfPq.buildIndex(c1,
          s"$scratch/idxm$m", centroidStride = 40, m = m, ncent = 16, pqStride = 7))
        val (w, got) = topK(s"x1@1024dim m=$m probe")(
          IvfPq.probeIndex(queriesW, c1, idxm, 10, nprobe = 8, shortlist = 64))
        report(f"x1@1024dim m=$m%-3d build=$build%.2fs probe=$w%.2fs recall=${recall(brute1, got)}%.3f")
      }
    },

    // the graph index (q361–q366, q379–q381). Replicas are hash-weighted
    // convex mixes of a base and a partner (rep 0 is the base itself):
    // exact replicas form cliques that disconnect a kNN graph. Claims: the
    // blocked build bounds the N² all-pairs; a flat walk's recall collapses
    // as N grows and the hierarchy restores it; insert and delete cost the
    // batch, never a rebuild; the at-rest index ingests and churns at batch
    // cost, and compaction folds generations without changing results.
    Case("graph", 64) { r =>
      import r._
      val c = new Corpus(r)
      import c.{queries, recall, topK}
      val partners = c.base.select(col("id").as("pid"), col("embedding").as("pemb"))
      def corpusAt(f: Int) = c.at(f, _
        .withColumn("pid", when(col("__rep") === 0, col("id"))
          .otherwise(pmod(col("id") + col("__rep") * 131L + 17L, lit(c.stride))))
        .withColumn("w", when(col("__rep") === 0, lit(1.0f))
          .otherwise(pmod(hash(col("id"), col("__rep")), lit(501)).cast("float") / 1000.0f + 0.25f))
        .join(partners, "pid")
        .withColumn("embedding",
          expr("zip_with(embedding, pemb, (a, b) -> CAST(w*a + (1.0F-w)*b AS FLOAT))"))
        .select(col("id"), col("embedding"), col("__rep")))
      def hopsAt(f: Int) = 4 + math.round(2.0 * math.log(f) / math.log(16)).toInt

      for (f <- Seq(1, factor / 4, factor).map(math.max(1, _)).distinct) {
        val corpus = corpusAt(f)
        val n = corpus.count()
        val hops = hopsAt(f)
        val (bw, brute) = topK(s"x$f brute")(AnnSearch.bruteTopK(queries, corpus, 10))
        val g = GraphAnn.blockedKnnGraph(corpus, m = 8, centroidStride = coarse(f), keep = 2)
        val (build, edges) = time(s"x$f blocked build", 1)(g.persist().count())
        val (pw, got) = topK(s"x$f flat probe")(
          GraphAnn.beamTopK(queries, corpus, g, 10, ef = 16, hops = hops))
        report(f"x$f rows=$n nlist~${n / coarse(f)} hops=$hops exactPairs=${n.toDouble * n}%.1e " +
          f"blockedEdges=$edges brute=$bw%.2fs build=$build%.2fs probe=$pw%.2fs " +
          f"recall=${recall(brute, got)}%.3f")

        // the hierarchy (q366): ceil(log8(N/500)) upper layers descended
        // with a narrow beam; the bottom walk keeps the ×1 schedule
        val (hBuild, layers) = time(s"x$f hierarchy build", 1) {
          (1 to math.max(1, math.ceil(math.log(n / 500.0) / math.log(8.0)).toInt)).map { l =>
            val nodes = GraphAnn.levelNodes(corpus, l)
            val nl = nodes.count()
            val gl = GraphAnn.blockedKnnGraph(nodes, m = 8,
              centroidStride = math.max(1, math.sqrt(nl.toDouble).toInt), keep = 2).persist()
            gl.count()
            (gl, nl)
          }
        }
        val (hw, hGot) = topK(s"x$f hierarchy probe")(
          GraphAnn.hnswTopK(queries, corpus, 10, ef1 = 8, hops1 = 3, ef = 16, hops = 4,
            upper = Some(layers.reverse.map(_._1)), g0Opt = Some(g)))
        report(f"x$f-hnsw layers=${layers.size} upperNodes=${layers.map(_._2).mkString("/")} " +
          f"hierBuild=$hBuild%.2fs probe=$hw%.2fs recall=${recall(brute, hGot)}%.3f")
        layers.foreach(_._1.unpersist(blocking = false))
        g.unpersist(blocking = false)
      }

      // the batch is 1/f of the corpus, a fixed size across scales, so a
      // batch's cost should stay flat while a rebuild grows with N
      val lifecycle = Seq(factor / 4, factor).filter(_ >= 4).distinct
      for (f <- lifecycle) {
        val corpus = corpusAt(f)
        val old = corpus.filter(col("id") % f =!= 9 % f)
        val batch = corpus.filter(col("id") % f === 9 % f)
        val hops = hopsAt(f)
        val g0 = GraphAnn.blockedKnnGraph(old, m = 8, centroidStride = coarse(f), keep = 2).persist()
        g0.count()
        val (insert, (g1, e1)) = time(s"x$f insertBatch", 1) {
          val g1 = GraphAnn.insertBatch(g0, corpus, batch, m = 8, ef = 16, hops = hops).persist()
          (g1, g1.count())
        }
        val (pw, _) = topK(s"x$f probe after insert")(
          GraphAnn.beamTopK(queries, corpus, g1, 10, ef = 16, hops = hops))
        report(f"x$f-insert batch=${batch.count()} insert=$insert%.2fs edgesAfter=$e1 probe=$pw%.2fs")
        val removed = corpus.filter(col("id") % f === 3 % f).select("id")
        val sv = corpus.filter(col("id") % f =!= 3 % f)
        val (del, (g2, e2)) = time(s"x$f removeNodes", 1) {
          val g2 = GraphAnn.removeNodes(g1, sv, removed, m = 8).persist()
          (g2, g2.count())
        }
        val (pw2, _) = topK(s"x$f probe after delete")(GraphAnn.beamTopK(
          queries.join(removed, Seq("id"), "left_anti"), sv, g2, 10, ef = 16, hops = hops))
        report(f"x$f-delete batch=${removed.count()} delete=$del%.2fs edgesAfter=$e2 probe=$pw2%.2fs")
        Seq(g0, g1, g2).foreach(_.unpersist(blocking = false))
      }

      // the at-rest index: a level-aware ingest of the fixed batch, the
      // persisted descent probe, then 4 churn rounds (~2% new nodes in, ~2%
      // of the live set out) compared against a fresh build of the same
      // live set, then compaction
      for (f <- lifecycle) {
        val corpus = corpusAt(f)
        val old = corpus.filter(col("id") % f =!= 9 % f)
        val batch = corpus.filter(col("id") % f === 9 % f)
        val hops = hopsAt(f)
        /** Times the index build of `nodes`; its level-1 draw is not timed. */
        def build(label: String, nodes: DataFrame, path: String) = {
          val lvl1 = GraphAnn.levelNodes(nodes, 1)
          val nl1 = lvl1.count()
          (time(label, 1)(GraphAnn.writeIndex(nodes, path, m = 8, m1 = 8, nBuckets = 64,
            g0Opt = Some(GraphAnn.blockedKnnGraph(nodes, 8, coarse(f), 2)),
            g1Opt = Some(GraphAnn.blockedKnnGraph(lvl1, 8,
              math.max(1, math.sqrt(nl1.toDouble).toInt), 2))))._1, nl1)
        }
        def probe(label: String, path: String) = topK(label)(
          GraphAnn.probeIndex(queries, path, 10, ef1 = 8, hops1 = 3, ef = 16, hops = hops))
        val idx = s"$scratch/idx_x$f"
        val (buildW, nl1) = build(s"x$f at-rest build", old, idx)
        val (ins, _) = time(s"x$f at-rest addBatch", 1)(
          GraphAnn.addBatch(idx, batch, ef1 = 8, hops1 = 3, ef = 16, hops = hops))
        val (bw, brute) = topK(s"x$f brute")(AnnSearch.bruteTopK(queries, corpus, 10))
        val (pw, got) = probe(s"x$f at-rest probe", idx)
        report(f"x$f-atrest upperNodes=$nl1 build=$buildW%.2fs ingest${batch.count()}=$ins%.2fs " +
          f"brute=$bw%.2fs probe=$pw%.2fs recall=${recall(brute, got)}%.3f")

        val maxId = Scale.stride(corpus, "id")
        val partners2 = corpus.select(col("id").as("pid"), col("embedding").as("pemb"))
        var live = corpus
        for (round <- 0 until 4) {
          val adds = corpus
            .filter(pmod(hash(col("id"), lit(7 + round)), lit(53)) === 0)
            .withColumn("pid", pmod(col("id") + 997L, lit(maxId)))
            .join(partners2, "pid")
            .select((col("id") + lit(maxId * (round + 1))).as("id"),
              expr("zip_with(embedding, pemb, (a, b) -> CAST(0.6F*a + 0.4F*b AS FLOAT))").as("embedding"))
          val nAdd = adds.count()
          val (insW, _) = time(s"x$f churn round=$round addBatch", 1)(
            GraphAnn.addBatch(idx, adds, ef1 = 8, hops1 = 3, ef = 16, hops = hops))
          live = live.unionByName(adds).localCheckpoint(true)
          val rm = live.filter(col("id") >= 30 &&
            pmod(hash(col("id"), lit(1000 + round)), lit(53)) === 0).select("id")
          val nRm = rm.count()
          val (delW, _) = time(s"x$f churn round=$round removeBatch", 1)(GraphAnn.removeBatch(idx, rm))
          live = live.join(rm, Seq("id"), "left_anti").localCheckpoint(true)
          report(f"x$f-churn round=$round add=$nAdd ins=$insW%.2fs rm=$nRm del=$delW%.2fs")
        }
        val nLive = live.count()
        val (bw2, brute2) = topK(s"x$f churned brute")(AnnSearch.bruteTopK(queries, live, 10))
        val (cw, churned) = probe(s"x$f churned probe", idx)
        val fresh = s"$scratch/fresh_x$f"
        val (fBuild, _) = build(s"x$f fresh build", live, fresh)
        val (fw, freshRows) = probe(s"x$f fresh probe", fresh)
        report(f"x$f-churn live=$nLive brute=$bw2%.2fs churnedProbe=$cw%.2fs " +
          f"churnedRecall=${recall(brute2, churned)}%.3f freshBuild=$fBuild%.2fs " +
          f"freshProbe=$fw%.2fs freshRecall=${recall(brute2, freshRows)}%.3f")
        // compaction folds the generation chain only: the wall returns to
        // the fresh-build shape, recall stays the churned value
        val (compactW, _) = time(s"x$f compact", 1)(GraphAnn.compactIndex(spark, idx))
        val (cw2, compacted) = probe(s"x$f compacted probe", idx)
        report(f"x$f-compact wall=$compactW%.2fs probe=$cw2%.2fs " +
          f"recall=${recall(brute2, compacted)}%.3f " +
          f"(churned $cw%.2fs/${recall(brute2, churned)}%.3f, fresh $fw%.2fs)")
      }
    })
}
