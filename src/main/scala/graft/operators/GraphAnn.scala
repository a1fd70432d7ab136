package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph-probed ANN: a deterministic k-NN neighborhood graph walked by
  * fixed-schedule beam search — the exactly-replayable core of the
  * HNSW/NSW/DiskANN family (Malkov & Yashunin, TPAMI 2020; Subramanya et
  * al., NeurIPS 2019). True HNSW assigns layers by random draw, which no
  * two engines reproduce; what survives determinization is the part that
  * does the work at query time: a navigable neighbor graph + greedy beam
  * expansion. Both are closed-form here, so the DuckDB oracle replays
  * build AND walk bit-exactly (the q274/q355 trained-structure
  * discipline):
  *
  *   - build: node v's out-neighbors = its top-`m` corpus rows by the
  *     exact int64-quantized cosine, ties → lower id ([[AnnSearch]]'s
  *     total order). One bounded-heap pass ([[AnnSearch.bruteTopK]]
  *     machinery) — at production scale this is the classic blocked
  *     knn-join build, paid once at ingest like every index here.
  *   - walk: entry beam = the `ef` lowest-id nodes (deterministic spread,
  *     no random seeds); each of `hops` rounds expands the current beam's
  *     out-edges, unions the beam (a visited node can stay), scores every
  *     candidate with the EXACT cosine, and keeps the top-`ef` per query
  *     ((cos desc, cid) order). After the fixed schedule, the final beam's
  *     top-`k` is the answer. The graph decides WHO gets scored — the
  *     reported score is always exact, the approximation is ONLY candidate
  *     pruning (the [[IvfPq]] contract; with `ef >= |corpus|` and one hop
  *     the walk degenerates to brute force, spec-asserted).
  *
  * Scale shape: the per-hop frontier is |queries| × ef rows and each hop
  * touches ≤ |queries| × ef × (m+1) candidates — the walk's cost is
  * schedule-bounded, INDEPENDENT of corpus size (that is the entire point
  * of graph ANN: at 100 TB a probe reads `hops × ef × m` adjacency rows,
  * not nprobe/nlist of the corpus). The beam is collected per hop (the
  * bounded-collect contract: |queries| × ef ids, like [[IvfPq]]'s
  * shortlist) so the candidate fetch pushes an id set into the scans and
  * the loop never builds an H-deep lazy plan. The adjacency frame is an
  * equi-join on src — partitioned by node id at rest in production.
  *
  * The reference engine has no ANN surface — this completes the index
  * family (flat / IVF / PQ / IVF-PQ / SQ8 / graph) of the training-data
  * pipeline pack (SURVEY.md §7 step 9).
  */
object GraphAnn {

  /** Persist `df` unless its plan already resolves to a cache entry, and
    * report whether WE own the persist. The walks' loop-invariant frames
    * are persisted on entry and unpersisted in a finally — but when the
    * caller passes an already-cached graph, the (src, dst) projection is
    * a no-op that ALIASES the caller's cache entry (CacheManager matches
    * by sameResult), and the finally would EVICT the caller's cache: a
    * probe over a persisted index silently un-persisted it, and the next
    * consumer recomputed the whole build lineage (GraphScale measured a
    * 3 s delete ballooning to 120 s at the ×64 corpus this way). */
  private def persistUnlessCached(
      df: DataFrame): (DataFrame, Boolean) =
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      (df.persist(), true)
    else (df, false)

  /** Directed k-NN graph: (src, dst), dst = src's top-`m` by exact
    * quantized cosine, self excluded — deterministic, so build order
    * cannot change any walk. Exact all-pairs: the gold-standard graph,
    * O(N²) — fine for a sample, not the 100 TB build path (that is
    * [[blockedKnnGraph]]). */
  def knnGraph(corpus: DataFrame, m: Int): DataFrame =
    AnnSearch.bruteTopK(corpus, corpus, m)
      .select(col("qid").as("src"), col("cid").as("dst"))

  /** The SCALABLE graph build — cluster-blocked approximate k-NN, the
    * DiskANN/NN-descent-style answer to the build being the expensive
    * part of graph ANN: assign every row to its top-`keep` coarse
    * centroids (stride centroids, the [[AnnSearch.ivfTopK]] contract —
    * broadcast argmax, no shuffle), self-join WITHIN shared clusters
    * only, and keep each node's top-`m` by exact cosine. Pair work drops
    * from N² to ~N²·keep²/nlist; `keep` ≥ 2 overlaps the blocks so
    * boundary nodes still edge into their true neighborhood and the walk
    * graph stays navigable (keep = 1 would shatter the graph at cluster
    * borders). Deterministic end-to-end (stride centroids, argmax ties →
    * lower cent_id, (cos desc, dst) edge rank), so the DuckDB oracle
    * replays the whole build.
    *
    * Shuffle shape: ONE equi-join on cent_id (both sides N·keep rows),
    * scored rows reduce through [[AnnSearch.partitionTopK]] bounded heaps
    * before the per-src rank — the per-node candidate set (≈ keep ×
    * cluster size) never materializes past the heaps. */
  def blockedKnnGraph(corpus: DataFrame, m: Int, centroidStride: Int,
      keep: Int = 2): DataFrame = {
    require(keep >= 1, s"keep >= 1 (got $keep)")
    val spark = corpus.sparkSession
    val cc = AnnSearch.quantized(corpus)
    val bc = spark.sparkContext.broadcast(
      AnnSearch.collectCentroids(cc, centroidStride))
    val a = AnnSearch.assign(cc, bc, keep)
    val x = a.select(col("id").as("qid"), col("qe"),
      col("n2").as("qn"), col("cent_id"))
    val y = a.select(col("id").as("cid"), col("qe").as("ce"),
      col("n2").as("cn"), col("cent_id"))
    val scored = x.join(y, Seq("cent_id"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("cos", coalesce(
        AnnSearch.dotI64(col("qe"), col("ce")).cast("double") /
          sqrt(col("qn").cast("double") * col("cn").cast("double")),
        lit(-1.0)))
      // a pair sharing BOTH overlapped clusters scores twice with the same
      // cos — collapse before ranking
      .groupBy("qid", "cid").agg(max("cos").as("cos"))
    // rows out of the pre-rank groupBy are already (qid, cid)-unique, so
    // partitionTopK's survivors feed the window directly — re-aggregating
    // them would be a no-op costing one more corpus-wide exchange
    AnnSearch.partitionTopK(scored, m)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("cid"))))
      .filter(col("rn") <= m)
      .select(col("qid").as("src"), col("cid").as("dst"))
  }

  /** Bounded id-set fetch hook: `(frame, idColumn, ids) => matching rows`.
    * The default is the InSet/broadcast-join discipline below; the at-rest
    * index path ([[probeIndex]]) substitutes a fetch that additionally
    * prunes the store's `bucket` partitions, resolves edge generations,
    * and masks tombstoned nodes — the WALK algebra never changes, only
    * where its bytes come from (the [[BinaryAnn.probeIndex]] contract). */
  private[operators] type IdFetch = (DataFrame, String, Array[Long]) => DataFrame

  /** The plain capped id fetch ([[Stores.fetchIds]]). */
  private[operators] val defaultFetch: IdFetch =
    (df, idCol, ids) => Stores.fetchIds(df, idCol, ids)

  /** `corpus` in the pre-quantized at-rest shape (id, qe, n2[, bucket])
    * instead of raw (id, embedding)? Decides both whether to run the
    * quantize pass and whether to persist: a parquet-backed store must NOT
    * be persisted — an InMemoryRelation under the per-hop id fetches would
    * materialize the WHOLE store on first use, defeating the partition
    * pruning that is the index's entire point. */
  private def preQuantized(df: DataFrame): Boolean =
    df.columns.contains("qe") && df.columns.contains("n2")

  private def quantizedView(df: DataFrame): DataFrame =
    if (preQuantized(df)) {
      val keep = Seq("id", "qe", "n2") ++
        (if (df.columns.contains("bucket")) Seq("bucket") else Nil)
      df.select(keep.map(col): _*)
    } else AnnSearch.quantized(df)

  /** Beam-search top-k over `graph`. `queries`: (id, embedding);
    * `corpus`: (id, embedding), or the pre-quantized (id, qe, n2[,
    * bucket]) at-rest shape; `graph`: (src, dst) as built by [[knnGraph]].
    * `ef >= k` required. Every query starts at the corpus's `ef` lowest
    * ids. A one-layer [[descend]]. */
  def beamTopK(queries: DataFrame, corpus: DataFrame, graph: DataFrame,
      k: Int, ef: Int, hops: Int): DataFrame = {
    require(ef >= k, s"beam width ef=$ef must cover k=$k")
    ranked(corpus.sparkSession, descend(queries, corpus,
      Seq((graph, ef, hops)), None, defaultFetch).last, k)
  }

  /** A final beam as the public ranked (qid, cid, rk, cos) top-k — re-rank
    * through the shared total order for the usual (rk, 6-dp) shape. */
  private def ranked(spark: org.apache.spark.sql.SparkSession,
      beam: Array[(Long, Long, Double)], k: Int): DataFrame = {
    import spark.implicits._
    AnnSearch.rankTopK(beam.toSeq.toDF("qid", "cid", "cos"), k)
  }

  /** THE descent — every walk in this file runs through it: walk each
    * `(graph, ef, hops)` of `layers` top-down, the first from
    * `entrySeeds` (None: the corpus's lowest `ef` ids for every query),
    * each later one seeded per query by the previous layer's final beam
    * (HNSW's layer descent, Malkov & Yashunin, TPAMI 2020). A flat walk
    * is a one-layer descent. Returns every layer's final beam, top-down,
    * as driver ARRAYS (top-ef per query under (cos desc, cid)) — the
    * composable piece the at-rest lifecycle consumes directly:
    * [[addBatch]] takes its per-layer edges from them, and
    * [[insertBatch]]/[[probeIndex]] derive edge sets and answers
    * driver-side instead of paying a DataFrame round-trip per walk.
    *
    * The probe batch is quantized and collected ONCE (the bruteTopK
    * broadcast(q) contract: bounded), and the quantized corpus is
    * PERSISTED once for the whole descent: every hop of every layer
    * re-reads it. Unpersisted in the finally ONLY if we created the cache
    * entry ([[persistUnlessCached]]); the beams are driver state, so they
    * survive the unpersist. A pre-quantized at-rest store is NOT persisted
    * — see [[preQuantized]]. An empty seed set leaves its query out of
    * every later layer: rows or none, never an error. */
  private def descend(queries: DataFrame, corpus: DataFrame,
      layers: Seq[(DataFrame, Int, Int)],
      entrySeeds: Option[Long => Array[Long]],
      fetchFn: IdFetch): Seq[Array[(Long, Long, Double)]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (cc, ownCc) =
      if (preQuantized(corpus)) (quantizedView(corpus), false)
      else persistUnlessCached(AnnSearch.quantized(corpus))
    try {
      val qArr = AnnSearch.quantized(queries)
        .select(col("id"), col("qe"), col("n2")).as[(Long, Seq[Long], Long)]
        .collect().map { case (id, e, n2) => (id, e.toArray, n2) }
      // entry set: the ef lowest node ids — deterministic, replayable
      var seeds: Long => Array[Long] = entrySeeds.getOrElse {
        val entry = cc.select(col("id")).orderBy("id").limit(layers.head._2)
          .as[Long].collect()
        (_: Long) => entry
      }
      layers.map { case (graph, ef, hops) =>
        val beam = beamWalkArr(qArr, cc, graph, ef, hops, seeds, fetchFn)
        val next = beam.groupBy(_._1).map { case (q, a) => q -> a.map(_._2) }
        seeds = next.getOrElse(_, Array.emptyLongArray)
        beam
      }
    } finally if (ownCc) cc.unpersist(blocking = false)
  }

  /** The one walk: driver-paced beam search over `graph` for the collected
    * probe batch `qArr` (id, qe, n2) against the quantized corpus `cc`,
    * each query starting from `seeds(qid)`. Each of `hops` rounds expands
    * the current beam's out-edges, unions the beam (a visited node can
    * stay), scores every candidate with the EXACT cosine and keeps the
    * top-`ef` per query. Returns the final beam. `graph` may carry the
    * at-rest (gen[, tomb]) columns, resolved here from `fetchFn`'s rows. */
  private def beamWalkArr(qArr: Array[(Long, Array[Long], Long)],
      cc: DataFrame, graph: DataFrame, ef: Int, hops: Int,
      seeds: Long => Array[Long],
      fetchFn: IdFetch): Array[(Long, Long, Double)] = {
    require(hops >= 1, s"at least one hop (got $hops)")
    val spark = cc.sparkSession
    import spark.implicits._
    // PERSIST the loop-invariant graph: every hop re-reads it, and a
    // lazily-passed graph (e.g. [[knnGraph]]'s O(N²) build) would otherwise
    // be RECOMPUTED once per hop — measured 13 s → 3.5 s on the q361 bench
    // body. A gen-carrying adjacency is an at-rest store: not persisted
    // (see [[preQuantized]]).
    val (g, ownG) =
      if (graph.columns.contains("gen")) (graph, false)
      else persistUnlessCached(graph.select(col("src"), col("dst")))
    try {
      val qids = qArr.map(_._1)

      /** Exact (cos desc, cid) top-`ef` per query over per-query candidate
        * id sets: ONE distributed pass — candidate vectors are fetched by
        * id-set pushdown and scored on executors; the scored pairs
        * (≤ |queries| × ef × (m+1) rows, schedule-bounded like the beam
        * itself) are collected and the per-query top-ef re-select runs on
        * the driver — a window would add one exchange + stage per ROUND
        * for a rank over rows the driver-paced walk collects anyway
        * (measured ~35% of the q380 lifecycle wall across its 18 rounds).
        * The broadcast is INVERTED to cid → interested query
        * indexes, so per-row work is O(that row's candidate pairs), not
        * O(|queries|): the straight per-row scan over all queries cost
        * |rows|×|Q| membership probes and dominated large-batch walks —
        * GraphScale measured an 85 s ×64-corpus insert (2000-node batch,
        * ~576 M probes per hop) that the inversion removes. */
      def selectBeam(cands: Map[Long, Array[Long]]): Array[(Long, Long, Double)] = {
        val byCid: Map[Long, Array[Int]] = {
          val qIdx = qids.zipWithIndex.toMap
          val b = scala.collection.mutable.HashMap
            .empty[Long, scala.collection.mutable.ArrayBuilder.ofInt]
          cands.foreach { case (qid, ids) =>
            val qi = qIdx(qid)
            ids.foreach { cid =>
              if (cid != qid)
                b.getOrElseUpdate(cid,
                  new scala.collection.mutable.ArrayBuilder.ofInt) += qi
            }
          }
          b.iterator.map { case (cid, ab) => cid -> ab.result() }.toMap
        }
        // no query has a candidate left: nothing to fetch
        if (byCid.isEmpty) return Array.empty
        val candIds = byCid.keysIterator.toArray
        val bc = spark.sparkContext.broadcast(byCid)
        try {
          val scored = fetchFn(cc, "id", candIds)
            .select(col("id"), col("qe"), col("n2")).as[(Long, Seq[Long], Long)]
            .mapPartitions { it =>
              val qs = qArr // serialized with the closure: bounded probe batch
              val cm = bc.value
              it.flatMap { case (cid, e, cn2) =>
                val cv = e.toArray
                cm.getOrElse(cid, Array.emptyIntArray).iterator.map { qi =>
                  val (qid, qv, qn2) = qs(qi)
                  // the DotI64 contract: silent min-length truncation would
                  // turn a malformed embedding into a plausible-but-wrong
                  // score
                  if (qv.length != cv.length)
                    throw new IllegalArgumentException(
                      s"beam walk: dimension mismatch (${qv.length} vs ${cv.length})")
                  var acc = 0L; var i = 0
                  val n = qv.length
                  while (i < n) { acc += qv(i) * cv(i); i += 1 }
                  val denom = math.sqrt(qn2.toDouble * cn2.toDouble)
                  (qid, cid,
                    if (denom == 0.0d) -1.0d else acc.toDouble / denom)
                }
              }
            }.collect()
          // per-query top-ef under the shared (cos desc, cid) total order,
          // driver-side over the schedule-bounded scored set
          scored.groupBy(_._1).iterator.flatMap { case (_, rows) =>
            rows.sortBy { case (_, cid, cos) => (-cos, cid) }.take(ef)
          }.toArray
        } finally bc.destroy()
      }

      var beam = selectBeam(qids.map(q => q -> seeds(q).distinct.sorted).toMap)
      var hop = 0
      while (hop < hops) {
        // expand: out-edges of every beam node, one id-set-pruned scan of the
        // adjacency frame (≤ |queries|·ef src ids per hop); beam nodes stay
        // candidates, so the walk never loses ground. A gen-carrying fetch
        // (the at-rest layout) resolves max-gen-per-src DRIVER-SIDE over
        // the collected bounded rows — a distributed window here costs one
        // exchange per round for rows the walk collects anyway
        val beamIds = beam.map(_._2).distinct
        lazy val fr = fetchFn(g, "src", beamIds)
        val edges: Array[(Long, Long)] =
          if (beamIds.isEmpty) Array.empty
          else if (fr.columns.contains("gen")) {
            // max-gen per src over the UNMASKED rows, THEN drop tombstone-
            // flagged destinations (the [[indexFetch]] ordering contract)
            val raw = (if (fr.columns.contains("tomb"))
                fr.select(col("src"), col("dst"), col("gen"), col("tomb"))
              else fr.select(col("src"), col("dst"), col("gen"),
                lit(false).as("tomb")))
              .as[(Long, Long, Long, Boolean)].collect()
            val mx = raw.groupBy(_._1)
              .map { case (s0, rows) => s0 -> rows.iterator.map(_._3).max }
            raw.collect { case (s0, d0, gn, tb) if gn == mx(s0) && !tb =>
              (s0, d0) }
          } else fr.select(col("src"), col("dst")).as[(Long, Long)].collect()
        val bySrc = edges.groupBy(_._1)
        // group the beam ONCE (O(|Q|·ef)) — a per-query filter scan over
        // the whole beam array is O(|Q|²·ef) driver work per hop, the same
        // quadratic class the selectBeam inversion above removed
        val byQid = beam.groupBy(_._1)
        val cands: Map[Long, Array[Long]] = qids.map { qid =>
          val cur = byQid.getOrElse(qid, Array.empty[(Long, Long, Double)])
            .map(_._2)
          qid -> (cur ++ cur.flatMap(c =>
            bySrc.getOrElse(c, Array.empty[(Long, Long)]).map(_._2)))
            .distinct.sorted
        }.toMap
        beam = selectBeam(cands)
        hop += 1
      }

      beam
    } finally if (ownG) g.unpersist(blocking = false)
  }

  /** Nodes on HNSW level ≥ `l`: keyed md5 draw ≡ 0 (mod 8^l) — the
    * deterministic, engine-replayable stand-in for HNSW's geometric level
    * draw (p = 1/8 per level, the q172 keyed-md5 discipline via
    * [[GroupSample.drawHash]]). A pure function of the id: every engine
    * and every run derives the same layer split. */
  def levelNodes(corpus: DataFrame, l: Int): DataFrame = {
    require(l >= 1 && l <= 19, s"level out of the 60-bit draw's range: $l")
    var mod = 1L; var i = 0
    while (i < l) { mod *= 8L; i += 1 }
    corpus.filter(
      GroupSample.drawHash("lvl1", col(corpus.columns.head)) % mod === 0)
  }

  /** HNSW — the actual hierarchy, completing the q361–q365 family (which
    * is flat NSW: one graph, one fixed global entry set). HNSW's insight
    * is that the entry point should already be NEAR the query before the
    * expensive bottom-layer walk starts: sparse upper layers
    * ([[levelNodes]], every 8th node per level by keyed draw) are walked
    * first with a narrow beam (`ef1`/`hops1`), and each query's winners
    * on one layer seed its walk on the next layer down. The bottom walk
    * then needs HALF the hops of the flat q361 schedule for comparable
    * recall (spec-measured), because it starts in the right neighborhood
    * instead of at a fixed corner of the id space. A flat walk's length
    * grows with the graph's RADIUS (~N^(1/d) — GraphScale measured recall
    * collapsing 0.37 → 0.05 at ×16 corpus under the fixed schedule); the
    * hierarchy is what caps it at ~log N total hops, every one
    * schedule-bounded (≤ |Q|·ef·(m+1) scored rows), all in one
    * [[descend]].
    *
    * `upper`: the upper-layer graphs TOP-DOWN — the graph over
    * `levelNodes(corpus, upper.size)` first, the level-1 graph last;
    * default one level-1 [[knnGraph]] of degree `m1` (for corpora past
    * ~8·ef1·m1 upper nodes, stack more — GraphScale's multi-layer
    * composition). The top walk starts at that top level's `ef1` lowest
    * ids. `g0Opt`: the bottom graph, default [[knnGraph]] of degree `m`.
    * Callers holding prebuilt (or fixture-cached) layer graphs pass them
    * in — the per-call rebuild is the one-shot convenience, not the
    * contract (the at-rest form is [[writeIndex]]/[[probeIndex]]). A
    * query whose upper beam comes back empty (its only candidates were
    * itself) gets no rows.
    *
    * Fully deterministic: level draw, every [[knnGraph]] build, and the
    * shared (cos desc, cid) walk order — the q366 oracle replays level
    * split → both builds → chained seeded walks bit-exactly. */
  def hnswTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      m: Int = 8, m1: Int = 4, ef1: Int = 4, hops1: Int = 2,
      ef: Int = 16, hops: Int = 2,
      upper: Option[Seq[DataFrame]] = None,
      g0Opt: Option[DataFrame] = None): DataFrame = {
    require(ef >= k, s"beam width ef=$ef must cover k=$k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val gs = upper.getOrElse(Seq(knnGraph(levelNodes(corpus, 1), m1)))
    require(gs.nonEmpty, "hnswTopK: at least one upper layer")
    // top-level entry: the ef1 lowest ids of the top level (global, tiny)
    // — a narrow id scan; quantizing the level just to read ids would run
    // the per-element BigDecimal pass over every upper-level embedding
    val top = levelNodes(corpus, gs.size)
    val entry = top.select(col(top.columns.head).cast("long").as("eid"))
      .orderBy("eid").limit(ef1).as[Long].collect()
    val layers = gs.map((_, ef1, hops1)) :+
      ((g0Opt.getOrElse(knnGraph(corpus, m)), ef, hops))
    ranked(spark, descend(queries, corpus, layers, Some(_ => entry),
      defaultFetch).last, k)
  }

  /** Build + walk in one call (the one-shot index shape). */
  def graphTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      m: Int = 8, ef: Int = 16, hops: Int = 4): DataFrame =
    beamTopK(queries, corpus, knnGraph(corpus, m), k, ef, hops)

  /** HNSW-STYLE INCREMENTAL INSERTION — the graph index's `add` step,
    * completing its lifecycle the way [[IvfPq.addBatch]] does for IVF-PQ:
    * each new node finds its out-edges by BEAM-SEARCHING ITSELF over the
    * existing graph (exactly how HNSW inserts — the search structure is
    * its own build tool), then back-edges old→new keep the graph navigable
    * toward the new nodes, and every touched node re-trims to its top-`m`
    * by exact cosine (the uniform [[trimLocal]] rule — old nodes keep the
    * best of their old edges ∪ new back-edges, HNSW's neighbor pruning).
    *
    * Batch nodes insert against the PRE-batch graph, so inserts within a
    * batch commute (the [[IvfPq.addBatch]] order-independence contract)
    * and the whole step is deterministic — the q363 oracle replays walk →
    * edge selection → back-edges → re-trim bit-exactly.
    *
    * `corpus` must contain BOTH the old nodes and the batch (the walk
    * fetches old candidates, the trim fetches both endpoints); cost is
    * the batch's own walks (schedule-bounded per node) + one linear edge
    * re-rank — never a rebuild. */
  def insertBatch(graph: DataFrame, corpus: DataFrame, batch: DataFrame,
      m: Int, ef: Int, hops: Int): DataFrame = {
    // Walk entries come from the PRE-BATCH GRAPH's nodes, not the merged
    // corpus: batch nodes have no out-edges yet, so if the batch's ids
    // sorted below the existing nodes' (id reuse, non-monotonic keys) a
    // corpus-wide lowest-ef entry rule could seed every walk entirely on
    // edge-less batch nodes — each batch node would then edge only into
    // its own batch, inserting a disconnected island and silently
    // collapsing recall for all later probes. Seeding from graph sources
    // makes the walk start on navigable ground regardless of id order.
    val spark = graph.sparkSession
    import spark.implicits._
    val entryIds = graph.select(col("src")).distinct()
      .orderBy("src").limit(ef).as[Long].collect()
    // an empty entry set would seed every walk with zero candidates and
    // insert NOTHING, with no error
    require(entryIds.nonEmpty,
      "insertBatch: the graph has no sources — build before inserting")
    // Edge selection and re-trim run DRIVER-SIDE over the walk's collected
    // beam (the [[addBatch]]/[[trimLocal]] discipline, r18): the previous
    // form routed the beam through a ranked-DataFrame round trip
    // (window job) and trimmed through two equi-joins +
    // per-src window — five distributed ops over edge sets that are
    // BOUNDED driver state anyway (O(batch·m) rows; JobProfile measured
    // q367's three chained inserts spending ~2.8 s materializing exactly
    // these plans, plus the AQE planning in its 6.5 s driver gap). The
    // trim algebra is unchanged — dedup, per-src top-m under (cos desc,
    // dst), exact int64 cosine — so rows are identical (the q363/q367
    // oracles replay the full-trim algebra; the driver compare is the
    // equivalence proof).
    val beam = descend(batch, corpus, Seq((graph, ef, hops)),
      Some(_ => entryIds), defaultFetch).last
    val newE: Seq[(Long, Long)] = beam.groupBy(_._1).iterator
      .flatMap { case (q, rows) =>
        rows.sortBy { case (_, cid, cos) => (-cos, cid) }.take(m)
          .map { case (_, cid, _) => (q, cid) }
      }.toSeq
    val backE = newE.map { case (s0, d0) => (d0, s0) }
    // Re-trim ONLY touched sources (batch nodes + back-edge targets): an
    // untouched src gained no candidate, its edges are already its top-m,
    // and the trim is per-src independent — identical output, but the
    // expensive part runs on O(batch·m) rows instead of the whole O(N·m)
    // edge set, which is what keeps the insert bill flat as the corpus
    // grows (GraphScale: 13.5 s at ×16 vs 12.9 s at ×64 for the same
    // 2000-node batch).
    val touchedIds = (newE.iterator.map(_._1) ++ backE.iterator.map(_._1))
      .toArray.distinct
    val g0 = graph.select("src", "dst")
    val touched = broadcast(touchedIds.toSeq.toDF("src"))
    val untouched = g0.join(touched, Seq("src"), "left_anti")
    // old live edges of touched sources: a bounded semi-join fetch,
    // collected — the whole trim candidate set is then driver state and
    // [[trimLocal]] reads only endpoint vectors (one pruned fetch)
    val old = g0.join(touched, Seq("src"), "left_semi")
      .as[(Long, Long)].collect()
    untouched.unionByName(trimLocal(spark, quantizedView(corpus),
      defaultFetch, (old ++ newE ++ backE).distinct.toSeq, m)
      .toDF("src", "dst"))
  }

  /** GRAPH-INDEX DELETE with repair — the lifecycle's last step (IVF-PQ
    * got its delete in r14; this is the graph analog). A plain edge drop
    * would shatter navigability: a node whose whole neighborhood was
    * removed goes unreachable and its queries dead-end. The HNSW repair
    * rule (also FreshDiskANN's delete): BRIDGE THROUGH the removed node —
    * every surviving src that edged into a removed node r inherits r's
    * surviving out-neighbors as candidate edges (src → r → x becomes
    * src → x), then every src re-trims to its top-`m` by exact cosine
    * (the build's (cos desc, dst) rank, applied by the same [[trimLocal]]
    * insert uses, so delete composes with both).
    *
    * Deterministic end-to-end — the q364 oracle replays kept ∪ bridge →
    * re-trim → beam walk bit-exactly.
    *
    * Scale shape: `removed` is a batch — broadcast anti/semi joins mask
    * it without shuffling the edge set; the bridge is ONE equi-join on
    * the removed id whose output is bounded by in-degree(r) × m per
    * removed node (edges are linear in N, never pairwise); the re-trim
    * touches only kept ∪ bridge rows. `survivors` must be the corpus
    * WITHOUT the removed rows (the trim scores both endpoints). */
  def removeNodes(graph: DataFrame, survivors: DataFrame,
      removed: DataFrame, m: Int): DataFrame = {
    // the [[IvfPq.removeIds]] guard: a multi-column frame would silently
    // tombstone whatever happened to be first
    require(removed.columns.length == 1,
      s"removed must be a single id column (got ${removed.columns.mkString(", ")})")
    val rid = broadcast(removed.select(col(removed.columns.head).as("rid")))
    val g = graph.select("src", "dst")
    val kept = g.join(rid, col("src") === col("rid"), "left_anti")
      .join(rid, col("dst") === col("rid"), "left_anti")
    // surviving src → removed mid
    val intoR = g.join(rid, col("dst") === col("rid"), "left_semi")
      .join(rid, col("src") === col("rid"), "left_anti")
      .select(col("src"), col("dst").as("mid"))
    // removed mid → surviving dst
    val outR = g.select(col("src").as("mid"), col("dst"))
      .join(rid, col("mid") === col("rid"), "left_semi")
      .join(rid, col("dst") === col("rid"), "left_anti")
    val bridge = intoR.join(outR, "mid")
      .filter(col("src") =!= col("dst"))
      .select("src", "dst")
    // Re-trim ONLY bridged sources: a src with no bridge candidates can
    // only have LOST edges (kept ⊆ its previous top-m), so its trim is a
    // no-op — identical output, and the trim runs on O(|bridge|) rows
    // instead of the whole surviving edge set, keeping the delete bill
    // ~flat as the corpus grows (GraphScale: 6.5 s at ×16 vs 8.5 s at ×64
    // for the same 2000-node batch). The bridged sources' edges are
    // bounded by the same contract, so they are collected in one job and
    // re-trimmed DRIVER-SIDE ([[trimLocal]], the [[insertBatch]]
    // discipline). The q364 oracle replays the FULL-trim algebra — the
    // driver compare is the equivalence proof.
    val spark = graph.sparkSession
    import spark.implicits._
    val toTrim = kept.join(bridge.select("src").distinct(), Seq("src"),
        "left_semi")
      .unionByName(bridge).as[(Long, Long)].collect()
    val touched = broadcast(toTrim.map(_._1).distinct.toSeq.toDF("src"))
    kept.join(touched, Seq("src"), "left_anti").unionByName(
      trimLocal(spark, quantizedView(survivors), defaultFetch, toTrim.toSeq,
        m).toDF("src", "dst"))
  }

  // =====================================================================
  // THE AT-REST FORM — the graph index as files, not a DataFrame
  // (VERDICT r15 task 2/3: "what q370 did for the binary codec — the
  // claim as a plan property"). An [[IndexStore]] of kind GRAPH: the
  // manifest holds the build constants (m, m1, n_buckets, layers), the
  // write generation, the entry ids and the dir of every logical store:
  //
  //   vectors   bucket=B/…  (id, qe, n2)    bucket = pmod(id, nB)
  //   adj0      bucket=B/…  (src, dst, gen) bucket = pmod(src, nB)
  //   adj<l>    bucket=B/…  level-l adjacency (l = 1..layers), same
  //                         shape — the hierarchy STACKS (LEVEL_CAP)
  //   radj<l>   bucket=B/…  reverse adjacency (adj<l>'s rows, bucket =
  //                         pmod(DST, nB)): delete repair's in-edge
  //                         discovery; LAZY ([[writeAdjLocal]])
  //   tombstones            deleted node ids ([[IndexStore]]'s format)
  //   entries (manifest)    lowest live TOP-level ids (≤ ENTRY_CAP)
  //
  // Probe cost is a PLAN PROPERTY: every walk fetch filters on the bucket
  // partition column first (PartitionFilters — spec-asserted), so a hop
  // reads only the buckets its ≤ |Q|·ef ids live in, never the store.
  // Mutations never rewrite the store: an insert/delete batch APPENDS the
  // re-trimmed edge sets of the touched sources at generation gen+1, the
  // reader resolves max-gen-per-src over its (bounded, pruned) fetch, and
  // the batch's commit bumps the manifest's generation — the
  // [[IvfPq.addBatch]]/tombstone discipline applied to adjacency. Builds
  // and compactions write fresh dirs and commit once. Levels need no
  // storage at all: the HNSW layer draw ([[levelNodes]]) is a pure
  // keyed-hash function of the id, so layer membership is derivable
  // forever, and only the layer GRAPHS are materialized.
  //
  // Single writer, as every [[IndexStore]]. Ingested ids must be NEW
  // ([[BinaryAnn.addBatch]]'s unique-id contract) — a re-used id would
  // alias its vector row and corrupt trims silently.
  // =====================================================================

  private val KIND = "GRAPH"

  /** Lowest live top-level ids kept in the manifest. The cap bounds the
    * list; semantics are ALWAYS "the lowest min(cap, live) top-level
    * ids" — [[removeBatch]] rebuilds the list from the store whenever a
    * deletion touches it, so the oracle rule (lowest ef1 LIVE top-level
    * ids) holds at every generation. */
  private val ENTRY_CAP = 256

  /** Stack another level while the current top holds more nodes than
    * this (≈ 8·ef1·m1, the [[hnswTopK]] scaladoc's stacking rule): a
    * flat walk of a big single upper layer re-creates the radius problem
    * one level up (GraphScale measured the fixed 2-layer probe collapsing
    * to recall 0.13 at ×64 while the stacked descent holds 0.76). */
  private val LEVEL_CAP = 256

  /** Write `df` into the fresh dir `dir`, partitioned by `bucket =
    * pmod(key, n)` — the builds and compaction; appends go through
    * [[writeAdjLocal]]. Each bucket's rows are co-located before the
    * partitioned write: ONE file per bucket per generation instead of
    * (shuffle partitions × buckets) shards — the probe's listing cost
    * follows generations, not writer parallelism (and at scale this is
    * the co-located bucket-write shape anyway). */
  private def writeBucketed(df: DataFrame, key: String, n: Int,
      dir: String): Unit =
    df.withColumn("bucket", pmod(col(key), lit(n.toLong)))
      .repartition(n, col("bucket"))
      .write.partitionBy("bucket").parquet(dir)

  /** One layer's full adjacency at generation `gen`, bucketed by src. */
  private def writeAdj(edges: DataFrame, dir: String, gen: Long,
      n: Int): Unit =
    writeBucketed(edges.select(col("src"), col("dst"))
      .withColumn("gen", lit(gen)), "src", n, dir)

  /** [[writeAdj]] for edge sets that are ALREADY driver state (the
    * [[trimLocal]] outputs: bounded O(batch·degree) by the insert /
    * remove algebra) — appends the identical bucketed at-rest form
    * ([[LocalParquet]]: same `bucket=<pmod(src, n)>` directories, same
    * optional-int64 (src, dst, gen) schema) with ZERO Spark jobs instead
    * of a shuffle + partitioned-write job per layer (guide §5). Appends
    * also maintain the reverse store `radj<l>` WHEN THE CHANGE HAS IT:
    * the store is lazy (the eager form measured the q382/q384 build-heavy
    * lifecycles 1.5–1.8× slower for a store their queries never read),
    * [[ensureRadj]] materializes it once per index, and from then on
    * every edge appended to adj lands in radj in the same change. radj
    * is append-only DISCOVERY state: its stale-generation rows are
    * dropped by the pruned LIVE re-fetch against `adj`, so it needs no
    * generation resolution of its own. */
  private def writeAdjLocal(spark: org.apache.spark.sql.SparkSession,
      ch: IndexStore.Change, edges: Seq[(Long, Long)], layer: Int,
      n: Int): Unit = {
    val fields = Seq("src" -> "long", "dst" -> "long", "gen" -> "long")
    val rows: Seq[Seq[Any]] = edges.map { case (s, d) => Seq[Any](s, d, ch.gen) }
    LocalParquet.writeBucketed(spark, ch.dir(s"adj$layer"), "bucket", fields,
      rows, r => Math.floorMod(r.head.asInstanceOf[Long], n.toLong))
    if (ch.has(s"radj$layer"))
      LocalParquet.writeBucketed(spark, ch.dir(s"radj$layer"), "bucket",
        fields, rows, r => Math.floorMod(r(1).asInstanceOf[Long], n.toLong))
  }

  /** Layer `l`'s reverse adjacency in this change: one dst-bucketed copy
    * of the full adjacency into a fresh dir on first use (visible with
    * the change's commit), pruned point fetches forever after. */
  private def ensureRadj(ch: IndexStore.Change, layer: Int,
      n: Int): DataFrame = {
    val store = s"radj$layer"
    if (!ch.has(store))
      writeBucketed(ch.rel(s"adj$layer").select("src", "dst", "gen"), "dst",
        n, ch.fresh(store))
    ch.rel(store)
  }

  /** The at-rest fetch: bucket partition pruning first (bucket =
    * pmod(id, nBuckets) is derivable from the requested id set), then the
    * InSet/join id filter; adjacency frames (recognized by their `gen`
    * column) additionally FLAG tombstoned destinations in a `tomb`
    * column. The consumer resolves max-gen-per-src over the UNMASKED
    * rows FIRST and only then drops flagged destinations — either
    * driver-side over its collected bounded fetch (the walk loop — a
    * per-round window exchange measured as a real share of the q380
    * lifecycle wall) or through [[resolveLive]] (the trim paths).
    * Masking before resolution was a live bug: a source whose entire
    * latest-generation edge set is tombstoned (and that got no bridge
    * re-trim because the removed mids had no surviving out-edges) would
    * vanish from the max-gen computation and RESURRECT its superseded
    * earlier generation's trimmed-away edges; the oracle's live view
    * leaves that source edge-less. Exposed private[graft] so the spec
    * can assert the PartitionFilters plan property directly. */
  private[graft] def indexFetch(nBuckets: Int,
      tombs: Array[Long]): IdFetch = (df, idCol, ids) => {
    val base = Stores.fetchIds(df, idCol, ids, nBuckets)
    if (df.columns.contains("gen")) {
      val flagged =
        if (tombs.isEmpty) base.withColumn("tomb", lit(false))
        else if (tombs.length <= Stores.ID_CAP)
          base.withColumn("tomb", col("dst").isin(tombs.toSeq: _*))
        else {
          val spark = df.sparkSession
          import spark.implicits._
          base.join(broadcast(tombs.toSeq.toDF("dst")
              .withColumn("_t", lit(true))), Seq("dst"), "left")
            .withColumn("tomb", coalesce(col("_t"), lit(false)))
        }
      flagged.select("src", "dst", "gen", "tomb")
    } else base
  }

  /** THE trim — the uniform re-trim rule of insert, delete and the
    * at-rest mutation paths, driver-side: fetch the edge set's endpoint
    * vectors ONCE (bucket-pruned, collected — they are bounded by the same
    * contract as the walks' probe batch), score every edge with the exact
    * int64 cosine, keep each source's top-`m` under (cos desc, dst) — no
    * joins, windows, or checkpoints (each cost a scheduling round-trip
    * per trim). The trimmed edges STAY driver state, so persisted-index
    * writers hand them straight to [[LocalParquet]]. The fetched-row
    * count doubles as the unique-id ingest guard (the
    * [[BinaryAnn.probeIndex]] discipline): a re-used id would alias a
    * vector and corrupt trims silently. */
  private def trimLocal(spark: org.apache.spark.sql.SparkSession,
      vec: DataFrame, fetch: IdFetch, toTrim: Seq[(Long, Long)],
      mDeg: Int): Seq[(Long, Long)] = {
    import spark.implicits._
    val dedup = toTrim.distinct
    val endIds = dedup.iterator
      .flatMap { case (s0, d0) => Iterator(s0, d0) }.toArray.distinct
    val fetched = fetch(vec, "id", endIds)
      .select(col("id"), col("qe"), col("n2"))
      .as[(Long, Seq[Long], Long)].collect()
    require(fetched.length == endIds.length,
      s"graph index store returned ${fetched.length} rows for " +
        s"${endIds.length} distinct endpoint ids — duplicate or missing " +
        "ids (ingest contract: batch ids must be new)")
    val vv = fetched.iterator
      .map { case (id, qe, n2) => id -> ((qe.toArray, n2)) }.toMap
    val rows = dedup.groupBy(_._1).iterator.flatMap { case (s0, es) =>
      val (sv, sn) = vv(s0)
      es.iterator.map { case (_, d0) =>
        val (dv, dn) = vv(d0)
        if (sv.length != dv.length)
          throw new IllegalArgumentException(
            s"trim: dimension mismatch (${sv.length} vs ${dv.length})")
        var acc = 0L; var i = 0
        while (i < sv.length) { acc += sv(i) * dv(i); i += 1 }
        val denom = math.sqrt(sn.toDouble * dn.toDouble)
        (d0, if (denom == 0.0d) -1.0d else acc.toDouble / denom)
      }.toArray.sortBy { case (d0, cos) => (-cos, d0) }
        .take(mDeg).map { case (d0, _) => (s0, d0) }
    }.toSeq
    rows
  }

  /** Resolve a gen-carrying edge fetch to its live view: max generation
    * per source wins (an insert/delete re-trim REPLACES the source's edge
    * set), and tombstone-flagged destinations drop ONLY AFTER that
    * resolution (the [[indexFetch]] ordering contract — masking first
    * resurrects superseded generations). No-op on flat (src, dst)
    * frames. */
  private[graft] def resolveLive(df: DataFrame): DataFrame =
    if (!df.columns.contains("gen")) df
    else {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("src")
      val res = df.withColumn("_mg", max("gen").over(w))
        .filter(col("gen") === col("_mg"))
      (if (df.columns.contains("tomb")) res.filter(!col("tomb")) else res)
        .select("src", "dst")
    }


  /** Build and persist the index: one quantize pass writes the bucketed
    * vector store, every layer graph lands bucketed-by-src at generation
    * 1, and the manifest records the lowest TOP-level ids as the entry
    * set. Every store goes to a fresh dir and the build commits once, so
    * a rebuild over an existing index leaves the old one readable until
    * the commit. `centroidStride` switches the layer-0 build to
    * [[blockedKnnGraph]] — the 100 TB build path; None = exact
    * [[knnGraph]] (the fixture-gold standard). Upper levels stack while
    * a level holds > LEVEL_CAP nodes (up to `maxLayers` — fixture queries
    * pin 1 so their oracles replay a fixed two-layer descent at any data
    * size); level ≥ 2 graphs build blocked when `centroidStride` is set
    * (√n-sized strides), exact otherwise. */
  def writeIndex(corpus: DataFrame, path: String, m: Int = 8, m1: Int = 4,
      nBuckets: Int = 16, centroidStride: Option[Int] = None,
      g0Opt: Option[DataFrame] = None,
      g1Opt: Option[DataFrame] = None,
      maxLayers: Int = 19): Unit = {
    require(m >= 1 && m1 >= 1 && nBuckets >= 1 && maxLayers >= 1,
      "bad index parameters")
    val spark = corpus.sparkSession
    import spark.implicits._
    val ch = IndexStore.rebuild(spark, path, KIND)
    // callers holding prebuilt layer graphs (a fixture cache, a prior
    // export) pass them in; the contract is degree-m over `corpus` /
    // degree-m1 over its layer-1 draw — identical to what would be built
    val g0 = g0Opt.getOrElse(centroidStride
      .map(st => blockedKnnGraph(corpus, m, st))
      .getOrElse(knnGraph(corpus, m)))
    // Decide the level stack FIRST (cheap counts), then run every store
    // write — vectors + each layer's adjacency, all lazy plans over
    // corpus draws, landing in DISJOINT dirs with no ordering contract
    // until the commit — CONCURRENTLY (guide §2.6). The build was paying
    // its heaviest jobs (the knn-graph kernels and the quantize+bucket
    // write) strictly serially.
    var topNodes: DataFrame = null
    var l = 1
    var done = false
    var layerGraphs = List((0, g0))
    while (!done) {
      val nodes = levelNodes(corpus, l)
      val nl = nodes.count()
      if (l == 1) require(nl > 0,
        "writeIndex: no layer-1 nodes — corpus too small for a hierarchy " +
          "(the flat beamTopK path covers toy corpora)")
      val gl =
        if (l == 1) g1Opt.getOrElse(knnGraph(nodes, m1))
        else if (centroidStride.isDefined)
          blockedKnnGraph(nodes, m1,
            math.max(1, math.sqrt(nl.toDouble).toInt))
        else knnGraph(nodes, m1)
      layerGraphs ::= (l, gl)
      topNodes = nodes
      // stack another level only while this one is too big to flat-walk
      // AND the next level up would still hold a navigable graph
      if (nl > LEVEL_CAP && l < maxLayers &&
          levelNodes(corpus, l + 1).count() >= 2) l += 1
      else done = true
    }
    val vecDir = ch.fresh("vectors")
    val adjDirs = layerGraphs.map { case (ll, gl) => (ch.fresh(s"adj$ll"), gl) }
    ParallelWrites.all(
      (() => writeBucketed(AnnSearch.quantized(corpus), "id", nBuckets,
        vecDir)) +:
      adjDirs.map { case (d, gl) => () => writeAdj(gl, d, 1L, nBuckets) }: _*)
    val ents = topNodes.select(col(topNodes.columns.head).as("id"))
      .orderBy("id").limit(ENTRY_CAP).as[Long].collect()
    ch.commit(1L, consts = Map("m" -> m.toString, "m1" -> m1.toString,
      "n_buckets" -> nBuckets.toString, "layers" -> l.toString),
      entries = ents.toSeq)
  }

  /** Probe the persisted index — the HNSW descent with every byte coming
    * from pruned reads: the top-level walk starts at the manifest's ef1
    * lowest live entry ids, each level's per-query winners seed the next
    * level down (narrow ef1/hops1 walks — one per stored level), and the
    * final layer-0 walk runs at ef/hops. The whole descent is one
    * [[descend]] (probe batches are bounded by contract) and every
    * fetch goes through [[indexFetch]]: bucket partition pruning +
    * max-gen resolution + tombstone masking. Nothing is rebuilt, nothing
    * unpruned is read; total cost is (layers·ef1·(m1+1)·hops1 +
    * ef·(m+1)·hops) scored rows per query — ~log N with stacked levels. */
  def probeIndex(queries: DataFrame, path: String, k: Int,
      ef1: Int = 8, hops1: Int = 2, ef: Int = 16,
      hops: Int = 2): DataFrame = {
    require(ef1 >= 1 && ef >= k, s"need ef1 >= 1 and ef=$ef >= k=$k")
    val spark = queries.sparkSession
    val mt = IndexStore.open(spark, path, KIND)
    val tombs = IndexStore.tombIds(spark, mt)
    val ents = mt.entries.filterNot(tombs.contains).take(ef1).toArray
    require(ents.nonEmpty,
      s"probeIndex: entry set exhausted at $path — rebuild the index")
    val layers = (mt.int("layers") to 1 by -1).map(l =>
        (IndexStore.rel(spark, mt, s"adj$l"), ef1, hops1)) :+
      ((IndexStore.rel(spark, mt, "adj0"), ef, hops))
    ranked(spark, descend(queries, IndexStore.rel(spark, mt, "vectors"),
      layers, Some(_ => ents), indexFetch(mt.int("n_buckets"), tombs)).last,
      k)
  }

  /** HNSW-style LEVEL-AWARE incremental insertion against the persisted
    * index (VERDICT r15 task 3). One upper walk serves two purposes: every
    * batch node descends layer 1 from the entry set to find its layer-0
    * seeds (HNSW's descent — the search structure is its own build tool),
    * and the walk's top-m1 per LAYER-1 batch node are that node's layer-1
    * out-edges. Each layer then applies the uniform [[insertBatch]]
    * algebra — back-edges + touched-source re-trim — and APPENDS the
    * re-trimmed sources at gen+1; untouched sources' rows are never
    * rewritten (max-gen-per-src resolution at read). All walks run
    * against the PRE-batch generations, so inserts within a batch commute
    * (the [[IvfPq.addBatch]] order-independence contract) and the whole
    * step replays in the oracle. Cost: the batch's own schedule-bounded
    * walks + two O(batch·m) trims + appends — never a rebuild, flat in
    * corpus size (GraphScale's insert discipline). */
  def addBatch(path: String, batch: DataFrame, ef1: Int = 8,
      hops1: Int = 2, ef: Int = 16, hops: Int = 2): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val ch = IndexStore.change(spark, path, KIND)
    val mt = ch.base
    val (mDeg, m1, nb, layers) = (mt.int("m"), mt.int("m1"),
      mt.int("n_buckets"), mt.int("layers"))
    require(m1 <= ef1 && mDeg <= ef,
      s"walk widths must cover edge degrees (m=$mDeg ef=$ef, " +
        s"m1=$m1 ef1=$ef1)")
    val tombs = IndexStore.tombIds(spark, mt)
    val fetch = indexFetch(nb, tombs)
    // vectors first: the trims below fetch BOTH endpoints (incl. batch
    // ids) from the store; the walks only ever fetch pre-batch candidates.
    // The batch is driver-collectable by this method's own contract (its
    // ids/beams are collected below) — append the Spark-computed
    // quantized rows driver-side ([[LocalParquet]], same id-bucketed
    // layout) instead of a shuffle + partitioned-write job (guide §5)
    LocalParquet.writeBucketed(spark, ch.dir("vectors"), "bucket",
      Seq("id" -> "long", "qe" -> "array<long>", "n2" -> "long"),
      AnnSearch.quantized(batch).collect().toSeq
        .map(r => Seq[Any](r.getLong(0), r.getSeq[Long](1), r.getLong(2))),
      r => Math.floorMod(r.head.asInstanceOf[Long], nb.toLong))
    val vec = ch.rel("vectors")
    val adjL = (0 to layers).map(l => l -> ch.rel(s"adj$l")).toMap
    val ents = mt.entries.filterNot(tombs.contains).take(ef1).toArray
    require(ents.nonEmpty,
      s"addBatch: entry set exhausted at $path — rebuild the index")

    /** Per-query top-`deg` edge selection from a walk beam — driver-side
      * over beams that are driver state already (the beamWalkArr rule). */
    def topEdges(beam: Array[(Long, Long, Double)], deg: Int,
        qKeep: Long => Boolean): Seq[(Long, Long)] =
      beam.groupBy(_._1).iterator.collect { case (q, rows) if qKeep(q) =>
        rows.sortBy { case (_, cid, cos) => (-cos, cid) }.take(deg)
          .map { case (_, cid, _) => (q, cid) }.toSeq
      }.flatten.toSeq

    /** The uniform insert algebra on one layer: new edges → back-edges →
      * touched-source re-trim. The touched sources' live rows are a
      * bounded pruned fetch (collected — the bounded-collect contract),
      * so the whole candidate edge set is driver state and [[trimLocal]]
      * reads only endpoint vectors. */
    def layerRows(adj: DataFrame, newE: Seq[(Long, Long)],
        deg: Int): Seq[(Long, Long)] = {
      val backE = newE.map { case (s0, d0) => (d0, s0) }
      val touchedIds = (newE.iterator.map(_._1) ++ backE.iterator.map(_._1))
        .toArray.distinct
      val old = resolveLive(fetch(adj, "src", touchedIds))
        .as[(Long, Long)].collect()
      trimLocal(spark, vec, fetch, (old ++ newE ++ backE).distinct.toSeq,
        deg)
    }

    // batch node ids per level (the keyed draw; level sets are nested)
    val bIdsAt = (1 to layers).map(l => l -> levelNodes(batch, l)
      .select(col(batch.columns.head).cast("long")).as[Long]
      .collect().toSet).toMap
    // ONE descent over every stored level: each level's beam both seeds
    // the next level down (HNSW's insert descent) and supplies the
    // top-m1 edge selection for batch nodes drawn AT that level
    val down = layers to 0 by -1
    val beams = down.zip(descend(batch, vec, down.map(l =>
        if (l == 0) (adjL(0), ef, hops) else (adjL(l), ef1, hops1)),
      Some(_ => ents), fetch)).toMap
    val newEAt = (1 to layers).map(l =>
      l -> topEdges(beams(l), m1, bIdsAt(l).contains)).toMap

    val rows0 = layerRows(adjL(0), topEdges(beams(0), mDeg, _ => true), mDeg)
    val rowsAt = (1 to layers).flatMap { l =>
      if (bIdsAt(l).isEmpty) None
      else Some(l -> layerRows(adjL(l), newEAt(l), m1))
    }
    writeAdjLocal(spark, ch, rows0, 0, nb)
    rowsAt.foreach { case (l, r) => writeAdjLocal(spark, ch, r, l, nb) }
    ch.commit(ch.gen, entries =
      if (bIdsAt(layers).isEmpty) mt.entries
      else (mt.entries ++ bIdsAt(layers)).distinct.sorted.take(ENTRY_CAP))
  }

  /** COMPACTION — fold every layer's generation chain into one live
    * generation and physically drop tombstoned rows (the
    * [[IvfPq.compactIndex]] discipline applied to adjacency): per layer,
    * the FULL gen-carrying scan resolves max-gen-per-src, masks
    * tombstoned sources and destinations, and rewrites adj (and radj, if
    * any) at gen 1; the vector store drops tombstoned ids; tombstones go;
    * the entry set rebuilds — all fresh dirs and ONE commit. Probe results are IDENTICAL before and after (the live view is
    * unchanged — compaction is physical, spec-pinned); what changes is
    * the bill: GraphScale's churn run measured the probe wall doubling
    * across 9 accumulated generations (4.3 → 8.1 s at ×16) because every
    * bucket fetch lists one file per generation — compaction returns it
    * to the fresh-build shape. O(index), so it amortizes like any LSM
    * major compaction: run it when the generation count, not the data,
    * dominates the probe. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    import spark.implicits._
    val ch = IndexStore.change(spark, path, KIND, compaction = true)
    val mt = ch.base
    val nb = mt.int("n_buckets")
    val tombDf = IndexStore.tombIds(spark, mt).toSeq.toDF("tid")
    val noTombs = !mt.has(IndexStore.TOMBS)
    for (l <- 0 to mt.int("layers")) {
      val adj = IndexStore.rel(spark, mt, s"adj$l")
      // tomb flag via broadcast join, not an isin literal list — the
      // tombstone set is unbounded by the time compaction runs
      val flagged =
        if (noTombs) adj.withColumn("tomb", lit(false))
        else adj.join(broadcast(tombDf.withColumn("_t", lit(true))),
            col("dst") === col("tid"), "left")
          .withColumn("tomb", coalesce(col("_t"), lit(false)))
          .drop("tid", "_t")
      val live = resolveLive(flagged)
        .join(broadcast(tombDf), col("src") === col("tid"), "left_anti")
      writeAdj(live, ch.fresh(s"adj$l"), 1L, nb)
      // a lazily-materialized radj survives compaction as a mirror of the
      // compacted adjacency; an absent one stays absent (lazy)
      if (mt.has(s"radj$l"))
        writeBucketed(ch.rel(s"adj$l").select("src", "dst", "gen"), "dst",
          nb, ch.fresh(s"radj$l"))
    }
    writeBucketed(IndexStore.rel(spark, mt, "vectors")
      .join(broadcast(tombDf), col("id") === col("tid"), "left_anti")
      .select("id", "qe", "n2"), "id", nb, ch.fresh("vectors"))
    ch.drop(IndexStore.TOMBS)
    val ents = levelNodes(ch.rel("vectors").select(col("id")),
        mt.int("layers"))
      .orderBy("id").limit(ENTRY_CAP).as[Long].collect()
    require(ents.nonEmpty, s"compactIndex: no live top-level nodes at $path")
    ch.commit(1L, entries = ents.toSeq)
  }

  /** Graph-index DELETE against the persisted form — [[removeNodes]]'
    * bridge-repair algebra per layer, expressed as appends: removed ids
    * land in the tombstones (readers mask dead DESTINATIONS at fetch,
    * which realizes the "kept" edge drop for untouched sources without
    * rewriting them), and every BRIDGED source's re-trimmed edge set
    * appends at gen+1. In-edge discovery reads the dst-bucketed `radj`
    * store — a bucket-partition-pruned fetch by removed id (candidate
    * sources with any-gen edges into the removed set, O(batch·in-degree)
    * rows; the pruned live re-fetch against `adj` then drops
    * stale-generation false positives) — closing the one full-scan
    * FreshDiskANN trade the r16 form documented. `removed`: a single id
    * column, batch-bounded (the [[IvfPq.removeIds]] guard). */
  def removeBatch(path: String, removed: DataFrame): Unit = {
    require(removed.columns.length == 1,
      s"removed must be a single id column (got ${removed.columns.mkString(", ")})")
    val spark = removed.sparkSession
    import spark.implicits._
    val ch = IndexStore.change(spark, path, KIND)
    val mt = ch.base
    val nb = mt.int("n_buckets")
    val oldTombs = IndexStore.tombIds(spark, mt)
    val fetch = indexFetch(nb, oldTombs)
    val rIds = removed.select(col(removed.columns.head).cast("long"))
      .as[Long].collect().distinct
    require(rIds.nonEmpty, "removeBatch: empty removed set")
    val vec = ch.rel("vectors")

    /** Bridge-repair one layer; returns the gen+1 rows for its bridged
      * sources, materialized (same lineage rule as addBatch). The live
      * fetches are bounded (|candidates| × m, |removed| × m) and
      * COLLECTED, so the bridge join and the kept/touched masks are
      * driver work and the trim reads only endpoint vectors. */
    def repair(adj: DataFrame, radj: DataFrame, rSet: Array[Long],
        mDeg: Int): Option[Seq[(Long, Long)]] = {
      if (rSet.isEmpty) return None
      val rs = rSet.toSet
      // candidate in-edge sources: a bucket-pruned any-gen fetch of the
      // dst-bucketed reverse store (tombs empty on purpose — discovery
      // wants EVERY edge ever written into the removed set; the pruned
      // LIVE re-fetch below drops stale-generation false positives)
      val candSrc = indexFetch(nb, Array.emptyLongArray)(radj, "dst", rSet)
        .filter(!col("src").isin(rSet.toSeq: _*))
        .select("src").distinct().as[Long].collect()
      if (candSrc.isEmpty) return None
      val candLive = resolveLive(fetch(adj, "src", candSrc))
        .as[(Long, Long)].collect()
      val outByMid = resolveLive(fetch(adj, "src", rSet))
        .as[(Long, Long)].collect()
        .filter { case (_, d0) => !rs(d0) }.groupBy(_._1)
      val bridge = candLive
        .filter { case (_, d0) => rs(d0) }
        .flatMap { case (s0, mid) =>
          outByMid.getOrElse(mid, Array.empty[(Long, Long)])
            .collect { case (_, d0) if d0 != s0 => (s0, d0) }
        }.distinct
      val touched = bridge.iterator.map(_._1).toSet
      if (touched.isEmpty) return None
      val keptTouched = candLive.filter { case (s0, d0) =>
        touched(s0) && !rs(d0) }
      Some(trimLocal(spark, vec, fetch,
        (keptTouched ++ bridge).distinct.toSeq, mDeg))
    }

    repair(ch.rel("adj0"), ensureRadj(ch, 0, nb), rIds, mt.int("m"))
      .foreach(r => writeAdjLocal(spark, ch, r, 0, nb))
    for (l <- 1 to mt.int("layers")) {
      val rl = levelNodes(rIds.toSeq.toDF("id"), l).as[Long].collect()
      // guard BEFORE ensureRadj: a level the batch never drew into should
      // not pay the one-time reverse-store materialization
      if (rl.nonEmpty)
        repair(ch.rel(s"adj$l"), ensureRadj(ch, l, nb), rl, mt.int("m1"))
          .foreach(r => writeAdjLocal(spark, ch, r, l, nb))
    }
    // the removed-id list is driver state (collected above) — its
    // tombstone file is written without a Spark job
    IndexStore.addTombstones(ch, rIds)
    // the entry invariant is "lowest min(cap, live) TOP-level ids": a
    // deletion touching it forces a rebuild from the store (rare, and an
    // id-column-only scan), so the probe entry rule stays exactly the
    // oracle's "lowest ef1 LIVE top-level ids" at every generation
    val ents =
      if (!mt.entries.exists(rIds.contains)) mt.entries
      else {
        val allTombs = (oldTombs ++ rIds).distinct
        val live = levelNodes(vec.select(col("id")), mt.int("layers"))
          .filter(!col("id").isin(allTombs.toSeq: _*))
          .orderBy("id").limit(ENTRY_CAP).as[Long].collect()
        require(live.nonEmpty,
          s"removeBatch: no live top-level nodes remain at $path")
        live.toSeq
      }
    ch.commit(ch.gen, entries = ents)
  }
}
