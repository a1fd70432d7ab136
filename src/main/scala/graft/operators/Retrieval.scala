package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranked full-text retrieval over the document corpus — BM25 (the Okapi
  * formula in its "Lucene" always-positive idf form, ln(1 + (N−df+0.5)/
  * (df+0.5))) as a distributed inverted-index scoring op. The reference
  * engine has no ranked retrieval, but a training-data pipeline needs it
  * constantly (RAG indexing, quality-by-query probes, targeted corpus
  * slicing), so it joins the dedup/ANN family as a first-class extension op.
  *
  * Determinism/oracle strategy (matches the pack-wide convention): the idf
  * is quantized to int64 micro-units immediately after the one `ln`, and
  * each posting's contribution is quantized again after the tf saturation
  * product — so the per-document score is an exact int64 SUM (order-free,
  * reproducible under any shuffle/AQE reordering), not a float sum. DuckDB
  * mirrors the identical IEEE ops on identical doubles; the only rounding
  * boundaries are per distinct (df) and per posting — verified green at
  * both SFs.
  *
  * Scale shape (100 TB): the index-then-probe pattern of
  * [[AnnSearch.ivfWriteIndex]], made literal by [[bm25WriteIndex]] /
  * [[bm25TopKIndexed]] —
  *  - [[bm25WriteIndex]] is the amortized ONE-TIME build: postings
  *    `(term, doc_id, tf, dl)` and term stats `(term, df)` written
  *    hash-partitioned by term bucket (`tb`), plus a scalar delta file
  *    (n_docs, dl_sum), under one manifest ([[IndexStore]]). Two
  *    partial-aggregated shuffles over the token stream, once — and
  *    [[bm25AddBatch]] grows the index per batch
  *    (postings append, df/N/avgdl delta-fold at probe) so a growing
  *    corpus never rebuilds.
  *  - [[bm25TopKIndexed]] touches ONLY the probed terms' buckets: the
  *    bucket ids of the query terms (bounded by |query terms|) are pushed
  *    as a static IN on the partition column, so the postings scan is
  *    partition-pruned — probe cost scales with the probed posting lists,
  *    NOT the corpus (PlanShapeSpec asserts the PartitionFilters).
  *  - candidates reduce through [[AnnSearch.partitionTopK]]'s bounded heaps
  *    before the global rank — the window input is O(partitions×|queries|×k),
  *    so a stop-word-ish term with 1e9 postings cannot pile its candidates
  *    into one window partition.
  *  - [[bm25TopK]] remains the index-free one-shot for ad-hoc use; both
  *    paths share the same quantized expressions, so results are
  *    bit-identical (RetrievalSpec asserts it).
  */
object Retrieval {

  /** Tokenize on single spaces (the corpus convention shared with every
    * shingle/blocklist oracle in the pack: `string_split(text, ' ')`,
    * empties dropped). */
  private def postings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")

  // ---- shared quantized scoring expressions (bit-exactness lives here:
  // both the one-shot and the indexed probe compose exactly these) ----

  /** idf in int64 micro-units — the single transcendental, quantized at the
    * per-distinct-df grain. Expects `df`; nDocs is a literal. */
  private def idfMicroExpr(nDocs: Long): Column =
    round(log((lit(nDocs).cast("double") - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5)) + lit(1.0)) * lit(1e6)).cast("long")

  /** Per-posting contribution in int64 micro-units. Expects `idfq`, `tf`,
    * `dl`; tf saturation: tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)). */
  private def wMicroExpr(k1: Double, b: Double, avgdl: Double): Column = {
    val tfD = col("tf").cast("double")
    round(col("idfq") * ((tfD * (lit(k1) + lit(1.0))) /
      (tfD + lit(k1) * (lit(1.0) - lit(b) +
        lit(b) * (col("dl").cast("double") / lit(avgdl)))))).cast("long")
  }

  /** Bounded partition-local heaps before the global rank (AnnSearch's
    * top-k reduction — wq < 2^53 so the double round-trip is exact).
    * Ranking key: `wq` desc, doc_id asc — ties are bit-stable across
    * engines; `score` = wq/1e6 rounded to 4 decimals for display. */
  private def bm25RankTail(scored: DataFrame, k: Int): DataFrame =
    AnnSearch.partitionTopK(
        scored.select(col("query_id").cast("long").as("qid"),
          col("doc_id").as("cid"), col("wq").cast("double").as("cos")), k)
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))))
      .filter(col("rk") <= k)
      .select(col("qid").cast("int").as("query_id"), col("cid").as("doc_id"),
        col("rk").cast("bigint").as("rk"),
        round(col("cos").cast("long") / lit(1e6), 4).as("score"))

  private def queryTerms(spark: SparkSession,
      queries: Seq[(Int, Seq[String])]): DataFrame = {
    import spark.implicits._
    queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
  }

  /** BM25 top-k per query, index-free (one corpus pass). `queries` =
    * (query_id, terms); duplicate terms in one query score like Lucene's
    * default (each occurrence adds — callers dedupe if they want pure OR
    * semantics). */
  def bm25TopK(docs: DataFrame, queries: Seq[(Int, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(queries.nonEmpty, "need at least one query")
    val spark = docs.sparkSession

    val tok = postings(docs)
    // index stats: term frequencies, then doc lengths DERIVED from tf
    // (dl = Σ_term tf) — the token stream is scanned and shuffled exactly
    // once; the second aggregation runs over the much smaller tf relation.
    // tf is referenced FOUR times downstream (the N/avgdl head action via
    // dl, the df semi-aggregation, and twice inside the scoring join) and
    // Catalyst does not share common subplans, so the unmaterialized form
    // re-tokenized the corpus per reference (JobProfile: the scan-phase
    // probes of q383 paid ~0.5 s per extra pass). localCheckpoint(true)
    // materializes the tf relation once — eager, bounded by the distinct
    // (doc, term) pairs (the same magnitude the postings index persists),
    // lineage-free for every consumer, reclaimed by GC with the frame.
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    // the TWO corpus scalars (N, avgdl) — a bounded O(1) driver
    // materialization (the collectCentroids contract), traded for keeping
    // the scoring plan free of the 1-row BroadcastNestedLoopJoin a
    // crossJoin scalar-attach would plan. avgdl is one IEEE division on
    // exact integer aggregates — bit-identical to the oracle's.
    val gRow = dl.agg(count(lit(1)).as("n_docs"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl")).head()
    val nDocs = gRow.getLong(0)
    val avgdl = gRow.getDouble(1)

    val qt = queryTerms(spark, queries)
    // df only for the probed terms: the broadcast semi-filter runs BEFORE
    // the per-term count, so the aggregation is over matched postings only
    val dfT = tf.join(broadcast(qt.select("term").distinct()), Seq("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val idf = dfT.withColumn("idfq", idfMicroExpr(nDocs))
      .select(col("term"), col("idfq"))

    val scored = tf.join(broadcast(qt), Seq("term"))
      .join(dl, Seq("doc_id"))
      .join(broadcast(idf), Seq("term"))
      .withColumn("w", wMicroExpr(k1, b, avgdl))
      .groupBy("query_id", "doc_id").agg(sum("w").as("wq"))

    bm25RankTail(scored, k)
  }

  private val BM25 = "BM25"
  private val POSITIONAL = "POSITIONAL"

  /** Materialize the BM25 inverted index at `path` — the one-time build a
    * 100 TB corpus amortizes over every later probe — as an
    * [[IndexStore]] of kind BM25 whose manifest holds `n_buckets`:
    *  - `postings`: (term, doc_id, tf, dl) partitioned by term bucket
    *    `tb = pmod(hash(term), nBuckets)` — one directory per bucket, so a
    *    probe partition-prunes to its terms' buckets;
    *  - `terms`: (term, df) partitioned the same way — one row per term
    *    PER INGEST BATCH (the probe sums df over its pruned buckets, so
    *    [[bm25AddBatch]] appends instead of merging);
    *  - `stats`: one row per build/batch (n_docs, dl_sum) — the probe
    *    folds N = Σ n_docs and avgdl = Σ dl_sum / Σ n_docs.
    * The stores go to fresh dirs and the build commits once, so a rebuild
    * over an existing index leaves it readable until then. */
  def bm25WriteIndex(docs: DataFrame, path: String, nBuckets: Int = 64): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1 (got $nBuckets)")
    val ch = IndexStore.rebuild(docs.sparkSession, path, BM25)
    bm25WriteBatch(docs, ch, nBuckets, append = false)
    ch.commit(0L, consts = Map("n_buckets" -> nBuckets.toString))
  }

  /** INCREMENTAL BM25 INGEST — append a new document batch to a persisted
    * index without rebuilding it (the train-once/add-forever discipline
    * every ANN index in the zoo already follows; BM25 was the last
    * write-once index). Every piece of index state is either per-document
    * (postings rows — disjoint across batches, a pure bucket-partitioned
    * append) or DELTA-FOLDABLE at probe time over commutative integer
    * sums (`terms` appends this batch's (term, df) rows and the probe
    * sums df per term over its pruned buckets; `stats` appends this
    * batch's (n_docs, dl_sum) row and the probe folds N = Σ n_docs,
    * avgdl = Σ dl_sum / Σ n_docs — ONE IEEE division over exact integer
    * totals, bit-identical to the one-shot build's). Batches therefore
    * COMMUTE: any batch order, and any batch-vs-one-shot split, probes
    * identically (RetrievalSpec pins it).
    *
    * Contract (the [[BinaryAnn.addBatch]]/[[IvfPq.addBatch]] unique-id
    * rule): batch doc_ids must be NEW — a re-ingested doc_id would sum a
    * second posting row into its (query, doc) score silently. Single
    * writer; concurrent ingests race the manifest commit. */
  def bm25AddBatch(batch: DataFrame, path: String): Unit = {
    val ch = IndexStore.change(batch.sparkSession, path, BM25)
    bm25WriteBatch(batch, ch, ch.base.int("n_buckets"), append = true)
    ch.commit(ch.gen)
  }

  private def bm25WriteBatch(docs: DataFrame, ch: IndexStore.Change,
      nBuckets: Int, append: Boolean): Unit = {
    val mode = if (append) "append" else "errorifexists"
    val (pd, td, sd) = (ch.dir("postings"), ch.dir("terms"), ch.dir("stats"))
    val tok = postings(docs)
    // tf feeds all THREE stores (postings directly, terms via a groupBy,
    // stats via dl) and is recomputed per write. Measured alternatives
    // (r18, JobProfile on q385): persist()-ing tf+dl for the writes made
    // the batch SLOWER (postings-write job 1.8 s → 3.8 s — columnar-cache
    // serialization plus AQE-over-InMemoryRelation replanning outweigh
    // re-running a tokenize+partial-agg shuffle at any batch size the
    // bench reaches), so the recompute form stands — the lineage is two
    // narrow partial-aggregated shuffles, exactly what guide §5 says NOT
    // to cache ("only when recomputing is more expensive than the memory
    // pressure caching creates").
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    // APPEND batches bucket-align their writers (the [[bm25CompactIndex]]
    // write shape): one task per term bucket → one file per bucket per
    // batch, instead of every shuffle task spraying a file into every
    // bucket dir — ~32× fewer files per ingest step, which is what keeps
    // a long multi-batch ingest (q385/q390) from drowning in tiny files.
    // One-shot builds keep the shuffle-free write: their postings set is
    // the whole corpus, so the extra exchange costs more than the file
    // consolidation buys (and a build is one batch — no accumulation).
    def aligned(df: DataFrame): DataFrame =
      if (append) df.repartition(nBuckets, col("tb")) else df
    // The three stores are INDEPENDENT actions over disjoint directories
    // (postings/terms/stats) with no visibility ordering between them — a
    // batch is published only by the caller's commit. Submitting them
    // from driver threads (guide §2.6) overlaps each write's shuffle tail,
    // planning and commit wall instead of paying the three serially; the
    // shared tf lineage is still recomputed per write (the r18-measured
    // persist() alternative was SLOWER — see the comment above), but the
    // recomputes now run side by side on idle cores.
    ParallelWrites.all(
      () => aligned(tf.join(dl, Seq("doc_id"))
          .withColumn("tb", pmod(hash(col("term")), lit(nBuckets))))
        .write.mode(mode).partitionBy("tb").parquet(pd),
      () => aligned(tf.groupBy("term").agg(count(lit(1)).as("df"))
          .withColumn("tb", pmod(hash(col("term")), lit(nBuckets))))
        .write.mode(mode).partitionBy("tb").parquet(td),
      // per-batch scalar deltas; the probe folds them (Σ, Σ, then one
      // division) so an N-batch index and the one-shot build read the same
      // (n_docs, avgdl). An empty frame still writes its (0, 0) row — the
      // fold is unaffected and the build stays replayable.
      () => dl.agg(count(lit(1)).as("n_docs"),
          coalesce(sum("dl"), lit(0L)).cast("long").as("dl_sum"))
        .write.mode(mode).parquet(sd))
  }

  /** COMPACTION for the BM25 index — the LSM step completing the
    * ingest story ([[bm25AddBatch]] appends per batch; this folds): the
    * per-batch (term, df) rows merge to one row per term, the per-batch
    * (n_docs, dl_sum) deltas fold to one, and each postings bucket's
    * batch files rewrite as one file — so a long-ingested index reads
    * like a one-shot build again. Purely physical: the probe already
    * delta-folds at query time, so results are IDENTICAL before and
    * after (spec-pinned; q385 probes across a compact). The three stores
    * are rewritten into fresh dirs and replaced in one commit. */
  def bm25CompactIndex(spark: SparkSession, path: String): Unit = {
    val ch = IndexStore.change(spark, path, BM25, compaction = true)
    val mt = ch.base
    val nb = mt.int("n_buckets")
    val st = IndexStore.rel(spark, mt, "stats")
      .agg(sum("n_docs").cast("long"), sum("dl_sum").cast("long")).head()
    val (pd, td, sd) = (ch.fresh("postings"), ch.fresh("terms"),
      ch.fresh("stats"))
    // the two folded rewrites read DISJOINT source dirs and land in
    // DISJOINT fresh dirs — overlap them (guide §2.6); nothing is visible
    // before the commit below
    ParallelWrites.all(
      () => IndexStore.rel(spark, mt, "postings")
        .repartition(nb, col("tb"))
        .write.partitionBy("tb").parquet(pd),
      () => IndexStore.rel(spark, mt, "terms")
        .groupBy("tb", "term").agg(sum("df").as("df"))
        .repartition(nb, col("tb"))
        .write.partitionBy("tb").parquet(td))
    // the folded 1-row stats file is a driver constant (st was collected
    // above) — LocalParquet, no job
    LocalParquet.writeFile(spark, s"$sd/part-00000.parquet",
      Seq("n_docs" -> "long", "dl_sum" -> "long"),
      Iterator(Seq[Any](st.getLong(0), st.getLong(1))))
    ch.commit(mt.gen)
  }

  /** Probe a materialized BM25 index: identical scores to [[bm25TopK]]
    * (same quantized expressions, same precomputed integer stats), but the
    * corpus is never rescanned — the probed terms' bucket ids (bounded by
    * |query terms|) push as a static IN on the `tb` partition column, so
    * both the postings and the term-stats scans are partition-pruned to the
    * probed inverted lists. */
  def bm25TopKIndexed(spark: SparkSession, indexPath: String,
      queries: Seq[(Int, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(queries.nonEmpty, "need at least one query")
    import spark.implicits._
    val mt = IndexStore.open(spark, indexPath, BM25)
    // fold the per-batch scalar deltas ([[bm25AddBatch]]): exact integer
    // sums, then the ONE IEEE division — bit-identical to a one-shot build
    val stats = IndexStore.rel(spark, mt, "stats")
      .agg(sum("n_docs").cast("long"), sum("dl_sum").cast("long")).head()
    val nDocs = stats.getLong(0)
    require(nDocs > 0, s"empty BM25 index at $indexPath")
    val avgdl = stats.getLong(1).toDouble / nDocs
    val nBuckets = mt.int("n_buckets")

    val qt = queryTerms(spark, queries)
    // the probed buckets — evaluated through Spark's own hash() so the ids
    // match the write-side partition values exactly; O(|query terms|)
    val buckets = qt.select(
        pmod(hash(col("term")), lit(nBuckets)).as("tb"))
      .distinct().as[Int].collect().toSeq
    val post = IndexStore.rel(spark, mt, "postings")
      .filter(col("tb").isin(buckets.map(Int.box): _*))
    val terms = IndexStore.rel(spark, mt, "terms")
      .filter(col("tb").isin(buckets.map(Int.box): _*))

    // df delta-fold: a multi-batch index holds one (term, df) row PER
    // BATCH the term appeared in; summing over the pruned buckets
    // reconstructs the one-shot df exactly (integer sum, order-free)
    val idf = terms.join(broadcast(qt.select("term").distinct()), Seq("term"))
      .groupBy("term").agg(sum("df").as("df"))
      .withColumn("idfq", idfMicroExpr(nDocs))
      .select(col("term"), col("idfq"))
    val scored = post.join(broadcast(qt), Seq("term"))
      .join(broadcast(idf), Seq("term"))
      .withColumn("w", wMicroExpr(k1, b, avgdl))
      .groupBy("query_id", "doc_id").agg(sum("w").as("wq"))

    bm25RankTail(scored, k)
  }

  /** Re-rank lexical candidates by embedding cosine — stage 2 of the RAG
    * shape. `cand` = (query_id, doc_id, bm25_rk); `queryVec` maps each
    * query to its anchor's id in `emb`. Cosine uses the shared int64
    * quantization ([[AnnSearch.quantized]] + codegen'd
    * [[graft.functions.DotI64]]) — bit-identical across engines; a
    * zero-norm anchor or candidate scores -1.0 (ranks last — the
    * [[AnnSearch]] cosExpr contract) instead of a NULL whose rank would
    * depend on engine NULL-ordering.
    *
    * Scale shape: the candidate set (|queries|×kCand rows) and the anchor
    * vectors (|queries| rows) BROADCAST into the corpus-embedding scan —
    * the embedding table never shuffles and is touched by exactly one
    * narrow probe join, the [[AnnSearch.bruteTopK]] corpus-side contract;
    * quantization runs only on probe survivors, never the whole table. */
  def rerankByAnchor(cand: DataFrame, emb: DataFrame,
      queryVec: Map[Int, Long], k: Int): DataFrame = {
    val spark = cand.sparkSession
    import spark.implicits._
    val qv = queryVec.toSeq.toDF("query_id", "qvec_id")
    val anchors = AnnSearch.quantized(
        emb.filter(col("id").isin(queryVec.values.toSeq.map(Long.box): _*)))
      .join(broadcast(qv), col("id") === col("qvec_id"))
      .select(col("query_id"), col("qe").as("aqe"), col("n2").as("an"))
    val cv = AnnSearch.quantized(
      emb.join(broadcast(cand.select("doc_id").distinct()),
        col("id") === col("doc_id"), "left_semi"))
    val scored = cv.join(
        broadcast(cand.join(broadcast(anchors), Seq("query_id"))),
        col("id") === col("doc_id"))
      .withColumn("cos", coalesce(
        AnnSearch.dotI64(col("aqe"), col("qe")).cast("double") /
          sqrt(col("an").cast("double") * col("n2").cast("double")),
        lit(-1.0)))
    scored
      .withColumn("rerank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("doc_id"))))
      .filter(col("rerank") <= k)
      .select(col("query_id"), col("doc_id"), col("bm25_rk"),
        col("rerank").cast("bigint").as("rerank"),
        round(col("cos"), 6).as("cos"))
  }

  /** Two-stage hybrid retrieval, index-free candidates: [[bm25TopK]]
    * (`kCand` per query) re-ranked by [[rerankByAnchor]], keep `k`. */
  def bm25RerankTopK(docs: DataFrame, emb: DataFrame,
      queries: Seq[(Int, Seq[String])], queryVec: Map[Int, Long],
      kCand: Int, k: Int): DataFrame = {
    require(k >= 1 && kCand >= k, s"need kCand >= k >= 1 (got $kCand, $k)")
    require(queries.forall(q => queryVec.contains(q._1)),
      "every query needs an anchor vector id in queryVec")
    val cand = bm25TopK(docs, queries, kCand)
      .select(col("query_id"), col("doc_id"), col("rk").as("bm25_rk"))
    rerankByAnchor(cand, emb, queryVec, k)
  }

  /** Two-stage hybrid retrieval over a persisted index: candidates from
    * [[bm25TopKIndexed]] (corpus never rescanned), re-ranked by
    * [[rerankByAnchor]]. */
  def bm25RerankTopKIndexed(spark: SparkSession, indexPath: String,
      emb: DataFrame, queries: Seq[(Int, Seq[String])],
      queryVec: Map[Int, Long], kCand: Int, k: Int): DataFrame = {
    require(k >= 1 && kCand >= k, s"need kCand >= k >= 1 (got $kCand, $k)")
    require(queries.forall(q => queryVec.contains(q._1)),
      "every query needs an anchor vector id in queryVec")
    val cand = bm25TopKIndexed(spark, indexPath, queries, kCand)
      .select(col("query_id"), col("doc_id"), col("rk").as("bm25_rk"))
    rerankByAnchor(cand, emb, queryVec, k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009) —
    * the standard score-free hybrid fusion (Elasticsearch/Vespa/OpenSearch
    * all ship exactly this): each ranked list contributes 1/(k0+rank) per
    * (query, doc) and the fused order is by the summed contribution. Rank
    * fusion beats score mixing when the rankers' score scales are
    * incomparable (BM25 int64 micro-units vs cosine in [-1,1]) — only the
    * ORDER of each list matters, which is also what makes the op
    * index-agnostic: any ranker emitting (query_id, doc_id, rk) plugs in
    * (BM25, brute cosine, IVF/PQ/graph/binary probes) unchanged.
    *
    * Determinism: each contribution is quantized to int64 micro-units
    * (`round(1e6/(k0+rk))` — the pack-wide convention), so the fused score
    * is an exact order-free integer SUM; ties break by doc_id. Exact .5
    * rounding boundaries DO exist (1e6/(60+rk) ends in .5 whenever 60+rk
    * divides 2e6 into an odd integer — rk = 68, 580, 3140 within rank
    * 1e4): parity holds because Spark's HALF_UP and DuckDB's
    * half-away-from-zero agree on POSITIVE halves, the same property
    * every round(·, 6) in the pack already relies on. Anyone changing k0
    * or porting the oracle to a banker's-rounding engine must re-check
    * those boundary ranks.
    *
    * Scale shape (100 TB): the inputs are already per-query bounded top-N
    * lists — O(|queries|·N·|lists|) rows total — so the fusion agg and the
    * per-query rank window are trivially small regardless of corpus size;
    * the corpus was only touched inside the upstream rankers. Output
    * carries each list's rank as `rk_<i>` (NULL when the doc missed that
    * list) so both input stages stay value-checked end to end. */
  def rrfFuse(lists: Seq[DataFrame], k: Int, k0: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(k0 >= 1, s"k0 must be >= 1 (got $k0)")
    val tagged = lists.zipWithIndex.map { case (df, i) =>
      df.select(col("query_id"), col("doc_id"),
        col("rk").cast("bigint").as("rk"), lit(i).as("li"))
    }.reduce(_ unionByName _)
    val rkCols = lists.indices.map(i =>
      max(when(col("li") === i, col("rk"))).cast("bigint").as(s"rk_$i"))
    // Contract: each input list is (query_id, doc_id)-UNIQUE (it is a
    // ranked list). A duplicate would sum two 1/(k0+rk) contributions for
    // one membership and let max() pick an arbitrary rank — plausible
    // output, silently inflated. Checked in the same agg (rows per fused
    // group must equal distinct contributing lists) and failed loudly via
    // assert_true, the family's discipline; the extra counters run over
    // the bounded top-N input, never the corpus.
    val guards = Seq(count(lit(1)).as("_n"), countDistinct("li").as("_nli"))
    tagged
      .withColumn("c",
        round(lit(1000000.0) / (lit(k0) + col("rk"))).cast("bigint"))
      .groupBy("query_id", "doc_id")
      .agg(sum("c").as("rrf_micro"), (rkCols ++ guards): _*)
      .filter(assert_true(col("_n") === col("_nli"),
        lit("rrfFuse: duplicate (query_id, doc_id) within one ranked list — " +
          "inputs must be per-query-unique ranked lists")).isNull)
      .drop("_n", "_nli")
      .withColumn("rk", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("rrf_micro").desc, col("doc_id"))))
      .filter(col("rk") <= k)
      .withColumn("rk", col("rk").cast("bigint"))
  }

  /** Dense ranked list per query: exact cosine top-k of each query's
    * anchor vector against the whole embedding corpus, re-keyed from the
    * anchor's vec_id to the caller's query_id. The anchor set (|queries|
    * rows) broadcasts into one corpus scan with partition-local heaps
    * ([[AnnSearch.bruteTopK]] — the corpus never shuffles); at larger
    * scale swap in any indexed probe, [[rrfFuse]] only needs the ranks.
    * The anchor row itself is excluded (bruteTopK's qid≠cid contract). */
  def anchorTopK(emb: DataFrame, queryVec: Map[Int, Long], k: Int): DataFrame = {
    require(queryVec.nonEmpty, "anchorTopK needs at least one anchor")
    val spark = emb.sparkSession
    import spark.implicits._
    val qv = queryVec.toSeq.toDF("query_id", "qvec_id")
    // a missing anchor id would silently drop its query's whole dense
    // list (rrfHybridIndexed would degrade to lexical-only fusion with
    // plausible-looking output) — fail loudly instead, like every other
    // guard in this file. The anchor rows are the broadcast side of the
    // brute scan anyway (bounded, ≤ |queries|), so ONE id-scan collects
    // them and the presence check costs no extra corpus pass — the
    // previous eager distinct().count() guard was a second full scan of
    // the embedding frame on every call.
    val proj = emb.filter(
        col("id").isin(queryVec.values.toSeq.map(Long.box): _*))
      .select(col("id"), col("embedding"))
    val aRows = proj.collect()
    val foundIds = aRows.map(_.getLong(0)).toSet
    val want = queryVec.values.toSet
    require(foundIds.size == want.size,
      s"anchorTopK: only ${foundIds.size} of ${want.size} anchor " +
        "vec_ids exist in the embedding corpus")
    require(aRows.length == foundIds.size,
      s"anchorTopK: duplicate anchor vec_id rows in the embedding corpus " +
        s"(${aRows.length} rows for ${foundIds.size} ids)")
    val anchors = spark.createDataFrame(
      java.util.Arrays.asList(aRows: _*), proj.schema)
    AnnSearch.bruteTopK(anchors, emb, k)
      .join(broadcast(qv), col("qid") === col("qvec_id"))
      .select(col("query_id"), col("cid").as("doc_id"), col("rk"), col("cos"))
  }

  /** Positional postings (doc_id, pos, term): pos is 0-based over the raw
    * single-space split, assigned BEFORE empties are dropped — positions
    * stay stable against empty tokens and replay as the oracle's parallel
    * `generate_series`/`string_split` unnest minus 1 (the q353 pattern). */
  private def positionalPostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
      .filter(col("term") =!= "")

  private def phraseTermsDf(spark: SparkSession,
      phrases: Seq[(Int, Seq[String])]): DataFrame = {
    require(phrases.nonEmpty, "need at least one phrase")
    require(phrases.forall(_._2.nonEmpty), "phrases must be non-empty")
    import spark.implicits._
    phrases.flatMap { case (pid, ts) =>
      ts.zipWithIndex.map { case (t, i) => (pid, t, i.toLong, ts.length.toLong) }
    }.toDF("phrase_id", "term", "off", "plen")
  }

  /** Exact positional PHRASE SEARCH — the retrieval feature bag-of-words
    * BM25 cannot express ("spark join" as adjacent tokens, not as two
    * independent terms). One join does all the work: postings ⋈ broadcast
    * (phrase_id, term, offset) with anchor = pos − offset; an occurrence
    * at anchor a means every offset i has its term at a+i, i.e. the group
    * (phrase_id, doc_id, anchor) covers all `plen` DISTINCT offsets.
    * Repeated phrase terms ("big big") fall out naturally — a posting
    * matches every offset carrying its term, and the distinct-offset count
    * still only reaches plen when the full window lines up; overlapping
    * occurrences each count (standard positional semantics).
    *
    * Scale shape (100 TB): the phrase table is literal-sized and
    * BROADCAST; the postings scan is the only corpus-sized input and it
    * reduces through one partial-aggregated groupBy on (phrase, doc,
    * anchor) — no self-join of the postings list (the naive n-way
    * positional join shuffles the posting lists n−1 times; this shuffles
    * once regardless of phrase length). With the persisted index
    * ([[phraseWriteIndex]]) the scan is partition-pruned to the phrase
    * terms' buckets, so probe cost follows the probed posting lists, not
    * the corpus. */
  def phraseTopK(docs: DataFrame, phrases: Seq[(Int, Seq[String])],
      k: Int): DataFrame =
    phraseRank(positionalPostings(docs),
      phraseTermsDf(docs.sparkSession, phrases), k)

  private def phraseRank(pos: DataFrame, pt: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val occ = pos.join(broadcast(pt), Seq("term"))
      .withColumn("anchor", col("pos") - col("off"))
      .filter(col("anchor") >= 0)
      .groupBy("phrase_id", "doc_id", "anchor", "plen")
      .agg(countDistinct("off").as("nf"))
      .filter(col("nf") === col("plen"))
    occ.groupBy("phrase_id", "doc_id")
      .agg(count(lit(1)).as("n_occ"))
      .withColumn("rk", row_number().over(Window.partitionBy("phrase_id")
        .orderBy(col("n_occ").desc, col("doc_id"))))
      .filter(col("rk") <= k)
      .select(col("phrase_id"), col("doc_id"), col("n_occ"),
        col("rk").cast("bigint").as("rk"))
  }

  /** UNORDERED PROXIMITY SEARCH (the INDRI/Terrier `#uwN` window
    * operator): an anchor is a position p of the phrase's FIRST term; it
    * matches when every OTHER distinct term occurs within [p−w, p+w].
    * Ranks docs by matching-anchor count — "these words appear together",
    * the query phrase search is too strict for and BM25 too loose for.
    *
    * Scale shape: the range predicate |q−p| ≤ w never becomes a range
    * join — other-term positions bucket by floor(q/w) and each anchor
    * explodes to its 3 candidate buckets, so the corpus-sized work is ONE
    * equi-join on (phrase, doc, bucket) over the probed posting lists
    * (index-prunable via [[proximityTopKIndexed]]), with the window
    * filter applied post-join. Anchor explosion is a bounded 3×. */
  def proximityTopK(docs: DataFrame, phrases: Seq[(Int, Seq[String])],
      w: Int, k: Int): DataFrame =
    proximityRank(positionalPostings(docs), phrases, w, k)

  /** [[proximityTopK]] over the persisted positional index
    * ([[phraseWriteIndex]]) — the scan partition-prunes to the phrase
    * terms' buckets, the [[phraseTopKIndexed]] contract. */
  /** Positions scan pruned to `terms`' buckets — THE one copy of the
    * positional-index probe contract (manifest `n_buckets` → Spark-hash
    * bucket ids → static IN on the `tb` partition column); every indexed
    * probe goes through here so a layout change cannot silently miss one
    * caller. Returns (pruned, all): the pruned scan plus the unpruned
    * positional table for callers that also fetch non-query tokens. */
  private def prunedPositions(spark: SparkSession, indexPath: String,
      terms: Seq[String]): (DataFrame, DataFrame) = {
    import spark.implicits._
    val mt = IndexStore.open(spark, indexPath, POSITIONAL)
    val nBuckets = mt.int("n_buckets")
    val buckets = terms.distinct.toDF("term")
      .select(pmod(hash(col("term")), lit(nBuckets)).as("tb"))
      .distinct().as[Int].collect().toSeq
    val all = IndexStore.rel(spark, mt, "positions")
    (all.filter(col("tb").isin(buckets.map(Int.box): _*)), all)
  }

  def proximityTopKIndexed(spark: SparkSession, indexPath: String,
      phrases: Seq[(Int, Seq[String])], w: Int, k: Int): DataFrame =
    proximityRank(
      prunedPositions(spark, indexPath, phrases.flatMap(_._2))._1,
      phrases, w, k)

  private def proximityRank(pos: DataFrame,
      phrases: Seq[(Int, Seq[String])], w: Int, k: Int): DataFrame = {
    require(w >= 1, s"window must be >= 1 (got $w)")
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(phrases.nonEmpty, "need at least one phrase")
    require(phrases.forall(_._2.length >= 2),
      "proximity needs an anchor term plus at least one other term")
    require(phrases.forall(p => p._2.distinct == p._2),
      "proximity phrases must have distinct terms (unordered-window semantics)")
    val spark = pos.sparkSession
    import spark.implicits._
    val aDf = phrases.map { case (pid, ts) =>
      (pid, ts.head, (ts.length - 1).toLong) }
      .toDF("phrase_id", "term", "n_other")
    val oDf = phrases.flatMap { case (pid, ts) => ts.tail.map(t => (pid, t)) }
      .toDF("phrase_id", "term")
    val anchors = pos.join(broadcast(aDf), Seq("term"))
      .select(col("phrase_id"), col("doc_id"), col("pos").as("p"),
        col("n_other"))
      .withColumn("ab", floor(col("p") / w))
      .withColumn("nb", explode(array(col("ab") - 1, col("ab"), col("ab") + 1)))
    val others = pos.join(broadcast(oDf), Seq("term"))
      .select(col("phrase_id"), col("doc_id"), col("term"),
        col("pos").as("q"), floor(col("pos") / w).as("nb"))
    val matched = anchors.join(others, Seq("phrase_id", "doc_id", "nb"))
      .filter(abs(col("q") - col("p")) <= w)
      .groupBy("phrase_id", "doc_id", "p", "n_other")
      .agg(countDistinct("term").as("nt"))
      .filter(col("nt") === col("n_other"))
    matched.groupBy("phrase_id", "doc_id")
      .agg(count(lit(1)).as("n_occ"))
      .withColumn("rk", row_number().over(Window.partitionBy("phrase_id")
        .orderBy(col("n_occ").desc, col("doc_id"))))
      .filter(col("rk") <= k)
      .select(col("phrase_id"), col("doc_id"), col("n_occ"),
        col("rk").cast("bigint").as("rk"))
  }

  /** KWIC SNIPPET EXTRACTION — search-result highlighting as a relational
    * op: every occurrence of ANY query term is a candidate anchor, scored
    * by how many DISTINCT query terms fall within ±w of it (the anchor
    * itself included — symmetric window coverage, unlike
    * [[proximityTopK]]'s first-term-anchored ALL-terms predicate); each
    * doc's best anchor (max coverage, then lowest position) yields its
    * snippet — the [p−w, p+w] token window reassembled in order — and
    * docs rank per query by (coverage desc, doc_id), keep k.
    *
    * Scale shape: the term hits are index-prunable posting lists; scoring
    * is the [[proximityTopK]] bucketed equi-join (never a range join);
    * the best anchor reduces through a partial-aggregated lexicographic
    * `min(struct(−nt, p))` hash agg (no per-doc window over anchors); the
    * snippet fetch explodes only the k survivors' 2w+1 positions into one
    * (doc, pos) equi-join back to the postings. */
  def snippetTopK(docs: DataFrame, phrases: Seq[(Int, Seq[String])],
      w: Int, k: Int): DataFrame = {
    val tok = positionalPostings(docs)
    snippetRank(tok, tok, phrases, w, k)
  }

  /** [[snippetTopK]] over the persisted positional index: anchor scoring
    * reads only the query terms' pruned buckets; the window fetch reads
    * the positional table itself (it must — snippets carry NON-query
    * tokens) but as a columnar (doc_id, pos, term) scan probed by the k
    * survivors' exploded positions, never a corpus re-tokenize.
    * PhraseScale measured the one-shot snippet wall growing 9.3× at ×64
    * corpus; this path re-uses the index both ways. */
  def snippetTopKIndexed(spark: SparkSession, indexPath: String,
      phrases: Seq[(Int, Seq[String])], w: Int, k: Int): DataFrame = {
    val (pruned, all) = prunedPositions(spark, indexPath, phrases.flatMap(_._2))
    snippetRank(pruned, all, phrases, w, k)
  }

  private def snippetRank(hitTok: DataFrame, fetchTok: DataFrame,
      phrases: Seq[(Int, Seq[String])], w: Int, k: Int): DataFrame = {
    require(w >= 1, s"window must be >= 1 (got $w)")
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(phrases.nonEmpty, "need at least one phrase")
    require(phrases.forall(_._2.nonEmpty), "phrases must be non-empty")
    val spark = hitTok.sparkSession
    import spark.implicits._
    val pt = phrases.flatMap { case (pid, ts) => ts.distinct.map(t => (pid, t)) }
      .toDF("phrase_id", "term")
    val hits = hitTok.join(broadcast(pt), Seq("term"))
      .select(col("phrase_id"), col("doc_id"), col("term"), col("pos"))
    val anchors = hits.select(col("phrase_id"), col("doc_id"),
        col("pos").as("p"))
      .withColumn("ab", floor(col("p") / w))
      .withColumn("nb", explode(array(col("ab") - 1, col("ab"), col("ab") + 1)))
    val cands = hits.select(col("phrase_id"), col("doc_id"), col("term"),
      col("pos").as("q"), floor(col("pos") / w).as("nb"))
    val scored = anchors.join(cands, Seq("phrase_id", "doc_id", "nb"))
      .filter(abs(col("q") - col("p")) <= w)
      .groupBy("phrase_id", "doc_id", "p")
      .agg(countDistinct("term").as("nt"))
    val best = scored
      .groupBy("phrase_id", "doc_id")
      .agg(min(struct((-col("nt")).as("negnt"), col("p"))).as("m"))
      .select(col("phrase_id"), col("doc_id"),
        (-col("m.negnt")).as("n_terms"), col("m.p").as("p"))
    val ranked = best.withColumn("rk", row_number().over(
        Window.partitionBy("phrase_id")
          .orderBy(col("n_terms").desc, col("doc_id"))))
      .filter(col("rk") <= k)
    val win = ranked.select(col("phrase_id"), col("doc_id"), col("p"),
      explode(sequence(greatest(col("p") - w, lit(0)), col("p") + w)).as("pos"))
    // win is provably ≤ |phrases|·k·(2w+1) rows — force the broadcast so
    // the corpus-sized positional scan never shuffles for the fetch
    // (Catalyst can't size a window-derived frame on its own)
    val snip = broadcast(win).join(
        fetchTok.select(col("doc_id"), col("pos"), col("term")),
        Seq("doc_id", "pos"))
      .groupBy("phrase_id", "doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("term")))),
        x => x.getField("term")), " ").as("snippet"))
    ranked.join(snip, Seq("phrase_id", "doc_id"))
      .select(col("phrase_id"), col("doc_id"),
        col("p").cast("bigint").as("best_pos"), col("n_terms"),
        col("snippet"), col("rk").cast("bigint").as("rk"))
  }

  /** Persist the positional index — an [[IndexStore]] of kind POSITIONAL:
    * (doc_id, pos, term) hash-partitioned by term bucket in the
    * `positions` store, the [[bm25WriteIndex]] pruning discipline applied
    * to positions, with `n_buckets` in the manifest. */
  def phraseWriteIndex(docs: DataFrame, path: String,
      nBuckets: Int = 64): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1 (got $nBuckets)")
    val ch = IndexStore.rebuild(docs.sparkSession, path, POSITIONAL)
    positionalPostings(docs)
      .withColumn("tb", pmod(hash(col("term")), lit(nBuckets)))
      .write.partitionBy("tb").parquet(ch.fresh("positions"))
    ch.commit(0L, consts = Map("n_buckets" -> nBuckets.toString))
  }

  /** INCREMENTAL POSITIONAL INGEST — the [[bm25AddBatch]] counterpart for
    * the phrase/proximity/snippet index. Positional state is purely
    * per-document (doc_id, pos, term), so a new batch is ONE
    * bucket-partitioned append; no stats fold is needed (n_buckets is a
    * manifest constant). Batches commute and any batch split probes
    * identically to the one-shot build (RetrievalSpec pins it). Same
    * unique-doc_id single-writer contract as [[bm25AddBatch]]. */
  def phraseAddBatch(batch: DataFrame, path: String): Unit = {
    val ch = IndexStore.change(batch.sparkSession, path, POSITIONAL)
    positionalPostings(batch)
      .withColumn("tb", pmod(hash(col("term")), lit(ch.base.int("n_buckets"))))
      .write.mode("append").partitionBy("tb").parquet(ch.dir("positions"))
    ch.commit(ch.gen)
  }

  /** [[bm25CompactIndex]]'s positional counterpart — positional state is
    * purely per-document, so compaction is one partitioned rewrite
    * folding each bucket's batch files into one fresh dir, replaced in
    * one commit (results identical; q386 probes across it). */
  def phraseCompactIndex(spark: SparkSession, path: String): Unit = {
    val ch = IndexStore.change(spark, path, POSITIONAL, compaction = true)
    IndexStore.rel(spark, ch.base, "positions")
      .repartition(ch.base.int("n_buckets"), col("tb"))
      .write.partitionBy("tb").parquet(ch.fresh("positions"))
    ch.commit(ch.base.gen)
  }

  /** Probe the positional index: identical results to [[phraseTopK]], but
    * the positions scan partition-prunes to the phrase terms' buckets
    * (static IN on `tb`, the [[bm25TopKIndexed]] contract) — probe cost
    * scales with the probed posting lists, never the corpus. */
  def phraseTopKIndexed(spark: SparkSession, indexPath: String,
      phrases: Seq[(Int, Seq[String])], k: Int): DataFrame =
    phraseRank(
      prunedPositions(spark, indexPath, phrases.flatMap(_._2))._1,
      phraseTermsDf(spark, phrases), k)

  /** RRF hybrid retrieval over the persisted BM25 index: lexical top-n
    * ([[bm25TopKIndexed]], partition-pruned probe) fused with the dense
    * cosine top-n ([[anchorTopK]]) by [[rrfFuse]]; per-list ranks surface
    * as bm25_rk / cos_rk (NULL where the doc missed that list). */
  def rrfHybridIndexed(spark: SparkSession, indexPath: String,
      emb: DataFrame, queries: Seq[(Int, Seq[String])],
      queryVec: Map[Int, Long], n: Int, k: Int, k0: Int = 60): DataFrame = {
    require(k >= 1 && n >= k, s"need n >= k >= 1 (got $n, $k)")
    require(queries.forall(q => queryVec.contains(q._1)),
      "every query needs an anchor vector id in queryVec")
    val bm = bm25TopKIndexed(spark, indexPath, queries, n)
      .select(col("query_id"), col("doc_id"), col("rk"))
    val cs = anchorTopK(emb, queryVec, n)
      .select(col("query_id"), col("doc_id"), col("rk"))
    rrfFuse(Seq(bm, cs), k, k0)
      .withColumnRenamed("rk_0", "bm25_rk")
      .withColumnRenamed("rk_1", "cos_rk")
  }
}
