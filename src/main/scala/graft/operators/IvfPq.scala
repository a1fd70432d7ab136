package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF-PQ (IVFADC): the inverted-file coarse quantizer of
  * [[AnnSearch.ivfTopK]] composed with the product-quantization codes of
  * [[PqAnn]] — the standard billion-scale ANN architecture (Jégou, Douze,
  * Schmid — TPAMI 2011, §IV "IVFADC"; what FAISS ships as `IndexIVFPQ`).
  * IVF alone still reads full vectors inside each probed list; PQ alone
  * still scans every code. Composed, a probe touches `nprobe/nlist` of the
  * corpus AND each touched row costs `m` table lookups over codes that are
  * ~`dim·4/m` times smaller than the vectors — the two savings multiply,
  * which is why this is the shape that survives 100 TB.
  *
  * Pipeline (all int64-quantized arithmetic, the q45/q347 discipline, so
  * the DuckDB oracle replays every stage bit-exactly):
  *   1. coarse codebook — stride-derived centroids, the
  *      [[AnnSearch.ivfTopK]] contract (O(nlist) collected once); corpus
  *      rows assign to their argmax-dot centroid (ties → lower cent_id).
  *   2. residual PQ codebook — centroid `j` of subspace `mi` is the
  *      RESIDUAL (vector − its coarse centroid) of the corpus row with
  *      `id == j*pqStride`, sliced to subspace `mi`. Residuals, not raw
  *      vectors: after coarse assignment the residual energy is what is
  *      left to encode (IVFADC's defining choice).
  *   3. encode — one compiled pass per corpus row: coarse argmax, residual,
  *      per-subspace argmin-L2 code (ties → smaller j), and the
  *      reconstructed-vector norm² `|c_a + ĉ(r)|²` (exact int64, computed
  *      from the actual reconstruction). No shuffle.
  *   4. ADC scan — queries broadcast (bounded, the [[AnnSearch.bruteTopK]]
  *      contract) carrying their top-`nprobe` coarse lists and the exact
  *      `dot(q, c_a)` per probed list; each task builds per-query residual
  *      lookup tables `lut(mi)(j) = dot(q_mi, r̂_mi_j)` once, then streams
  *      its corpus split scoring ONLY rows whose list some query probed:
  *      `approx = dot(q, c_a) + Σ_mi lut(mi)(code(mi)) = dot(q, x̂)`,
  *      normalized by `sqrt(qn²·rn²)`. Shuffle-free; the score matrix never
  *      materializes ([[AnnSearch.partitionTopK]] bounded heaps).
  *   5. exact rescore — the shortlist joins back to the true vectors; the
  *      reported score is exact cosine (approximation decides WHO is
  *      rescored, never the score), (cos desc, cid) total order, 6-dp
  *      rounding.
  *
  * With every list probed and an unbounded shortlist this degenerates to
  * [[AnnSearch.bruteTopK]] exactly (spec-asserted) — the approximation is
  * ONLY the candidate pruning, so recall tunes with `nprobe` and
  * `shortlist` while reported scores stay exact.
  *
  * The reference engine has no ANN surface — this is part of the
  * training-data pipeline pack (SURVEY.md §7 step 9).
  */
object IvfPq {

  private val KIND = "IVF_PQ"

  /** Id-bucket count of a new index's rescore vector store (the manifest
    * constant `vec_buckets`; the [[GraphAnn]] bucket discipline). */
  private val VEC_BUCKETS = 16

  /** Coarse centroids + residual PQ codebook, both broadcast-sized. */
  private[operators] final case class Book(
      coarse: Array[(Long, Array[Long])], // (cent_id, vector), sorted
      cents: Array[Array[Array[Long]]],   // cents(mi)(j) = residual subvector
      ds: Int) {
    def m: Int = cents.length
    def ncent: Int = cents.head.length
    /** argmax-dot coarse assignment, ties → lower cent_id (the
      * [[AnnSearch]] `assign` order). Returns the coarse INDEX. */
    def assignCoarse(v: Array[Long]): Int = {
      var best = 0; var bestD = Long.MinValue
      var a = 0
      while (a < coarse.length) {
        val c = coarse(a)._2
        val n = math.min(v.length, c.length)
        var acc = 0L; var i = 0
        while (i < n) { acc += v(i) * c(i); i += 1 }
        if (acc > bestD) { bestD = acc; best = a }
        a += 1
      }
      best
    }
  }

  private def dot(a: Array[Long], b: Array[Long], aOff: Int, n: Int): Long = {
    var acc = 0L; var i = 0
    while (i < n) { acc += a(aOff + i) * b(i); i += 1 }
    acc
  }

  /** Residual vectors (v − coarse(v)) under a fixed coarse book — the
    * training input for the residual PQ codebook (IVFADC encodes residuals,
    * so the codebook must be trained on residuals; Jégou et al. §IV.A). */
  private def residualVecs(cc: DataFrame,
      bk: org.apache.spark.broadcast.Broadcast[Book]): DataFrame = {
    val spark = cc.sparkSession
    import spark.implicits._
    cc.as[(Long, Seq[Long], Long)].mapPartitions { it =>
      val b = bk.value
      it.map { case (id, e, _) =>
        val v = e.toArray
        val c = b.coarse(b.assignCoarse(v))._2
        (id, Array.tabulate(v.length)(i => v(i) - c(i)).toSeq)
      }
    }.toDF("id", "qe")
  }

  private def collectBook(qc: DataFrame, centroidStride: Int, m: Int,
      ncent: Int, pqStride: Int, pqIters: Int = 0): Book = {
    val spark = qc.sparkSession
    import spark.implicits._
    val coarse = qc.filter(col("id") % centroidStride === 0)
      .select(col("id"), col("qe")).as[(Long, Seq[Long])]
      .collect().map { case (i, e) => (i, e.toArray) }.sortBy(_._1)
    require(coarse.nonEmpty,
      s"centroidStride=$centroidStride selects no corpus row — an empty " +
        "coarse codebook would silently return zero results")
    val pqRows = qc
      .filter(col("id") % pqStride === 0 && col("id") < ncent.toLong * pqStride)
      .select(col("id"), col("qe")).as[(Long, Seq[Long])]
      .collect().sortBy(_._1)
    require(pqRows.length == ncent,
      s"PQ codebook wants $ncent rows with id % $pqStride == 0 below " +
        s"${ncent.toLong * pqStride}, got ${pqRows.length}")
    val dim = pqRows.head._2.length
    require(dim % m == 0, s"dim=$dim is not divisible into m=$m subspaces")
    val ds = dim / m
    val pre = Book(coarse, Array.fill(1)(Array.fill(1)(Array.empty[Long])), ds)
    // residual of each codebook row under ITS coarse assignment
    val resid = pqRows.map { case (_, e) =>
      val v = e.toArray
      val c = coarse(pre.assignCoarse(v))._2
      Array.tabulate(dim)(i => v(i) - c(i))
    }
    val cents = Array.tabulate(m, ncent)((mi, j) =>
      resid(j).slice(mi * ds, mi * ds + ds))
    val base = Book(coarse, cents, ds)
    if (pqIters == 0) base
    else {
      // refine the stride residual codebook with per-subspace Lloyd over
      // the ACTUAL residual distribution (coarse book stays fixed — q274
      // already proved coarse k-means; this trains the other half)
      val spark = qc.sparkSession
      val bk = spark.sparkContext.broadcast(base)
      try {
        val trained = PqAnn.lloydSubspaces(residualVecs(qc, bk), cents, ds, pqIters)
        Book(coarse, trained, ds)
      } finally bk.destroy() // interim book: lloydSubspaces has consumed it
    }
  }

  /** IVFADC top-k with exact rescore. `queries`/`corpus`: (id, embedding). */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      centroidStride: Int, nprobe: Int,
      m: Int = 16, ncent: Int = 16, pqStride: Int = 7,
      shortlist: Int = 64, pqIters: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    val cc = AnnSearch.quantized(corpus)
    val book = spark.sparkContext.broadcast(
      collectBook(cc, centroidStride, m, ncent, pqStride, pqIters))
    probeEncoded(queries, encodeAll(cc, book), book, k, nprobe, shortlist,
      ids =>
        if (ids.length <= Stores.ID_CAP && ids.nonEmpty)
          AnnSearch.quantized(corpus.filter(col("id").isin(ids.toSeq: _*)))
        else AnnSearch.quantized(corpus))
  }

  /** A built IVF-PQ index — an [[IndexStore]] of kind IVF_PQ at `path`
    * (stores `lists` by coarse list, `book`, id-bucketed `vectors`,
    * `tombstones`) plus the broadcast book: the `faiss.write_index`
    * analog. Probes read the latest manifest. */
  final class IvfPqIndex private[IvfPq] (
      val path: String,
      private[IvfPq] val book: org.apache.spark.broadcast.Broadcast[Book])

  /** TRAIN step of the FAISS lifecycle (`index.train(sample)`): derive the
    * coarse + residual codebooks from `sample` and FREEZE them into the
    * `book` store (coarse rows + per-subspace residual centroids, two
    * tiny parquet files). Every later [[addBatch]] encodes against this
    * frozen book — which is exactly what makes incremental ingest
    * order-independent and bit-equal to a one-shot build: codes are a pure
    * per-row function of (vector, book). Replaces any index at `path` at
    * its commit. */
  def trainIndex(sample: DataFrame, path: String, centroidStride: Int,
      m: Int = 16, ncent: Int = 16, pqStride: Int = 7,
      pqIters: Int = 0): Unit =
    build(sample, None, path, centroidStride, m, ncent, pqStride, pqIters)

  /** Train on `sample`, add `batch` if given, commit once. */
  private def build(sample: DataFrame, batch: Option[DataFrame], path: String,
      centroidStride: Int, m: Int, ncent: Int, pqStride: Int,
      pqIters: Int): Book = {
    val spark = sample.sparkSession
    val ch = IndexStore.rebuild(spark, path, KIND)
    val book = collectBook(AnnSearch.quantized(sample),
      centroidStride, m, ncent, pqStride, pqIters)
    // the codebook is broadcast-sized driver state by construction —
    // write its two files driver-side ([[LocalParquet]]), not as two
    // coalesce(1) Spark jobs over local relations
    val dir = ch.fresh("book")
    LocalParquet.writeFile(spark, s"$dir/coarse/part-00000.parquet",
      Seq("cent_id" -> "long", "ce" -> "array<long>"),
      book.coarse.iterator.map { case (id, e) => Seq[Any](id, e.toSeq) })
    LocalParquet.writeFile(spark, s"$dir/pq/part-00000.parquet",
      Seq("mi" -> "int", "j" -> "int", "cent" -> "array<long>"),
      (for (mi <- 0 until book.m; j <- 0 until book.ncent)
        yield Seq[Any](mi, j, book.cents(mi)(j).toSeq)).iterator)
    batch.foreach(add(ch, _, book, VEC_BUCKETS))
    ch.commit(0L, consts = Map("vec_buckets" -> VEC_BUCKETS.toString))
    book
  }

  /** Load the frozen `book` store back into the broadcast-sized form.
    * O(nlist·dim + m·ncent·ds) — codebook-sized by construction. */
  private def loadBook(spark: org.apache.spark.sql.SparkSession,
      mt: IndexStore.Manifest): Book = {
    import spark.implicits._
    val coarse = IndexStore.rel(spark, mt, "book", "coarse")
      .as[(Long, Seq[Long])].collect()
      .map { case (i, e) => (i, e.toArray) }.sortBy(_._1)
    val pq = IndexStore.rel(spark, mt, "book", "pq")
      .as[(Int, Int, Seq[Long])].collect()
    val m = pq.map(_._1).max + 1
    val ncent = pq.map(_._2).max + 1
    val cents = Array.ofDim[Array[Long]](m, ncent)
    pq.foreach { case (mi, j, c) => cents(mi)(j) = c.toArray }
    Book(coarse, cents, cents(0)(0).length)
  }

  /** ADD step (`index.add(batch)`): encode the batch against the frozen
    * book and APPEND its codes to the inverted-list partitions. Each batch
    * writes one file per touched list (the build discipline AnnScale
    * surfaced: without the repartition every encode task writes a sliver
    * of every list — nlist × tasks small files); a list ingested in B
    * batches holds B files, still file-pruned as one partition at probe
    * time. Pure append — batches commute, and ingest order cannot change
    * any probe result because ranking is a deterministic total order over
    * per-row scores. */
  def addBatch(batch: DataFrame, path: String): Unit = {
    val spark = batch.sparkSession
    val ch = IndexStore.change(spark, path, KIND)
    add(ch, batch, loadBook(spark, ch.base), ch.base.int("vec_buckets"))
    ch.commit(ch.gen)
  }

  private def add(ch: IndexStore.Change, batch: DataFrame, bk: Book,
      vecBuckets: Int): Unit = {
    val spark = batch.sparkSession
    val cc = AnnSearch.quantized(batch)
    val book = spark.sparkContext.broadcast(bk)
    val (lists, vectors) = (ch.dir("lists"), ch.dir("vectors"))
    // the inverted-list append and the rescore vector-store append (the
    // GraphAnn/BinaryAnn posture: exact quantized vectors land id-bucketed
    // so [[probeIndex]]'s shortlist rescore is a partition-pruned point
    // fetch of the INDEX — a probe never needs the base table live) are
    // independent actions over disjoint dirs. Tombstoned rows may linger
    // in `vectors` (rescore only ever fetches live shortlisted ids), so
    // compaction need not rewrite it.
    //
    // SMALL batches ([[LocalParquet.writeSmall]]) write both stores
    // driver-side: the Spark-computed encode/quantize values land in the
    // identical one-file-per-touched-list / per-bucket layout with zero
    // shuffle and zero write jobs — a per-batch append was paying two
    // shuffles plus partitioned commits to move a few hundred rows.
    // Large batches keep the distributed form, overlapped.
    try {
      LocalParquet.writeSmall(encodeAll(cc, book)) { encLocal =>
        LocalParquet.writeBucketed(spark, lists, "cent_id",
          Seq("cid" -> "long", "codes" -> "array<int>", "rn2" -> "long"),
          encLocal.toSeq.map(r =>
            Seq[Any](r.getLong(0), r.getSeq[Int](2), r.getLong(3), r.getLong(1))),
          _(3).asInstanceOf[Long])
        LocalParquet.writeBucketed(spark, vectors, "bucket",
          Seq("id" -> "long", "qe" -> "array<long>", "n2" -> "long"),
          cc.collect().toSeq.map(r =>
            Seq[Any](r.getLong(0), r.getSeq[Long](1), r.getLong(2))),
          r => Math.floorMod(r.head.asInstanceOf[Long], vecBuckets.toLong))
      } {
        ParallelWrites.all(
          () => encodeAll(cc, book)
            .repartition(col("cent_id")).write.mode("append")
            .partitionBy("cent_id").parquet(lists),
          () => cc.withColumn("bucket", pmod(col("id"), lit(vecBuckets.toLong)))
            .repartition(vecBuckets, col("bucket"))
            .write.mode("append").partitionBy("bucket").parquet(vectors))
      }
    }
    // the writes are the terminal actions — the per-batch book broadcast
    // is dead after them; without this a long ingest session leaks one
    // book per addBatch call
    finally book.destroy()
  }

  /** Open a persisted index for probing (the `faiss.read_index` analog). */
  def openIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): IvfPqIndex =
    new IvfPqIndex(path, spark.sparkContext.broadcast(
      loadBook(spark, IndexStore.open(spark, path, KIND))))

  /** REMOVE step (`index.remove_ids` — FAISS `IndexIVF.remove_ids`): LSM
    * tombstones ([[IndexStore]]'s format), applied as an anti-join before
    * the ADC scan so removed rows never shortlist — the same
    * mask-then-compact discipline as the KV handler and the merge-on-read
    * DML. FAISS compacts its inverted lists in place on remove; here the
    * rewrite is deferred to [[compactIndex]] so a delete is O(ids), not
    * O(index). Contract: ids are unique per index lifetime — re-adding a
    * removed id without compacting first stays masked (document-id reuse
    * is a corpus bug, not an index feature). */
  def removeIds(ids: DataFrame, path: String): Unit = {
    require(ids.columns.length == 1,
      s"removeIds wants a single id column, got (${ids.columns.mkString(", ")})" +
        " — select the id explicitly; silently taking the first column of a" +
        " wide frame would tombstone the wrong values")
    val ch = IndexStore.change(ids.sparkSession, path, KIND)
    // a delete is O(ids) by contract — small batches write their
    // tombstone file driver-side, anything else keeps the Spark append
    IndexStore.addTombstones(ch, ids.select(col(ids.columns.head).cast("long").as("id")))
    ch.commit(ch.gen)
  }

  /** Compaction: physically drop tombstoned codes from every inverted list
    * and clear the tombstones — one distributed anti-join + partitioned
    * rewrite into a fresh `lists` dir (no driver materialization),
    * committed together with the tombstones' removal, after which probes
    * pay zero mask cost again. Probe results are identical before and
    * after (spec-pinned). */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val ch = IndexStore.change(spark, path, KIND, compaction = true)
    IndexStore.tombstones(spark, ch.base).foreach { t =>
      val kept = IndexStore.rel(spark, ch.base, "lists")
        .select("cid", "cent_id", "codes", "rn2")
        .join(t.select(col("id").as("cid")), Seq("cid"), "left_anti")
      val compact = ch.fresh("lists")
      if (kept.isEmpty)
        // tombstones covered every row: partitionBy over zero rows writes
        // NO data file and the next open would die on parquet schema
        // inference — write the empty frame unpartitioned instead (cent_id
        // stays a real column, so the footer carries the full schema and
        // probes return zero rows cleanly)
        kept.write.parquet(compact)
      else
        kept.repartition(col("cent_id")).write
          .partitionBy("cent_id").parquet(compact)
      ch.drop(IndexStore.TOMBS)
    }
    ch.commit(ch.base.gen)
  }

  /** One-shot build = train on the full corpus + add it as one batch, in
    * one commit — the production cost model: the encode pass (corpus ×
    * nlist coarse argmax + corpus × m×ncent residual argmin) is paid at
    * ingest, while each query batch pays only its probes. Same on-disk
    * layout as incremental ingest ([[trainIndex]]/[[addBatch]]), so
    * [[probeIndex]] serves both and equality is structural (and still
    * spec-pinned). */
  def buildIndex(corpus: DataFrame, path: String, centroidStride: Int,
      m: Int = 16, ncent: Int = 16, pqStride: Int = 7,
      pqIters: Int = 0): IvfPqIndex =
    new IvfPqIndex(path, corpus.sparkSession.sparkContext.broadcast(build(
      corpus, Some(corpus), path, centroidStride, m, ncent, pqStride, pqIters)))

  /** Probe a built index: partition-pruned ADC scan of the probed lists +
    * exact rescore against `corpus` (the caller's vector table). Results
    * are identical to [[ivfPqTopK]] with the same parameters
    * (spec-pinned). */
  def probeIndex(queries: DataFrame, corpus: DataFrame, index: IvfPqIndex,
      k: Int, nprobe: Int, shortlist: Int = 64): DataFrame =
    probeWithFetch(queries, index, k, nprobe, shortlist, _ => ids =>
      // past ID_CAP literals an InSet stops being obviously cheap; a
      // wider shortlist (the brute-equivalence spec's ∞) falls back to
      // the full corpus scan
      if (ids.length <= Stores.ID_CAP && ids.nonEmpty)
        AnnSearch.quantized(corpus.filter(col("id").isin(ids.toSeq: _*)))
      else AnnSearch.quantized(corpus))

  /** SELF-CONTAINED probe — rescore vectors come from the index's own
    * id-bucketed `vectors` store ([[addBatch]] writes it), so the base
    * table can be dropped after ingest and the probe still runs: the
    * shortlist fetch is a bucket-partition-pruned point read of the
    * store, never a corpus scan. Identical results to the corpus-fed
    * [[probeIndex]] by construction (same codes, same exact vectors —
    * spec-pinned). */
  def probeIndex(queries: DataFrame, index: IvfPqIndex,
      k: Int, nprobe: Int, shortlist: Int): DataFrame =
    probeWithFetch(queries, index, k, nprobe, shortlist, mt => ids =>
      Stores.fetchIds(IndexStore.rel(queries.sparkSession, mt, "vectors"),
        "id", ids, mt.int("vec_buckets")).select("id", "qe", "n2"))

  private def probeWithFetch(queries: DataFrame, index: IvfPqIndex, k: Int,
      nprobe: Int, shortlist: Int,
      fetchAt: IndexStore.Manifest => Array[Long] => DataFrame): DataFrame = {
    val spark = queries.sparkSession
    val mt = IndexStore.open(spark, index.path, KIND)
    val encoded0 = IndexStore.rel(spark, mt, "lists")
      .select("cid", "cent_id", "codes", "rn2") // partition col re-ordered
    // tombstone mask ([[removeIds]]): removed rows never reach the ADC
    // scan, so they cannot shortlist or surface; the delete set is
    // O(removals) and AQE broadcasts it under the anti-join
    val encoded = IndexStore.tombstones(spark, mt).fold(encoded0)(t =>
      encoded0.join(t.select(col("id").as("cid")), Seq("cid"), "left_anti"))
    probeEncoded(queries, encoded, index.book, k, nprobe, shortlist,
      fetchAt(mt))
  }

  /** Encode: (cid, coarse cent_id, codes, reconstructed norm²). One
    * compiled pass, no shuffle. */
  private def encodeAll(cc: DataFrame,
      book: org.apache.spark.broadcast.Broadcast[Book]): DataFrame = {
    val spark = cc.sparkSession
    import spark.implicits._
    cc.as[(Long, Seq[Long], Long)].mapPartitions { it =>
      val bk = book.value
      it.map { case (id, e, _) =>
        val v = e.toArray
        val a = bk.assignCoarse(v)
        val cvec = bk.coarse(a)._2
        val codes = new Array[Int](bk.m)
        var rn2 = 0L
        var mi = 0
        while (mi < bk.m) {
          val off = mi * bk.ds
          var best = 0; var bestD = Long.MaxValue
          var j = 0
          while (j < bk.ncent) {
            val c = bk.cents(mi)(j)
            var d = 0L; var i = 0
            while (i < bk.ds) {
              val diff = (v(off + i) - cvec(off + i)) - c(i); d += diff * diff
              i += 1
            }
            if (d < bestD) { bestD = d; best = j }
            j += 1
          }
          codes(mi) = best
          // reconstruction x̂ = coarse + chosen residual centroid, exact
          val c = bk.cents(mi)(best)
          var i = 0
          while (i < bk.ds) {
            val x = cvec(off + i) + c(i); rn2 += x * x; i += 1
          }
          mi += 1
        }
        (id, bk.coarse(a)._1, codes, rn2)
      }
    }.toDF("cid", "cent_id", "codes", "rn2")
  }

  /** Shared probe tail: probe-set selection, ADC scan of the probed lists
    * (pre-filtered with a static IN — a partition-pruned file skip when
    * `encoded` comes off a `partitionBy(cent_id)` index), shortlist, exact
    * rescore. */
  private def probeEncoded(queries: DataFrame,
      encoded0: DataFrame,
      book: org.apache.spark.broadcast.Broadcast[Book],
      k: Int, nprobe: Int, shortlist: Int,
      fetchQuantized: Array[Long] => DataFrame): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    // probe set: per query, top-nprobe coarse lists by (dot desc,
    // cent_id asc) WITH the exact dot(q, c) each probe needs for ADC.
    val qArr = AnnSearch.quantized(queries)
      .select(col("id"), col("qe"), col("n2")).as[(Long, Seq[Long], Long)]
      .collect().map { case (id, e, n2) =>
        val v = e.toArray
        val probes = book.value.coarse
          .map { case (centId, c) => (centId, dot(v, c, 0, math.min(v.length, c.length))) }
          .sortBy { case (centId, d) => (-d, centId) }
          .take(nprobe)
        (id, v, n2, probes.map(_._1).toSet, probes.toMap)
      }
    val bq = spark.sparkContext.broadcast(qArr)
    // lists nobody probes never leave the scan (semantically a no-op — the
    // per-row probed.contains check below re-verifies per query)
    val allProbed = qArr.iterator.flatMap(_._4).toSet.toSeq
    val encoded = encoded0.filter(col("cent_id").isin(allProbed: _*))

    val approx = encoded.as[(Long, Long, Seq[Int], Long)].mapPartitions { it =>
      val bk = book.value
      val qs = bq.value
      val luts = qs.map { case (_, qv, _, _, _) =>
        Array.tabulate(bk.m, bk.ncent)((mi, j) =>
          dot(qv, bk.cents(mi)(j), mi * bk.ds, bk.ds))
      }
      it.flatMap { case (cid, centId, codesSeq, rn2) =>
        val codes = codesSeq.toArray
        qs.iterator.zipWithIndex.collect {
          case ((qid, _, qn2, probed, qdotc), qi)
              if qid != cid && probed.contains(centId) =>
            val lut = luts(qi)
            var adc = qdotc(centId); var mi = 0
            while (mi < bk.m) { adc += lut(mi)(codes(mi)); mi += 1 }
            val denom = math.sqrt(qn2.toDouble * rn2.toDouble)
            val score = if (denom == 0.0d) -1.0d else adc.toDouble / denom
            (qid, cid, score)
        }
      }
    }.toDF("qid", "cid", "cos")

    // the shortlist is bounded (|queries| × shortlist) — materialize it once
    // so the exact-rescore fetch can push the id set into the corpus scan
    // instead of deserializing the WHOLE corpus to serve a few thousand
    // lookups (the vector-store point-fetch a production rescore does)
    val shortRows = AnnSearch.partitionTopK(approx, shortlist)
      .groupBy("qid", "cid").agg(max("cos").as("adc")) // merge partition heaps
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("adc").desc, col("cid"))))
      .filter(col("rn") <= shortlist)
      .select("qid", "cid").as[(Long, Long)].collect()
    val short = spark.createDataFrame(shortRows.toSeq.map(p => (p._1, p._2)))
      .toDF("qid", "cid")
    val ids = shortRows.map(_._2).distinct
    val fetch = fetchQuantized(ids)

    // 5. exact rescore of the shortlist only
    val qq = AnnSearch.quantized(queries)
    val scored = short
      .join(fetch.select(col("id").as("cid"), col("qe").as("ce"), col("n2").as("cn")), "cid")
      .join(broadcast(qq.select(col("id").as("qid"), col("qe"), col("n2").as("qn"))), "qid")
      .withColumn("cos", coalesce(
        AnnSearch.dotI64(col("qe"), col("ce")).cast("double") /
          sqrt(col("qn").cast("double") * col("cn").cast("double")), lit(-1.0)))
    AnnSearch.rankTopK(scored, k)
  }
}
