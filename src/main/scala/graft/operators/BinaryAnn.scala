package graft.operators

import graft.functions.HammingBits
import org.apache.spark.sql.graftshim.{ColumnBridge => CB}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 1-bit binary embedding codec + Hamming-shortlist search — the
  * faiss `IndexBinaryFlat` (+ exact refine) analog, the last codec tier of
  * the index family below [[Int8Quantize]] (8 bit) and
  * [[ScalarQuantizer]] (trained 8 bit):
  *
  *   bit_i = (x_i > 0)          — sign binarization, 1 bit/dim
  *   dist(q, c) = popcount(q ⊕ c)   — Hamming over the packed codes
  *
  * A 64-dim float32 embedding is 256 bytes; its binary code is 8 — a 32×
  * cut, and the Hamming scan reads ONE long's worth of data per candidate
  * through the codegen'd [[graft.functions.HammingBits]] kernel. That is
  * the scale story: at 100 TB the binary sketch of the whole corpus is
  * ~3 TB, cheap enough to scan (or LSH-bucket) as a first stage, and the
  * exact int64-cosine rescore then touches only |queries| × shortlist
  * full-width rows. Sign-of-coordinate IS a valid SimHash family (each
  * coordinate axis is a "random" hyperplane), so Hamming distance is a
  * monotone estimator of angular distance — the same math as
  * [[Dedup]]'s text SimHash, applied to dense vectors.
  *
  * Determinism: binarization compares the exact float→double value with
  * 0 (no rounding anywhere), Hamming is integer, and every rank breaks
  * ties on candidate id — so the DuckDB oracle replays sign split →
  * Hamming shortlist → exact rescore bit-for-bit (q368). The packed
  * REPRESENTATION is engine-local (the oracle counts sign mismatches
  * per dimension; this code popcounts packed bytes) — equality of the
  * resulting distances on every pair is exactly the packing proof.
  *
  * The reference engine has no vector surface at all — this extends the
  * training-data pipeline pack (SURVEY.md §7 step 9).
  */
object BinaryAnn {

  def hammingBits(a: Column, b: Column): Column =
    CB.column(HammingBits(CB.expression(a), CB.expression(b)))

  /** Pack one embedding's sign bits little-endian: bit (i & 7) of byte
    * (i >> 3) is set iff x_i > 0. Trailing pad bits of the last byte stay
    * 0 on BOTH sides of any XOR, so they never contribute to a distance. */
  private[operators] def packRow(e: Seq[Float]): Array[Byte] = {
    val out = new Array[Byte]((e.length + 7) >> 3)
    var i = 0
    while (i < e.length) {
      if (e(i) > 0f) out(i >> 3) = (out(i >> 3) | (1 << (i & 7))).toByte
      i += 1
    }
    out
  }

  /** (id, code, nbits): packed sign code + its popcount, one compiled map
    * pass over (id, embedding) — the write-time encode, like
    * [[Int8Quantize.encode]]. */
  def encode(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("id"), col("embedding")).as[(Long, Seq[Float])]
      .mapPartitions(_.map { case (id, e) =>
        val code = packRow(e)
        var nbits = 0L
        var i = 0
        while (i < code.length) {
          nbits += java.lang.Integer.bitCount(code(i) & 0xff); i += 1
        }
        (id, code, nbits)
      })
      .toDF("id", "code", "nbits")
  }

  /** Per-vector codec report (the oracle-checkable packing surface):
    * stored bytes and the positive-dimension count, which MUST equal the
    * packed code's popcount — DuckDB derives it from the raw embedding,
    * this engine from the packed bytes, so agreement proves the packing
    * dropped or duplicated no dimension. */
  def stats(df: DataFrame): DataFrame =
    encode(df).select(col("id").as("vec_id"),
      length(col("code")).cast("bigint").as("n_bytes"),
      col("nbits").as("n_pos"))

  /** Two-stage binary ANN: Hamming top-`shortlist` over the packed codes
    * (ties → lower cid), then exact int64-cosine rescore of the shortlist
    * and the usual (cos desc, cid) top-`k`. Output (qid, cid, rk, hamming,
    * cos) — the shortlist distance rides along so the cheap stage is
    * checked end-to-end, not just through its survivors.
    *
    * Scale shape: queries broadcast twice (codes — bytes, then quantized
    * vectors — for the rescore); the corpus streams ONCE per stage (binary
    * scan, then an id-pruned fetch of shortlist rows only); candidates
    * reduce through [[AnnSearch.partitionTopK]] bounded heaps both times.
    * No corpus shuffle anywhere. */
  def hammingTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must cover k=$k")
    val cb = encode(corpus).select(col("id"), col("code"))
    val c = AnnSearch.quantized(corpus)
      .select(col("id").as("cid"), col("qe").as("ce"), col("n2").as("cn"))
    rescoreTopK(queries, hammingShort(queries, cb, shortlist), c, k)
  }

  /** The Hamming shortlist stage, shared by the one-shot and indexed
    * paths (one implementation is what makes their result parity "by
    * construction" rather than by hand-synchronized copies): top-
    * `shortlist` per query under (hamming asc, cid asc), over an
    * (id, code) frame. Separated so its plan shape is testable: for the
    * indexed path the scan under it must read ONLY the (id, code)
    * columns of the index parquet (BinaryAnnSpec asserts the
    * ReadSchema). */
  private[graft] def hammingShort(queries: DataFrame, codes: DataFrame,
      shortlist: Int): DataFrame = {
    val cb = codes.select(col("id").as("cid"), col("code").as("cc"))
    val qb = encode(queries).select(col("id").as("qid"), col("code").as("qc"))
    // heap stage runs on NEGATED distance so the shared (score desc, cid)
    // bounded-heap order yields (hamming asc, cid asc)
    val ham = cb.join(broadcast(qb), col("qid") =!= col("cid"))
      .withColumn("cos", -hammingBits(col("qc"), col("cc")).cast("double"))
      .select("qid", "cid", "cos")
    AnnSearch.partitionTopK(ham, shortlist)
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))))
      .filter(col("rn") <= shortlist)
      .select(col("qid"), col("cid"), (-col("cos")).cast("bigint").as("hamming"))
  }

  /** Shared exact-rescore tail: score the (qid, cid, hamming) shortlist
    * against the (cid, ce, cn) full-vector frame with the family's
    * int64-exact cosine and rank top-`k` under (cos desc, cid). */
  private def rescoreTopK(queries: DataFrame, short: DataFrame,
      c: DataFrame, k: Int): DataFrame = {
    val q = AnnSearch.quantized(queries)
      .select(col("id").as("qid"), col("qe"), col("n2").as("qn"))
    val scored = short.join(c, "cid").join(broadcast(q), "qid")
      .withColumn("cos", coalesce(
        AnnSearch.dotI64(col("qe"), col("ce")).cast("double") /
          sqrt(col("qn").cast("double") * col("cn").cast("double")),
        lit(-1.0)))
    AnnSearch.partitionTopK(scored.select("qid", "cid", "cos"), k)
      .join(short, Seq("qid", "cid"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))))
      .filter(col("rk") <= k)
      .select(col("qid"), col("cid"), col("rk"), col("hamming"),
        round(col("cos"), 6).as("cos"))
  }

  /** One compiled pass deriving the at-rest row: (id, code, qe, n2). */
  private def encodeFull(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("id"), col("embedding")).as[(Long, Seq[Float])]
      .mapPartitions(_.map { case (id, e) =>
        val code = packRow(e)
        val qe = AnnSearch.quantizeRow(e)
        var n2 = 0L
        var i = 0
        while (i < qe.length) { n2 += qe(i) * qe(i); i += 1 }
        (id, code, qe, n2)
      })
      .toDF("id", "code", "qe", "n2")
  }

  private val KIND = "BINARY"

  /** Persist the codec at rest as an [[IndexStore]] of kind BINARY: one
    * compiled pass derives BOTH the packed code and the quantized vector
    * per row and writes (id, code, qe, n2) parquet under generation 0
    * (`agen=0/`) of the `vectors` store — no second corpus scan, no join.
    * This is where the 1-bit claim becomes a plan property: parquet is
    * columnar, so [[probeIndex]]'s Hamming stage reads ONLY the (id, code)
    * columns — dim/8 bytes of code per candidate instead of the raw
    * floats — and the full-width qe column is decoded for shortlist rows
    * alone. The generation lives in the DIRECTORY name (a partition
    * column), so liveness resolution against tombstones costs zero extra
    * bytes per row. The one-shot [[hammingTopK]] cannot beat a brute scan
    * (it must read and quantize the whole float corpus per call, twice);
    * the indexed probe is the production path, same as [[IvfPq]]'s
    * build/probe split. */
  def buildIndex(corpus: DataFrame, path: String): DataFrame = {
    val spark = corpus.sparkSession
    val ch = IndexStore.rebuild(spark, path, KIND)
    encodeFull(corpus).write.parquet(s"${ch.fresh("vectors")}/agen=0")
    IndexStore.rel(spark, ch.commit(0L), "vectors")
  }

  /** Train-free incremental ingest — the binary index's whole `add` step
    * is a parquet APPEND of the batch's (id, code, qe, n2) rows under a
    * fresh `agen=G/` dir of the store. Unlike [[IvfPq.addBatch]] (which
    * must encode against frozen codebooks) or [[GraphAnn.insertBatch]]
    * (which must walk and re-trim), the 1-bit codec has NO trained state:
    * each row's code depends only on its own embedding, so batches
    * commute, nothing is re-read, and a batch-built index probes
    * identically to a one-shot build (spec-asserted). This is the codec's
    * operational advantage at 100 TB — ingest cost is exactly the batch's
    * own encode pass, forever.
    *
    * INGEST CONTRACT: batch ids must be NEW or tombstoned-dead — the
    * append path has no dedup (deduping would require reading the store,
    * forfeiting the train-free O(batch) cost). A re-ingested LIVE id
    * would yield two live index rows; [[probeIndex]] detects that on the
    * shortlist fetch and fails loudly instead of silently corrupting
    * top-k. A REMOVED id may be re-added freely: the new row's higher
    * generation outlives the tombstone (the [[GraphAnn]] generation
    * discipline), which is what makes an UPDATE = removeBatch + addBatch
    * of the same id — the CDC consumption pattern (q389). */
  def addBatch(batch: DataFrame, path: String): Unit = {
    val ch = IndexStore.change(batch.sparkSession, path, KIND)
    encodeFull(batch).write.mode("append")
      .parquet(s"${ch.dir("vectors")}/agen=${ch.gen}")
    ch.commit(ch.gen)
  }

  /** O(batch) delete — append the removed ids as tombstones at generation
    * G ([[IndexStore]]'s one format). A tombstone at generation G kills
    * exactly the rows of that id added at agen < G: later re-adds
    * survive, so remove/re-add sequences resolve by generation comparison
    * alone — no read, no rewrite, no scan of the store, ever. Ids need not
    * be live (removing an absent id is a no-op mask row). [[compactIndex]]
    * folds them away. */
  def removeBatch(ids: DataFrame, path: String): Unit = {
    require(ids.columns.toSeq == Seq("id"),
      s"removeBatch wants a bare (id) frame, got ${ids.columns.mkString(",")}")
    val ch = IndexStore.change(ids.sparkSession, path, KIND)
    IndexStore.addTombstones(ch, ids.distinct())
    ch.commit(ch.gen)
  }

  /** The live view of a store: every (id, code, qe, n2, agen) row not
    * killed by a tombstone of the same id at a later generation. The
    * tombstone set is small (bounded by deletes since the last
    * compaction), so the mask is one broadcast anti-join over the
    * streamed store — the scan's column pruning is untouched (agen is
    * partition metadata, zero bytes per row). */
  def openIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val m = IndexStore.open(spark, path, KIND)
    val idx = IndexStore.rel(spark, m, "vectors")
    IndexStore.tombstones(spark, m).fold(idx) { t0 =>
      val t = t0.select(col("id").as("_tid"), col("tgen"))
      idx.join(broadcast(t),
        idx("id") === col("_tid") && col("tgen") > idx("agen"), "left_anti")
    }
  }

  /** Compaction — physically drop tombstone-killed rows and fold the
    * store back to a single generation, after which probes pay zero mask
    * cost again. Purely physical: probe results are identical before and
    * after (spec-pinned). The folded store is written to a fresh dir and
    * the tombstones leave the index in the same commit. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val ch = IndexStore.change(spark, path, KIND, compaction = true)
    if (ch.has(IndexStore.TOMBS)) {
      openIndex(spark, path).select("id", "code", "qe", "n2")
        .write.parquet(s"${ch.fresh("vectors")}/agen=0")
      ch.drop(IndexStore.TOMBS)
    }
    ch.commit(ch.base.gen)
  }

  /** Search a [[buildIndex]] store: Hamming over the pruned (id, code)
    * read, exact rescore over an id-pushed fetch of shortlist rows only
    * ([[Stores.fetchIds]]). Tombstoned rows are masked BEFORE the
    * shortlist heap (a dead row must not occupy a shortlist
    * slot). Identical results to the one-shot [[hammingTopK]] over the
    * live rows by construction (shared stages, spec-asserted): the index
    * changes WHERE bytes are read, never a score. */
  def probeIndex(queries: DataFrame, indexPath: String, k: Int,
      shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must cover k=$k")
    val spark = queries.sparkSession
    import spark.implicits._
    val idx = openIndex(spark, indexPath)
    val short = hammingShort(queries, idx, shortlist)
      .localCheckpoint(true) // shortlist is |Q|×shortlist rows — cut the
                             // lineage so the fetch below can't recompute
                             // the Hamming scan per branch
    // bounded-collect contract: |Q|×shortlist ids, like IvfPq's shortlist
    val ids = short.select("cid").distinct().as[Long].collect()
    val fetched = Stores.fetchIds(idx, "id", ids)
        .localCheckpoint(true) // bounded (≤ |Q|×shortlist rows); eager, so
                               // the guard count and the rescore share ONE
                               // execution of the id-pruned store read
                               // instead of paying it twice
    // the [[addBatch]] unique-id ingest contract, enforced where a breach
    // would corrupt results: a re-ingested id yields duplicate index rows,
    // the rescore join then fans out, and row_number hands out distinct rks
    // for the same (qid, cid) — silently wrong top-k. The guard is one
    // bounded count over the checkpointed fetch, never a corpus scan.
    val nFetched = fetched.count()
    require(nFetched == ids.length,
      s"probeIndex: index at $indexPath returned $nFetched rows for " +
        s"${ids.length} distinct shortlist ids — duplicate ids ingested " +
        "(addBatch requires batch ids be new)")
    val c = fetched.select(col("id").as("cid"), col("qe").as("ce"),
      col("n2").as("cn"))
    rescoreTopK(queries, short, c, k)
  }
}
