package graft.queries

import graft.Engine
import graft.operators.{CorpusOps, Dedup, Retrieval}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Corpus-level training-data pack (round 7): benchmark decontamination,
  * deterministic global shuffle + sharding, stratified train/test split,
  * corpus-frequency boilerplate analysis, per-stratum uniform sampling.
  *
  * Oracle strategy: all "randomness" is a keyed md5 (cross-engine
  * bit-exact), shingle hashing uses the shared 60-bit md5-prefix `h60`, and
  * ratios divide exact integer counts — so every query hash-matches DuckDB.
  */
object Corpus {

  // one source of truth with the Pipeline pack for both the table loader
  // and the oracle shingle CTE
  private def docs(s: SparkSession, dir: String) = Pipeline.docs(s, dir)

  private val sh = Pipeline.shCte

  // ---- BM25 shared fragments: the query set and the scoring CTE chain
  // exist once, interpolated into both q188 and q192's oracles and passed
  // to both Scala builds ----

  private val bm25Queries = Seq(1 -> Seq("dup"), 2 -> Seq("spark", "join"),
    3 -> Seq("customer", "order", "fast"))

  private val bm25QtValues = bm25Queries
    .flatMap { case (q, ts) => ts.map(t => s"($q,'$t')") }.mkString(", ")

  /** tok→sc: tokenize, tf/dl/N/avgdl stats, probed-term df, micro-unit idf,
    * exact int64 per-(query, doc) score — the SQL mirror of
    * `Retrieval.bm25TopK`'s scoring (identical IEEE ops, see its scaladoc). */
  private val bm25Ctes: String =
    s"""tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
       |t2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM t2 GROUP BY doc_id, term),
       |dl AS (SELECT doc_id, count(*) AS dl FROM t2 GROUP BY doc_id),
       |g AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE)/count(*) AS avgdl FROM dl),
       |qt(query_id, term) AS (VALUES $bm25QtValues),
       |dfx AS (SELECT tf.term, count(*) AS df FROM tf
       |        JOIN (SELECT DISTINCT term FROM qt) q ON tf.term = q.term
       |        GROUP BY tf.term),
       |idf AS (SELECT term,
       |  CAST(round(ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |                / (CAST(df AS DOUBLE) + 0.5) + 1.0) * 1000000.0) AS BIGINT) AS idfq
       |  FROM dfx, g),
       |sc AS (SELECT qt.query_id, tf.doc_id,
       |  SUM(CAST(round(idfq * ((CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
       |    / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * (1.0 - CAST(0.75 AS DOUBLE)
       |       + CAST(0.75 AS DOUBLE) * (CAST(dl AS DOUBLE) / avgdl))))) AS BIGINT)) AS wq
       |  FROM tf JOIN qt ON tf.term = qt.term
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  JOIN idf ON idf.term = tf.term, g
       |  GROUP BY qt.query_id, tf.doc_id)""".stripMargin

  val all: Seq[Qd] = Seq(

    // Benchmark decontamination: train = doc_id % 97 != 0, benchmark = the
    // rest (a deterministic held-out suite). Overlap = distinct shared
    // word-3-gram shingles, hashed h60 on BOTH engines (so the join key and
    // any collision semantics are identical).
    Qd("q170_decontaminate",
      s"""$sh,
        |tr AS (SELECT doc_id, CAST(('0x'||substr(md5(unnest(g)),1,15)) AS BIGINT) AS h
        |       FROM sh WHERE doc_id % 97 <> 0),
        |be AS (SELECT DISTINCT CAST(('0x'||substr(md5(unnest(g)),1,15)) AS BIGINT) AS h
        |       FROM sh WHERE doc_id % 97 = 0)
        |SELECT tr.doc_id, count(*) AS n_hit, count(*) >= 2 AS contaminated
        |FROM tr JOIN be USING (h)
        |GROUP BY tr.doc_id ORDER BY doc_id""") { (s, dir) =>
      val d = docs(s, dir)
      CorpusOps.decontaminate(
        d.filter(col("doc_id") % 97 =!= 0), d.filter(col("doc_id") % 97 === 0),
        minHits = 2).orderBy("doc_id")
    },

    // Deterministic global shuffle into 8 shards: keyed md5 sort key, h60
    // prefix mod for the shard, per-shard positions. No global sort — the
    // window hash-partitions by shard and sorts within partitions.
    Qd("q171_shuffle_shards",
      """WITH k AS (
        |  SELECT doc_id, md5('r7:' || CAST(doc_id AS VARCHAR)) AS skey FROM documents),
        |s AS (SELECT doc_id, skey,
        |  CAST(CAST(('0x'||substr(skey,1,15)) AS BIGINT) % 8 AS INTEGER) AS shard FROM k)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id) AS INTEGER) AS pos
        |FROM s ORDER BY shard, pos""") { (s, dir) =>
      CorpusOps.shuffleShards(docs(s, dir), seed = "r7", nShards = 8)
        .orderBy("shard", "pos")
    },

    // Stratified deterministic 10% test split — assignment is a pure
    // function of (seed, doc_id): no shuffle, append-stable, rerun-stable.
    Qd("q172_train_test_split",
      """SELECT doc_id, lang,
        |  CASE WHEN CAST(('0x'||substr(md5('split7:' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
        |            % 1000 < 100
        |       THEN 'test' ELSE 'train' END AS split
        |FROM documents ORDER BY doc_id""") { (s, dir) =>
      CorpusOps.trainTestSplit(docs(s, dir), "lang", testPermille = 100,
        seed = "split7").orderBy("doc_id")
    },

    // Corpus-frequency boilerplate ratio per doc (RefinedWeb/C4-style):
    // document frequency of each shingle, joined back — inverted-index
    // shape on uniform h60 keys.
    Qd("q173_boilerplate_ngrams",
      s"""$sh,
        |e AS (SELECT doc_id, CAST(('0x'||substr(md5(unnest(g)),1,15)) AS BIGINT) AS h FROM sh),
        |f AS (SELECT h, count(*) AS df FROM e GROUP BY h)
        |SELECT e.doc_id, count(*) AS n_g,
        |  CAST(sum(CASE WHEN f.df > 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |  ROUND(CAST(sum(CASE WHEN f.df > 3 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS boiler_ratio
        |FROM e JOIN f USING (h) GROUP BY e.doc_id ORDER BY doc_id""") { (s, dir) =>
      CorpusOps.boilerplateNgrams(docs(s, dir), maxDf = 3).orderBy("doc_id")
    },

    // Deterministic per-stratum uniform sample: 3 docs per source by keyed
    // hash rank — the reproducible analog of a seeded stratified draw.
    Qd("q174_stratified_sample",
      """WITH k AS (
        |  SELECT source, doc_id, md5('samp7:' || CAST(doc_id AS VARCHAR)) AS skey FROM documents),
        |r AS (SELECT source, doc_id,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY skey, doc_id) AS INTEGER) AS rk FROM k)
        |SELECT source, doc_id, rk FROM r WHERE rk <= 3 ORDER BY source, rk""") { (s, dir) =>
      CorpusOps.stratifiedSample(docs(s, dir), "source", k = 3, seed = "samp7")
        .orderBy("source", "rk")
    },

    // Weighted domain mixing: down-weight src0 to 10%, up-keep src1 at 90%,
    // everything else 50% — deterministic Bernoulli thinning by keyed hash,
    // zero-shuffle (same purity contract as the split).
    Qd("q177_domain_mix",
      """SELECT doc_id, source FROM documents
        |WHERE CAST(('0x'||substr(md5('mix7:' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
        |      % 1000000
        |  < CASE source WHEN 'src0' THEN 100000 WHEN 'src1' THEN 900000
        |                ELSE 500000 END
        |ORDER BY doc_id""") { (s, dir) =>
      CorpusOps.weightedMix(docs(s, dir), "source",
          Map("src0" -> 0.1, "src1" -> 0.9), defaultWeight = 0.5, seed = "mix7")
        .select(col("doc_id"), col("source")).orderBy("doc_id")
    },

    // Capstone composition — the hygiene pipeline a real corpus runs end to
    // end: exact-dedup to canonicals, drop benchmark-contaminated docs, gate
    // on a scale-stable quality bound (length), report per language. All
    // set operations are semi/anti equi-joins on uniform doc_id keys (the
    // drop-lists are tiny relative to the corpus → broadcast at scale);
    // nothing here re-shuffles the corpus more than once.
    Qd("q176_clean_corpus",
      s"""$sh,
        |tr AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
        |canon AS (SELECT min(doc_id) AS doc_id FROM tr GROUP BY md5(text)),
        |trh AS (SELECT doc_id, CAST(('0x'||substr(md5(unnest(g)),1,15)) AS BIGINT) AS h
        |        FROM sh WHERE doc_id % 97 <> 0),
        |be AS (SELECT DISTINCT CAST(('0x'||substr(md5(unnest(g)),1,15)) AS BIGINT) AS h
        |       FROM sh WHERE doc_id % 97 = 0),
        |cont AS (SELECT trh.doc_id FROM trh JOIN be USING (h)
        |         GROUP BY trh.doc_id HAVING count(*) >= 2)
        |SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM tr JOIN canon USING (doc_id)
        |WHERE doc_id NOT IN (SELECT doc_id FROM cont)
        |  AND n_chars BETWEEN 100 AND 400
        |GROUP BY lang ORDER BY lang""") { (s, dir) =>
      val d = docs(s, dir)
      val tr = d.filter(col("doc_id") % 97 =!= 0)
      val bench = d.filter(col("doc_id") % 97 === 0)
      val canon = Dedup.exactGroups(tr).select(col("canonical_id").as("doc_id"))
      val cont = CorpusOps.decontaminate(tr, bench, minHits = 2)
        .filter(col("contaminated")).select("doc_id")
      tr.join(canon, Seq("doc_id"), "left_semi")
        .join(cont, Seq("doc_id"), "left_anti")
        .filter(col("n_chars").between(100, 400))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .orderBy("lang")
    },

    // BM25 ranked retrieval over a PERSISTED inverted index (the 100 TB
    // shape: build once, probe partition-pruned): three fixed queries —
    // one with the rare term 'dup' (high idf dominates), one common-term
    // pair, one three-term mix. Scores are exact int64 micro-unit sums
    // (order-free); every double op is written identically on both engines
    // (see Retrieval.bm25TopK's determinism note — the indexed probe
    // composes the same expressions, so the index-free oracle CTEs apply
    // unchanged).
    Qd("q188_bm25_retrieval",
      s"""WITH $bm25Ctes,
        |rk AS (SELECT query_id, doc_id, wq,
        |  row_number() OVER (PARTITION BY query_id ORDER BY wq DESC, doc_id) AS rk FROM sc)
        |SELECT query_id, doc_id, rk, ROUND(CAST(wq AS DOUBLE)/1000000.0, 4) AS score
        |FROM rk WHERE rk <= 10 ORDER BY query_id, rk""") { (s, dir) =>
      val idx = bm25IndexPath(dir)
      Retrieval.bm25WriteIndex(docs(s, dir), idx)
      Retrieval.bm25TopKIndexed(s, idx, bm25Queries, k = 10)
        .orderBy("query_id", "rk")
    },

    // Hybrid retrieval (the RAG two-stage shape): BM25 candidates (top-20)
    // re-ranked by int64-quantized embedding cosine against a per-query
    // anchor vector, keep 5. Candidate docs without an embedding row drop
    // out on BOTH engines (inner probe join). Candidates + anchors
    // broadcast into the embedding scan — the corpus embedding table never
    // shuffles.
    Qd("q192_hybrid_retrieval",
      s"""WITH $bm25Ctes,
        |cand AS (SELECT query_id, doc_id, bm25_rk FROM (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY wq DESC, doc_id) AS bm25_rk
        |  FROM sc) WHERE bm25_rk <= 20),
        |v AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS qe
        |  FROM embeddings),
        |n AS (SELECT vec_id, qe,
        |  CAST(list_sum(list_transform(range(1, len(qe)+1), i -> qe[i]*qe[i])) AS BIGINT) AS n2 FROM v),
        |qv(query_id, qvec_id) AS (VALUES (1, 7), (2, 14), (3, 21)),
        |sc2 AS (SELECT c.query_id, c.doc_id, c.bm25_rk,
        |  CAST(CAST(list_sum(list_transform(range(1, len(a.qe)+1), i -> a.qe[i]*b.qe[i])) AS BIGINT) AS DOUBLE)
        |    / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) AS cos
        |  FROM cand c JOIN qv ON qv.query_id = c.query_id
        |  JOIN n a ON a.vec_id = qv.qvec_id
        |  JOIN n b ON b.vec_id = c.doc_id),
        |rr AS (SELECT query_id, doc_id, bm25_rk, cos,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rerank
        |  FROM sc2)
        |SELECT query_id, doc_id, bm25_rk, rerank, ROUND(cos, 6) AS cos
        |FROM rr WHERE rerank <= 5 ORDER BY query_id, rerank""") { (s, dir) =>
      val emb = graft.Engine.table(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
      val idx = bm25IndexPath(dir)
      Retrieval.bm25WriteIndex(docs(s, dir), idx)
      Retrieval.bm25RerankTopKIndexed(s, idx, emb, bm25Queries,
          queryVec = Map(1 -> 7L, 2 -> 14L, 3 -> 21L), kCand = 20, k = 5)
        .orderBy("query_id", "rerank")
    },

    // RRF hybrid retrieval (reciprocal-rank fusion, Cormack 2009 — the
    // Elasticsearch/Vespa/OpenSearch hybrid default, and the fusion q192's
    // rerank shape can't express: rerank REPLACES the lexical order, RRF
    // COMBINES both orders, so a doc strong in either list survives): BM25
    // top-20 over the persisted index + dense exact-cosine top-20 per
    // anchor, fused by summed int64 micro-unit 1/(60+rank) contributions,
    // keep 10. Per-list ranks ride along (NULL = missed that list) so both
    // input stages are value-checked end to end. The oracle replays the
    // shared bm25 CTE chain, the anchor-cosine scan (zero-norm guard →
    // -1.0, the AnnSearch contract), and the same quantized fusion.
    Qd("q372_rrf_fusion",
      s"""WITH $bm25Ctes,
        |bm AS (SELECT query_id, doc_id, rk FROM (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY wq DESC, doc_id) AS rk
        |  FROM sc) WHERE rk <= 20),
        |v AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS qe
        |  FROM embeddings),
        |n AS (SELECT vec_id, qe,
        |  CAST(list_sum(list_transform(range(1, len(qe)+1), i -> qe[i]*qe[i])) AS BIGINT) AS n2 FROM v),
        |qv(query_id, qvec_id) AS (VALUES (1, 7), (2, 14), (3, 21)),
        |dc AS (SELECT qv.query_id, b.vec_id AS doc_id,
        |  CASE WHEN CAST(a.n2 AS DOUBLE)*CAST(b.n2 AS DOUBLE) = 0 THEN -1.0
        |    ELSE CAST(CAST(list_sum(list_transform(range(1, len(a.qe)+1), i -> a.qe[i]*b.qe[i])) AS BIGINT) AS DOUBLE)
        |      / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) END AS cos
        |  FROM qv JOIN n a ON a.vec_id = qv.qvec_id
        |  JOIN n b ON b.vec_id <> qv.qvec_id),
        |cse AS (SELECT query_id, doc_id, rk FROM (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rk
        |  FROM dc) WHERE rk <= 20),
        |u AS (SELECT query_id, doc_id,
        |    CAST(round(CAST(1000000.0 AS DOUBLE)/(60+rk)) AS BIGINT) AS c,
        |    rk AS bm25_rk, CAST(NULL AS BIGINT) AS cos_rk FROM bm
        |  UNION ALL SELECT query_id, doc_id,
        |    CAST(round(CAST(1000000.0 AS DOUBLE)/(60+rk)) AS BIGINT),
        |    CAST(NULL AS BIGINT), rk FROM cse),
        |f AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro,
        |    CAST(max(bm25_rk) AS BIGINT) AS bm25_rk,
        |    CAST(max(cos_rk) AS BIGINT) AS cos_rk
        |  FROM u GROUP BY query_id, doc_id),
        |rkd AS (SELECT query_id, doc_id, bm25_rk, cos_rk, rrf_micro,
        |  row_number() OVER (PARTITION BY query_id ORDER BY rrf_micro DESC, doc_id) AS rk
        |  FROM f)
        |SELECT query_id, doc_id, bm25_rk, cos_rk, rrf_micro,
        |  CAST(rk AS BIGINT) AS rk
        |FROM rkd WHERE rk <= 10 ORDER BY query_id, rk""") { (s, dir) =>
      val emb = graft.Engine.table(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
      val idx = bm25IndexPath(dir)
      Retrieval.bm25WriteIndex(docs(s, dir), idx)
      Retrieval.rrfHybridIndexed(s, idx, emb, bm25Queries,
          queryVec = Map(1 -> 7L, 2 -> 14L, 3 -> 21L), n = 20, k = 10)
        .select(col("query_id"), col("doc_id"), col("bm25_rk"), col("cos_rk"),
          col("rrf_micro"), col("rk"))
        .orderBy("query_id", "rk")
    },

    // Exact positional phrase search over a persisted positional index —
    // the retrieval feature bag-of-words BM25 can't express. Three fixed
    // phrases: a common adjacent pair, a REPEATED-term pair (the
    // distinct-offset counting edge case: "big big" must need two
    // positions, overlapping occurrences each count), and a rare 3-term
    // phrase. The engine probe partition-prunes the positional index to
    // the phrase terms' buckets; the oracle replays the anchor algebra
    // (occurrence at a ⇔ all plen DISTINCT offsets covered at a+i) from
    // the raw text with the shared parallel-unnest position convention.
    Qd("q373_phrase_search",
      """WITH tokp AS (
        |  SELECT doc_id,
        |    unnest(generate_series(1, len(string_split(text, ' ')))) - 1 AS pos,
        |    unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tp AS (SELECT doc_id, pos, term FROM tokp WHERE term <> ''),
        |ph(phrase_id, term, off, plen) AS (VALUES
        |  (1, 'spark', 0, 2), (1, 'join', 1, 2),
        |  (2, 'big', 0, 2), (2, 'big', 1, 2),
        |  (3, 'the', 0, 3), (3, 'line', 1, 3), (3, 'sort', 2, 3)),
        |occ AS (SELECT ph.phrase_id, tp.doc_id, tp.pos - ph.off AS anchor, ph.plen
        |  FROM tp JOIN ph ON tp.term = ph.term
        |  WHERE tp.pos - ph.off >= 0
        |  GROUP BY 1, 2, 3, 4
        |  HAVING count(DISTINCT ph.off) = ph.plen),
        |agg AS (SELECT phrase_id, doc_id, CAST(count(*) AS BIGINT) AS n_occ
        |  FROM occ GROUP BY 1, 2),
        |rkd AS (SELECT phrase_id, doc_id, n_occ,
        |  row_number() OVER (PARTITION BY phrase_id ORDER BY n_occ DESC, doc_id) AS rk
        |  FROM agg)
        |SELECT phrase_id, doc_id, n_occ, CAST(rk AS BIGINT) AS rk
        |FROM rkd WHERE rk <= 10 ORDER BY phrase_id, rk""") { (s, dir) =>
      val idx = phraseIndexPath(dir)
      Retrieval.phraseWriteIndex(docs(s, dir), idx)
      Retrieval.phraseTopKIndexed(s, idx, Seq(
          1 -> Seq("spark", "join"), 2 -> Seq("big", "big"),
          3 -> Seq("the", "line", "sort")), k = 10)
        .orderBy("phrase_id", "rk")
    },

    // Unordered proximity search (INDRI/Terrier #uwN): anchor = a
    // position of the phrase's first term, matching when every other
    // distinct term occurs within ±3 tokens — "these words appear
    // together", between phrase search (too strict) and BM25 (too
    // loose). The engine never runs a range join: other-term positions
    // bucket by floor(pos/w), anchors explode to their 3 candidate
    // buckets, and the corpus-sized work is one equi-join on (phrase,
    // doc, bucket) over the index-pruned posting lists. The oracle
    // replays the window predicate directly as abs(q−p) <= w — the
    // bucket algebra is an equi-prefilter, not a semantics change, and
    // the driver compare is the equivalence proof.
    Qd("q374_proximity_search",
      """WITH tokp AS (
        |  SELECT doc_id,
        |    unnest(generate_series(1, len(string_split(text, ' ')))) - 1 AS pos,
        |    unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tp AS (SELECT doc_id, pos, term FROM tokp WHERE term <> ''),
        |pa(phrase_id, term, n_other) AS (VALUES
        |  (1, 'spark', 1), (2, 'customer', 2)),
        |po(phrase_id, term) AS (VALUES
        |  (1, 'join'), (2, 'order'), (2, 'fast')),
        |anch AS (SELECT pa.phrase_id, tp.doc_id, tp.pos AS p, pa.n_other
        |  FROM tp JOIN pa ON tp.term = pa.term),
        |oth AS (SELECT po.phrase_id, tp.doc_id, tp.term, tp.pos AS q
        |  FROM tp JOIN po ON tp.term = po.term),
        |m AS (SELECT a.phrase_id, a.doc_id, a.p
        |  FROM anch a JOIN oth o ON o.phrase_id = a.phrase_id
        |    AND o.doc_id = a.doc_id AND abs(o.q - a.p) <= 3
        |  GROUP BY a.phrase_id, a.doc_id, a.p, a.n_other
        |  HAVING count(DISTINCT o.term) = a.n_other),
        |agg AS (SELECT phrase_id, doc_id, CAST(count(*) AS BIGINT) AS n_occ
        |  FROM m GROUP BY 1, 2),
        |rkd AS (SELECT phrase_id, doc_id, n_occ,
        |  row_number() OVER (PARTITION BY phrase_id ORDER BY n_occ DESC, doc_id) AS rk
        |  FROM agg)
        |SELECT phrase_id, doc_id, n_occ, CAST(rk AS BIGINT) AS rk
        |FROM rkd WHERE rk <= 10 ORDER BY phrase_id, rk""") { (s, dir) =>
      val idx = phraseIndexPath(dir)
      Retrieval.phraseWriteIndex(docs(s, dir), idx)
      Retrieval.proximityTopKIndexed(s, idx, Seq(
          1 -> Seq("spark", "join"),
          2 -> Seq("customer", "order", "fast")), w = 3, k = 10)
        .orderBy("phrase_id", "rk")
    },

    // T5-style span corruption (the span-denoising (input, target) pair
    // generator): keyed-hash span starts and lengths, overlap merge into
    // contiguity islands, <extra_id_k> sentinels in position order. Every
    // draw is a pure function of (seed, doc, pos) — append/rerun-stable,
    // and the oracle replays starts → cover → islands → both reassemblies
    // verbatim (the md5 draw is the q171/q172 discipline; reassembly is
    // the q353 ordered string_agg).
    Qd("q376_span_corruption",
      """WITH tokp AS (
        |  SELECT doc_id,
        |    unnest(generate_series(1, len(string_split(text, ' ')))) - 1 AS pos,
        |    unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tp AS (SELECT doc_id, pos, term FROM tokp WHERE term <> ''),
        |st AS (SELECT doc_id, pos,
        |    1 + CAST(('0x'||substr(md5('r15sc:l:' || CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)),1,15)) AS BIGINT) % 3 AS len
        |  FROM tp
        |  WHERE CAST(('0x'||substr(md5('r15sc:s:' || CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)),1,15)) AS BIGINT) % 1000 < 100),
        |cov AS (SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + len - 1)) AS pos FROM st),
        |mtok AS (SELECT tp.doc_id, tp.pos, tp.term FROM tp JOIN cov USING (doc_id, pos)),
        |isl AS (SELECT doc_id, pos, term,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM mtok),
        |islands AS (SELECT doc_id, isl, min(pos) AS mpos,
        |    string_agg(term, ' ' ORDER BY pos) AS toks, CAST(count(*) AS BIGINT) AS ntok
        |  FROM isl GROUP BY doc_id, isl),
        |sis AS (SELECT doc_id, mpos, toks, ntok,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY mpos) - 1 AS sent
        |  FROM islands),
        |unm AS (SELECT tp.doc_id, tp.pos, tp.term FROM tp
        |  LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.pos = tp.pos
        |  WHERE cov.pos IS NULL),
        |itok AS (SELECT doc_id, pos, term FROM unm
        |  UNION ALL SELECT doc_id, mpos AS pos,
        |    '<extra_id_' || CAST(sent AS VARCHAR) || '>' AS term FROM sis),
        |inp AS (SELECT doc_id, string_agg(term, ' ' ORDER BY pos) AS input_text
        |  FROM itok GROUP BY doc_id),
        |tgt AS (SELECT doc_id,
        |    string_agg('<extra_id_' || CAST(sent AS VARCHAR) || '> ' || toks,
        |      ' ' ORDER BY mpos) AS target_text,
        |    CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(sum(ntok) AS BIGINT) AS n_masked
        |  FROM sis GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(inp.input_text, '') AS input_text,
        |  coalesce(tgt.target_text, '') AS target_text,
        |  coalesce(tgt.n_spans, CAST(0 AS BIGINT)) AS n_spans,
        |  coalesce(tgt.n_masked, CAST(0 AS BIGINT)) AS n_masked
        |FROM documents d
        |LEFT JOIN inp ON inp.doc_id = d.doc_id
        |LEFT JOIN tgt ON tgt.doc_id = d.doc_id
        |ORDER BY d.doc_id""") { (s, dir) =>
      CorpusOps.spanCorrupt(docs(s, dir), seed = "r15sc",
          startPermille = 100, maxSpan = 3)
        .orderBy("doc_id")
    },

    // Temperature mixing at α=0.5 (XLM-R/mT5): keep rate = sqrt(n_min/n_s)
    // per language — the smallest language binds at 1.0, larger ones thin
    // toward the tempered share. The rates are DERIVED FROM THE DATA (one
    // |strata|-bounded count agg), unlike q177's fixed weights; sqrt of
    // the exact count ratio is one correctly-rounded IEEE op, so engine
    // and oracle agree bit-for-bit before the shared ppm rounding.
    // keep_ppm rides along so the schedule itself is value-checked.
    Qd("q377_temperature_mix",
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |mn AS (SELECT min(n) AS nmin FROM c),
        |th AS (SELECT lang,
        |    CAST(round(sqrt(CAST(nmin AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS keep_ppm
        |  FROM c, mn)
        |SELECT d.doc_id, d.lang, th.keep_ppm
        |FROM documents d JOIN th USING (lang)
        |WHERE CAST(('0x'||substr(md5('tmix15:' || CAST(d.doc_id AS VARCHAR)),1,15)) AS BIGINT)
        |      % 1000000 < th.keep_ppm
        |ORDER BY d.doc_id""") { (s, dir) =>
      CorpusOps.temperatureMixSqrt(docs(s, dir), "lang", seed = "tmix15")
        .select(col("doc_id"), col("lang"), col("keep_ppm"))
        .orderBy("doc_id")
    },

    // KWIC snippet extraction: every query-term occurrence is a candidate
    // anchor scored by distinct query terms within ±3 (itself included);
    // each doc's best anchor (max coverage, lowest position) yields the
    // reassembled ±3-token window; docs rank by coverage. The oracle
    // replays the symmetric self-join window count, the lexicographic
    // argmin, and the ordered snippet string_agg.
    Qd("q378_kwic_snippets",
      """WITH tokp AS (
        |  SELECT doc_id,
        |    unnest(generate_series(1, len(string_split(text, ' ')))) - 1 AS pos,
        |    unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tp AS (SELECT doc_id, pos, term FROM tokp WHERE term <> ''),
        |pt(phrase_id, term) AS (VALUES
        |  (1, 'spark'), (1, 'join'), (2, 'customer'), (2, 'order'), (2, 'fast')),
        |h AS (SELECT pt.phrase_id, tp.doc_id, tp.term, tp.pos
        |  FROM tp JOIN pt ON tp.term = pt.term),
        |sc AS (SELECT a.phrase_id, a.doc_id, a.pos AS p,
        |    count(DISTINCT o.term) AS nt
        |  FROM h a JOIN h o ON o.phrase_id = a.phrase_id
        |    AND o.doc_id = a.doc_id AND abs(o.pos - a.pos) <= 3
        |  GROUP BY 1, 2, 3),
        |best AS (SELECT phrase_id, doc_id, p, nt FROM (
        |    SELECT phrase_id, doc_id, p, nt,
        |      row_number() OVER (PARTITION BY phrase_id, doc_id
        |        ORDER BY nt DESC, p) AS rn
        |    FROM sc) WHERE rn = 1),
        |rkd AS (SELECT phrase_id, doc_id, p, nt,
        |    row_number() OVER (PARTITION BY phrase_id ORDER BY nt DESC, doc_id) AS rk
        |  FROM best),
        |top AS (SELECT * FROM rkd WHERE rk <= 5),
        |win AS (SELECT phrase_id, doc_id,
        |    unnest(generate_series(greatest(p - 3, 0), p + 3)) AS pos
        |  FROM top),
        |sn AS (SELECT w.phrase_id, w.doc_id,
        |    string_agg(tp.term, ' ' ORDER BY tp.pos) AS snippet
        |  FROM win w JOIN tp USING (doc_id, pos)
        |  GROUP BY 1, 2)
        |SELECT t.phrase_id, t.doc_id, CAST(t.p AS BIGINT) AS best_pos,
        |  CAST(t.nt AS BIGINT) AS n_terms, sn.snippet, CAST(t.rk AS BIGINT) AS rk
        |FROM top t JOIN sn ON sn.phrase_id = t.phrase_id AND sn.doc_id = t.doc_id
        |ORDER BY t.phrase_id, t.rk""") { (s, dir) =>
      val idx = phraseIndexPath(dir)
      Retrieval.phraseWriteIndex(docs(s, dir), idx)
      Retrieval.snippetTopKIndexed(s, idx, Seq(
          1 -> Seq("spark", "join"),
          2 -> Seq("customer", "order", "fast")), w = 3, k = 5)
        .orderBy("phrase_id", "rk")
    },

    // CCNet-style bigram-LM perplexity filter: add-one-smoothed bigram
    // model trained on the deterministic reference slice (doc_id % 10 < 3),
    // every doc scored by exact int64 micro-unit log-prob sums (idf-style
    // quantization after the single ln), head/middle/tail by ntile tertile
    // of the per-bigram mean. `<s>` anchors each doc so 1-token docs score.
    Qd("q202_ngram_lm_perplexity",
      """WITH d AS (SELECT doc_id,
        |  ['<s>'] || list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |bg AS (SELECT doc_id, t[i] AS p, t[i+1] AS c
        |  FROM d, unnest(range(1, len(t))) AS r(i)),
        |dbc AS (SELECT doc_id, p, c, CAST(count(*) AS BIGINT) AS k
        |  FROM bg GROUP BY doc_id, p, c),
        |m AS (SELECT p, c, CAST(count(*) AS BIGINT) AS c2
        |  FROM bg WHERE doc_id % 10 < 3 GROUP BY p, c),
        |ctx AS (SELECT p, CAST(sum(c2) AS BIGINT) AS c1 FROM m GROUP BY p),
        |v AS (SELECT CAST(count(DISTINCT c) AS DOUBLE) AS vv FROM m),
        |sc AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
        |  CAST(sum(k * CAST(round(ln(
        |    CAST(coalesce(c2, 0) + 1 AS DOUBLE)
        |    / (CAST(coalesce(c1, 0) AS DOUBLE) + vv)) * 1000000.0) AS BIGINT))
        |    AS BIGINT) AS sum_qlp
        |  FROM dbc LEFT JOIN m USING (p, c) LEFT JOIN ctx USING (p), v
        |  GROUP BY doc_id),
        |a AS (SELECT doc_id, n_bigrams, sum_qlp,
        |  CAST(round(CAST(sum_qlp AS DOUBLE) / n_bigrams) AS BIGINT) AS avg_qlp
        |  FROM sc),
        |b AS (SELECT *, ntile(3) OVER (ORDER BY avg_qlp DESC, doc_id) AS tile
        |  FROM a)
        |SELECT doc_id, n_bigrams, sum_qlp, avg_qlp,
        |  CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM b ORDER BY doc_id""") { (s, dir) =>
      graft.operators.NgramLm
        .perplexityBuckets(docs(s, dir), col("doc_id") % 10 < 3)
        .orderBy("doc_id")
    },

    // Exact-substring dedup (ExactSubstr, Lee et al. 2021): verbatim
    // cross-document runs of ≥5 tokens are CUT from every document
    // carrying them — the train-set hygiene step whole-doc dedup can't do.
    // Shingle inventory → document frequency → per-doc island merge of
    // overlapping marks → index-aware excision; the oracle replays every
    // stage (including the islands' gaps-and-islands window) in SQL and
    // compares the cleaned text by md5.
    Qd("q212_dedup_exact_substring",
      """WITH tok AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
        |sh AS (SELECT doc_id, i, md5(array_to_string(t[i:i+4], ' ')) AS h
        |       FROM tok, unnest(range(1, len(t) - 3)) r(i) WHERE len(t) >= 5),
        |dup AS (SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) > 1),
        |marks AS (SELECT s.doc_id, s.i AS lo, s.i + 4 AS hi
        |          FROM sh s JOIN dup USING (h)),
        |flagged AS (SELECT doc_id, lo, hi,
        |    CASE WHEN lo > coalesce(max(hi) OVER (PARTITION BY doc_id ORDER BY lo
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |    THEN 1 ELSE 0 END AS fresh
        |  FROM marks),
        |isl AS (SELECT doc_id, island, min(lo) AS lo, max(hi) AS hi FROM (
        |    SELECT doc_id, lo, hi, sum(fresh) OVER (PARTITION BY doc_id ORDER BY lo
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |    FROM flagged) GROUP BY doc_id, island),
        |pos AS (SELECT doc_id, t[i] AS tk, i AS p FROM tok,
        |        unnest(range(1, len(t) + 1)) r(i)),
        |kept AS (SELECT p.doc_id,
        |    string_agg(p.tk, ' ' ORDER BY p.p) AS clean_text,
        |    count(*) AS n_kept
        |  FROM pos p WHERE NOT EXISTS (SELECT 1 FROM isl i
        |    WHERE i.doc_id = p.doc_id AND p.p BETWEEN i.lo AND i.hi)
        |  GROUP BY p.doc_id)
        |SELECT tok.doc_id, CAST(len(tok.t) AS BIGINT) AS n_tokens,
        |  CAST(len(tok.t) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed,
        |  md5(coalesce(k.clean_text, '')) AS clean_h
        |FROM tok LEFT JOIN kept k ON tok.doc_id = k.doc_id
        |ORDER BY tok.doc_id""") { (s, dir) =>
      graft.operators.SubstringDedup.dedupSubstrings(docs(s, dir), k = 5)
        .select(col("doc_id"), col("n_tokens").cast("bigint").as("n_tokens"),
          col("n_removed").cast("bigint").as("n_removed"),
          md5(col("clean_text")).as("clean_h"))
        .orderBy("doc_id")
    },

    // DSIR importance resampling: hashed-ngram bag-of-words models of the
    // target (lang='en') and raw distributions, per-doc weight as an exact
    // int64 micro-unit sum of per-bucket log ratios, deterministic Gumbel
    // top-150 selection. Every hash/quantization mirrors the Scala op.
    Qd("q203_dsir_resample",
      """WITH tok AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |ng AS (
        |  SELECT doc_id, t[i] AS ng FROM tok, unnest(range(1, len(t)+1)) r(i)
        |  UNION ALL
        |  SELECT doc_id, t[i] || ' ' || t[i+1] FROM tok,
        |    unnest(range(1, len(t))) r(i)),
        |fc AS (SELECT doc_id,
        |  CAST(('0x'||substr(md5(ng),1,15)) AS BIGINT) % 1024 AS f,
        |  CAST(count(*) AS BIGINT) AS k
        |  FROM ng GROUP BY 1, 2),
        |cr AS (SELECT f, CAST(sum(k) AS BIGINT) AS cr FROM fc GROUP BY f),
        |ct AS (SELECT f, CAST(sum(k) AS BIGINT) AS ct FROM fc
        |  JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY f),
        |tot AS (SELECT (SELECT CAST(sum(cr) AS DOUBLE) FROM cr) AS nr,
        |  (SELECT CAST(coalesce(sum(ct), 0) AS DOUBLE) FROM ct) AS nt),
        |lam AS (SELECT f,
        |  CAST(round(ln((CAST(coalesce(ct, 0) AS DOUBLE) + 1.0)
        |    / (nt + 1024.0)) * 1000000.0) AS BIGINT)
        |  - CAST(round(ln((CAST(cr AS DOUBLE) + 1.0)
        |    / (nr + 1024.0)) * 1000000.0) AS BIGINT) AS lam
        |  FROM cr LEFT JOIN ct USING (f), tot),
        |imp AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_feats,
        |  CAST(sum(k * lam) AS BIGINT) AS logw
        |  FROM fc JOIN lam USING (f) GROUP BY doc_id),
        |a AS (SELECT d.doc_id, coalesce(n_feats, 0) AS n_feats,
        |  coalesce(logw, 0) AS logw
        |  FROM documents d LEFT JOIN imp ON d.doc_id = imp.doc_id),
        |gk AS (SELECT *, logw + CAST(round(-ln(-ln(
        |  (CAST(CAST(('0x'||substr(md5('dsir8:'||CAST(doc_id AS VARCHAR)),1,15))
        |     AS BIGINT) AS DOUBLE) + 1.0) / 1152921504606846977.0))
        |  * 1000000.0) AS BIGINT) AS g FROM a),
        |b AS (SELECT *, row_number() OVER (ORDER BY g DESC, doc_id) AS rn
        |  FROM gk)
        |SELECT doc_id, n_feats, logw, g, rn <= 150 AS sel
        |FROM b ORDER BY doc_id""") { (s, dir) =>
      graft.operators.Dsir
        .resample(docs(s, dir), col("lang") === "en", buckets = 1024,
          seed = "dsir8", k = 150)
        .orderBy("doc_id")
    },

    // Supervised corpus classifier ([[graft.operators.NbClassifier]] —
    // the CCNet/LLaMA "fastText classifier" curation stage as closed-form
    // multinomial NB): train on the doc_id%5 split with lang as the
    // class, score the held-out 80%, output the full confusion matrix
    // with summed argmax margins. Every log is quantized to integer
    // micro-nats (the Dsir fixed-point discipline) so scores are integer
    // sums — the confusion counts AND margins are bit-exact cross-engine,
    // no rounding anywhere. Model is dictionary-sized and broadcast; the
    // corpus is shuffled once (per-doc token counts), never by the model.
    Qd("q241_nb_classifier",
      """WITH tok AS (SELECT doc_id, lang,
        |  unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
        |  FROM documents),
        |tk AS (SELECT doc_id, lang, w FROM tok WHERE w <> ''),
        |tr AS (SELECT * FROM tk WHERE doc_id % 5 = 0),
        |cw AS (SELECT lang AS c, w, CAST(count(*) AS BIGINT) AS n
        |       FROM tr GROUP BY 1, 2),
        |nc AS (SELECT c, CAST(sum(n) AS BIGINT) AS nt FROM cw GROUP BY 1),
        |vv AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM tr),
        |dc AS (SELECT lang AS c, CAST(count(*) AS BIGINT) AS d
        |       FROM documents WHERE doc_id % 5 = 0 GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM documents
        |        WHERE doc_id % 5 = 0),
        |lpw AS (SELECT c, w,
        |  CAST(round(ln((n + 1.0) / (nt + v)) * 1000000.0) AS BIGINT) AS lp
        |  FROM cw JOIN nc USING (c), vv),
        |meta AS (SELECT c,
        |  CAST(round(ln(CAST(d AS DOUBLE) / t) * 1000000.0) AS BIGINT) AS prior,
        |  CAST(round(ln(1.0 / (nt + v)) * 1000000.0) AS BIGINT) AS def
        |  FROM dc JOIN nc USING (c), vv, tot),
        |dt AS (SELECT doc_id, lang, w, CAST(count(*) AS BIGINT) AS m
        |       FROM tk WHERE doc_id % 5 <> 0 GROUP BY 1, 2, 3),
        |sc AS (SELECT dt.doc_id, dt.lang, meta.c,
        |  CAST(meta.prior + sum(dt.m * coalesce(lpw.lp, meta.def)) AS BIGINT) AS s
        |  FROM dt CROSS JOIN meta
        |  LEFT JOIN lpw ON lpw.c = meta.c AND lpw.w = dt.w
        |  GROUP BY dt.doc_id, dt.lang, meta.c, meta.prior),
        |ed AS (SELECT d.doc_id, d.lang, meta.c, meta.prior AS s
        |  FROM documents d CROSS JOIN meta
        |  WHERE d.doc_id % 5 <> 0
        |    AND d.doc_id NOT IN (SELECT DISTINCT doc_id FROM dt)),
        |al AS (SELECT * FROM sc UNION ALL SELECT * FROM ed),
        |rk AS (SELECT doc_id, lang, c, s,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, c) AS rn,
        |  lead(s) OVER (PARTITION BY doc_id ORDER BY s DESC, c) AS s2
        |  FROM al)
        |SELECT lang, c AS pred, CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(s - coalesce(s2, s)) AS BIGINT) AS sum_margin
        |FROM rk WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
      import graft.operators.NbClassifier
      val d = docs(s, dir)
      val model = NbClassifier.train(d.filter(col("doc_id") % 5 === 0),
        "doc_id", "text", "lang")
      val test = d.filter(col("doc_id") % 5 =!= 0)
      NbClassifier.predict(model, test, "doc_id", "text")
        .join(test.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"), col("pred"))
        .agg(count(lit(1)).as("cnt"), sum(col("margin")).as("sum_margin"))
        .orderBy("lang", "pred")
    },

    // Exact heavy hitters via sketch-then-verify
    // ([[graft.operators.HeavyHitters]] — Misra–Gries candidates, then an
    // exact broadcast-semi-join recount; the reference's ngrams UDAF is
    // the one-pass approximate cousin). The value domain is DERIVED
    // deterministically from events with real skew: ~1/7 of rows hit one
    // of 3 hot keys, every other row is a singleton — ~8.6k distinct
    // values against a 64-counter sketch, so decrements genuinely fire
    // and the N/(m+1) guarantee is what makes the recount complete. The
    // oracle is the full GROUP BY … HAVING — the two-pass result must be
    // bit-equal to it, which is the operator's exactness theorem.
    Qd("q242_heavy_hitters",
      """WITH v AS (SELECT CASE WHEN user_id % 7 = 0
        |  THEN 'hot_' || CAST(user_id % 3 AS VARCHAR)
        |  ELSE 'cold_' || CAST(event_id AS VARCHAR) END AS value
        |  FROM events)
        |SELECT value, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY 1
        |HAVING count(*) >= (SELECT count(*) // 65 + 1 FROM v)
        |ORDER BY value""") { (s, dir) =>
      import graft.operators.HeavyHitters
      val v = graft.Engine.table(s, dir, "events").select(
        when(col("user_id") % 7 === 0,
          concat(lit("hot_"), (col("user_id") % 3).cast("string")))
          .otherwise(concat(lit("cold_"), col("event_id").cast("string")))
          .as("value"))
      val t = v.count() / 65 + 1
      HeavyHitters.exact(v, col("value"), m = 64, minCount = t)
        .orderBy("value")
    },

    // Consistent per-group minwise sample ([[graft.operators.GroupSample]]
    // — mergeable bottom-k sketch, one aggregation, O(groups×k) shuffled
    // rows). The oracle is the rank-over-keyed-md5 window idiom — the
    // full-shuffle full-sort formulation the sketch replaces — so the
    // check IS the equivalence proof: both engines must select the exact
    // same k docs per lang, bit-equal draws and all.
    // INCREMENTAL heavy hitters ([[HeavyHitters.summarize]] /
    // [[HeavyHitters.mergeSummaries]] — the q242 sketch maintained across
    // ingest batches): each of 4 batches contributes one ≤64-entry
    // summary, merged under the counter bound; mergeability (Agarwal et
    // al. 2012) carries the N_total/(m+1) guarantee to the union, so the
    // final exact recount from the MERGED candidates equals the one-shot
    // full GROUP BY … HAVING — the same oracle as q242. Persistent state
    // is O(m) forever; no batch ever rescans history.
    Qd("q257_incremental_heavy_hitters",
      """WITH v AS (SELECT CASE WHEN user_id % 7 = 0
        |  THEN 'hot_' || CAST(user_id % 3 AS VARCHAR)
        |  ELSE 'cold_' || CAST(event_id AS VARCHAR) END AS value
        |  FROM events)
        |SELECT value, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY 1
        |HAVING count(*) >= (SELECT count(*) // 65 + 1 FROM v)
        |ORDER BY value""") { (s, dir) =>
      import graft.operators.HeavyHitters
      def derived(src: org.apache.spark.sql.DataFrame) = src.select(
        when(col("user_id") % 7 === 0,
          concat(lit("hot_"), (col("user_id") % 3).cast("string")))
          .otherwise(concat(lit("cold_"), col("event_id").cast("string")))
          .as("value"))
      val ev = graft.Engine.table(s, dir, "events")
      val m = 64
      var state = Map.empty[String, Long]
      (0 until 4).foreach { b =>
        state = HeavyHitters.mergeSummaries(state,
          HeavyHitters.summarize(derived(ev.filter(col("event_id") % 4 === b)),
            col("value"), m), m)
      }
      val all = derived(ev)
      val t = all.count() / 65 + 1
      HeavyHitters.exactFromCandidates(all, col("value"),
        state.keys.toSeq, t).orderBy("value")
    },

    Qd("q243_group_sample",
      """WITH h AS (SELECT lang, doc_id,
        |  CAST(('0x'||substr(md5('gs10:' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) AS h
        |  FROM documents),
        |r AS (SELECT lang, doc_id,
        |  row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn FROM h)
        |SELECT lang, doc_id FROM r WHERE rn <= 20
        |ORDER BY lang, doc_id""") { (s, dir) =>
      import graft.operators.GroupSample
      GroupSample.bottomK(docs(s, dir), Seq("lang"), "doc_id",
        seed = "gs10", k = 20).orderBy("lang", "doc_id")
    },

    // Line-level dedup that REWRITES documents (FineWeb/Dolma paragraph
    // dedup, [[CorpusOps.dedupLines]]): drop lines shared by more than
    // maxDf documents, reassemble survivors in original order. The
    // synthetic corpus is single-line, so BOTH engines derive the line
    // structure closed-form first (every 2-word group becomes a line) —
    // the op itself is generic over real multi-line text. The CHECKED
    // column is md5(clean_text), not clean_text: the rewritten text
    // carries real embedded newlines (it must — that is the op), and
    // r13 proved the driver's row-hash canonicalization breaks on
    // newline-bearing values (q353 was value-identical to the oracle on
    // all 500 rows yet hash-red). md5 agrees between Spark and DuckDB on
    // UTF-8 bytes and removes the hazard entirely; Verify now lints every
    // result for newline-bearing strings so this class of artifact cannot
    // recur.
    Qd("q353_dedup_lines",
      """WITH lined AS (
        |  SELECT doc_id,
        |    regexp_replace(text, '(\S+ \S+) ', '\1' || chr(10), 'g') AS t
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id,
        |    unnest(generate_series(1, len(string_split(t, chr(10))))) - 1 AS pos,
        |    unnest(string_split(t, chr(10))) AS line
        |  FROM lined),
        |df AS (SELECT line, count(DISTINCT doc_id) AS df FROM lines GROUP BY 1),
        |j AS (SELECT l.doc_id, l.pos, l.line, d.df FROM lines l JOIN df d USING (line))
        |SELECT doc_id,
        |  md5(coalesce(string_agg(CASE WHEN df <= 25 THEN line END, chr(10) ORDER BY pos),
        |    '')) AS clean_md5,
        |  CAST(sum(CASE WHEN df <= 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN df > 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        |FROM j GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
      val lined = docs(s, dir).select(col("doc_id"),
        regexp_replace(col("text"), "(\\S+ \\S+) ", "$1\n").as("text"))
      CorpusOps.dedupLines(lined, maxDf = 25)
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_kept"), col("n_dropped"))
        .orderBy("doc_id")
    },

    // FULL-TEXT INDEXES AS PURE SQL ([[graft.operators.IndexZooSql]], the
    // q382 lifecycle for the lexical family): CREATE FULLTEXT INDEX
    // builds the persisted BM25 and positional stores, the TOPK probes
    // route to them because an index covers (table, column), DROP retires
    // both, and the SAME statements then degrade to the one-shot
    // full-scan paths — which return IDENTICAL rows (an index changes
    // where bytes are read, never a score), so the oracle replays each
    // family once and tags both phases with it.
    Qd("q383_fulltext_index_sql",
      s"""WITH $bm25Ctes,
        |bmr AS (SELECT query_id, doc_id, wq,
        |  row_number() OVER (PARTITION BY query_id ORDER BY wq DESC, doc_id) AS rk FROM sc),
        |bm5 AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
        |    CAST(rk AS BIGINT) AS rk,
        |    ROUND(CAST(wq AS DOUBLE)/1000000.0, 4) AS score
        |  FROM bmr WHERE rk <= 5),
        |tokp AS (
        |  SELECT doc_id,
        |    unnest(generate_series(1, len(string_split(text, ' ')))) - 1 AS pos,
        |    unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tp AS (SELECT doc_id, pos, term FROM tokp WHERE term <> ''),
        |phl(phrase_id, term, off, plen) AS (VALUES
        |  (1, 'spark', 0, 2), (1, 'join', 1, 2),
        |  (2, 'big', 0, 2), (2, 'big', 1, 2),
        |  (3, 'the', 0, 3), (3, 'line', 1, 3), (3, 'sort', 2, 3)),
        |occ AS (SELECT phl.phrase_id, tp.doc_id, tp.pos - phl.off AS anchor, phl.plen
        |  FROM tp JOIN phl ON tp.term = phl.term
        |  WHERE tp.pos - phl.off >= 0
        |  GROUP BY 1, 2, 3, 4
        |  HAVING count(DISTINCT phl.off) = phl.plen),
        |pagg AS (SELECT phrase_id, doc_id, CAST(count(*) AS BIGINT) AS n_occ
        |  FROM occ GROUP BY 1, 2),
        |prk AS (SELECT phrase_id, doc_id, n_occ,
        |  row_number() OVER (PARTITION BY phrase_id ORDER BY n_occ DESC, doc_id) AS rk
        |  FROM pagg),
        |ph5 AS (SELECT CAST(phrase_id AS BIGINT) AS query_id, doc_id,
        |    CAST(rk AS BIGINT) AS rk, CAST(n_occ AS DOUBLE) AS score
        |  FROM prk WHERE rk <= 5)
        |SELECT kind, phase, query_id, doc_id, rk, score FROM (
        |  SELECT 'bm25' AS kind, 'indexed' AS phase, * FROM bm5
        |  UNION ALL SELECT 'bm25', 'scan', * FROM bm5
        |  UNION ALL SELECT 'phrase', 'indexed', * FROM ph5
        |  UNION ALL SELECT 'phrase', 'scan', * FROM ph5)
        |ORDER BY kind, phase, query_id, rk""") { (s, dir) =>
      import graft.operators.IndexZooSql
      IndexZooSql.reset(s)
      val sf = new java.io.File(dir).getName.replace(".", "_")
      docs(s, dir).createOrReplaceTempView("g383_docs")
      // buckets=16: the partition-pruned probe shape at a fraction of the
      // default's file count — the bench body pays two index BUILDS
      IndexZooSql.sql(s, "CREATE FULLTEXT INDEX g383_bm ON g383_docs " +
        "(text) AS 'BM25' OPTIONS (buckets=16, " +
        s"path='${Engine.scratchRoot}/ddl/$sf/g383_bm')")
      IndexZooSql.sql(s, "CREATE FULLTEXT INDEX g383_ps ON g383_docs " +
        "(text) AS 'POSITIONAL' OPTIONS (buckets=16, " +
        s"path='${Engine.scratchRoot}/ddl/$sf/g383_ps')")
      val ftProbe = "FULLTEXT TOPK ON g383_docs (text) QUERIES " +
        "((1,'dup'), (2,'spark join'), (3,'customer order fast')) LIMIT 5"
      val phProbe = "PHRASE TOPK ON g383_docs (text) PHRASES " +
        "((1,'spark join'), (2,'big big'), (3,'the line sort')) LIMIT 5"
      // materialize the indexed probes BEFORE the DROP retires their
      // files — a lazy plan read after DROP would fail on missing parquet
      val fIdx = IndexZooSql.sql(s, ftProbe).localCheckpoint(true)
      val pIdx = IndexZooSql.sql(s, phProbe).localCheckpoint(true)
      IndexZooSql.sql(s, "DROP FULLTEXT INDEX g383_bm")
      IndexZooSql.sql(s, "DROP FULLTEXT INDEX g383_ps")
      val fScan = IndexZooSql.sql(s, ftProbe)
      val pScan = IndexZooSql.sql(s, phProbe)
      def bmN(df: org.apache.spark.sql.DataFrame, phase: String) =
        df.select(lit("bm25").as("kind"), lit(phase).as("phase"),
          col("query_id").cast("bigint").as("query_id"), col("doc_id"),
          col("rk"), col("score").cast("double").as("score"))
      def phN(df: org.apache.spark.sql.DataFrame, phase: String) =
        df.select(lit("phrase").as("kind"), lit(phase).as("phase"),
          col("phrase_id").cast("bigint").as("query_id"), col("doc_id"),
          col("rk"), col("n_occ").cast("double").as("score"))
      bmN(fIdx, "indexed").unionByName(bmN(fScan, "scan"))
        .unionByName(phN(pIdx, "indexed")).unionByName(phN(pScan, "scan"))
        .orderBy("kind", "phase", "query_id", "rk")
    },

    // THE RAG CAPSTONE (VERDICT r15 task 8 — the retrieval analog of
    // q176's corpus capstone): every stage a PERSISTED index or a fusion
    // over bounded lists, composed end-to-end. (1) lexical lists from the
    // persisted BM25 index (term-bucket-pruned probe); (2) dense lists
    // from the persisted two-layer GRAPH index (bucket-pruned descent),
    // re-keyed from anchor vec_ids to query ids; (3) RRF fusion of the
    // two rankings in exact integer micro-units; (4) MMR diversity
    // re-rank of the fused top-16 (λ·rel − μ·max-sim greedy, five picks)
    // with fused relevance and int64-exact pairwise cosines. The oracle
    // replays ALL FOUR stages: BM25 scoring, the hierarchy descent, the
    // RRF sum, and every greedy argmax round; fused candidates without an
    // embedding row drop on the inner join (q192's discipline) on both
    // engines.
    Qd("q384_rag_capstone", ragCapstoneOracle) { (s, dir) =>
      import graft.operators.{GraphAnn, Mmr, Retrieval}
      import s.implicits._
      val sf = new java.io.File(dir).getName.replace(".", "_")
      val bmIdx = s"${Engine.scratchRoot}/ddl/$sf/g384_bm"
      Retrieval.bm25WriteIndex(docs(s, dir), bmIdx, nBuckets = 16)
      val lex = Retrieval.bm25TopKIndexed(s, bmIdx, bm25Queries, k = 20)
        .select(col("query_id"), col("doc_id"), col("rk"))
      val e = graft.Engine.table(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
      val gIdx = s"${Engine.scratchRoot}/ddl/$sf/g384_graph"
      GraphAnn.writeIndex(e, gIdx, m = 8, m1 = 4, nBuckets = 16,
        g0Opt = Some(Pipeline.cachedGraph(s, dir, "full_m8")(
          GraphAnn.knnGraph(e, 8))),
        g1Opt = Some(Pipeline.cachedGraph(s, dir, "lvl1_m4")(
          GraphAnn.knnGraph(GraphAnn.levelNodes(e, 1), 4))),
        maxLayers = 1)
      val qv = Seq((1, 7L), (2, 14L), (3, 21L)).toDF("query_id", "qvec_id")
      val dense = GraphAnn.probeIndex(
          e.filter(col("id").isin(7L, 14L, 21L)), gIdx, 16,
          ef1 = 8, hops1 = 2, ef = 16, hops = 2)
        .join(broadcast(qv), col("qid") === col("qvec_id"))
        .select(col("query_id"), col("cid").as("doc_id"), col("rk"))
      val fused = Retrieval.rrfFuse(Seq(lex, dense), k = 16)
      Mmr.mmrRerank(fused.select(col("query_id"), col("doc_id"),
          col("rrf_micro").as("rel_micro")), e, k = 5,
          lam = 0.7, mu = 0.3)
        .orderBy("query_id", "pick")
    },

    // INCREMENTAL BM25 INGEST (VERDICT r16 task 1 — the last write-once
    // index gains the zoo-wide train-once/add-forever discipline): build
    // the persisted index from a third of the corpus, grow it with two
    // [[Retrieval.bm25AddBatch]] batches (postings/df rows append per term
    // bucket; the N/avgdl scalars append as per-batch (n_docs, dl_sum)
    // deltas the probe folds with exact integer sums + ONE division), then
    // probe. Batches commute, so the oracle is q188's one-shot full-corpus
    // scoring chain UNCHANGED — the multi-batch == one-shot equivalence IS
    // the checked claim (RetrievalSpec additionally pins batch-order
    // independence).
    Qd("q385_bm25_index_ingest",
      s"""WITH $bm25Ctes,
        |rk AS (SELECT query_id, doc_id, wq,
        |  row_number() OVER (PARTITION BY query_id ORDER BY wq DESC, doc_id) AS rk FROM sc)
        |SELECT query_id, doc_id, rk, ROUND(CAST(wq AS DOUBLE)/1000000.0, 4) AS score
        |FROM rk WHERE rk <= 10 ORDER BY query_id, rk""") { (s, dir) =>
      val d = docs(s, dir)
      val idx = bm25IndexPath(dir) + "_ingest"
      Retrieval.bm25WriteIndex(d.filter(col("doc_id") % 3 === 0), idx)
      Retrieval.bm25AddBatch(d.filter(col("doc_id") % 3 === 1), idx)
      Retrieval.bm25AddBatch(d.filter(col("doc_id") % 3 === 2), idx)
      // LSM compaction folds the batch files/deltas; the probe result is
      // unchanged by contract, so the same oracle checks it (r17)
      Retrieval.bm25CompactIndex(s, idx)
      Retrieval.bm25TopKIndexed(s, idx, bm25Queries, k = 10)
        .orderBy("query_id", "rk")
    },

    // INCREMENTAL POSITIONAL INGEST — the phrase-index counterpart:
    // positional state is purely per-document, so each
    // [[Retrieval.phraseAddBatch]] is one bucket-partitioned append and
    // the grown index probes exactly like q373's one-shot build (same
    // phrases, same oracle — including the repeated-term distinct-offset
    // edge case crossing batch boundaries).
    Qd("q386_phrase_index_ingest",
      """WITH tokp AS (
        |  SELECT doc_id,
        |    unnest(generate_series(1, len(string_split(text, ' ')))) - 1 AS pos,
        |    unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tp AS (SELECT doc_id, pos, term FROM tokp WHERE term <> ''),
        |ph(phrase_id, term, off, plen) AS (VALUES
        |  (1, 'spark', 0, 2), (1, 'join', 1, 2),
        |  (2, 'big', 0, 2), (2, 'big', 1, 2),
        |  (3, 'the', 0, 3), (3, 'line', 1, 3), (3, 'sort', 2, 3)),
        |occ AS (SELECT ph.phrase_id, tp.doc_id, tp.pos - ph.off AS anchor, ph.plen
        |  FROM tp JOIN ph ON tp.term = ph.term
        |  WHERE tp.pos - ph.off >= 0
        |  GROUP BY 1, 2, 3, 4
        |  HAVING count(DISTINCT ph.off) = ph.plen),
        |agg AS (SELECT phrase_id, doc_id, CAST(count(*) AS BIGINT) AS n_occ
        |  FROM occ GROUP BY 1, 2),
        |rkd AS (SELECT phrase_id, doc_id, n_occ,
        |  row_number() OVER (PARTITION BY phrase_id ORDER BY n_occ DESC, doc_id) AS rk
        |  FROM agg)
        |SELECT phrase_id, doc_id, n_occ, CAST(rk AS BIGINT) AS rk
        |FROM rkd WHERE rk <= 10 ORDER BY phrase_id, rk""") { (s, dir) =>
      val d = docs(s, dir)
      val idx = phraseIndexPath(dir) + "_ingest"
      Retrieval.phraseWriteIndex(d.filter(col("doc_id") % 3 === 0), idx)
      Retrieval.phraseAddBatch(d.filter(col("doc_id") % 3 === 1), idx)
      Retrieval.phraseAddBatch(d.filter(col("doc_id") % 3 === 2), idx)
      Retrieval.phraseCompactIndex(s, idx)
      Retrieval.phraseTopKIndexed(s, idx, Seq(
          1 -> Seq("spark", "join"), 2 -> Seq("big", "big"),
          3 -> Seq("the", "line", "sort")), k = 10)
        .orderBy("phrase_id", "rk")
    },

    // HYBRID TOPK AS ONE SQL STATEMENT (VERDICT r16 stretch task 8 — the
    // q384 RAG composition behind a single textual surface): CREATE the
    // persisted BM25 index on the document view and the two-layer GRAPH
    // index on the vector view through Engine.sql's transparent routing,
    // then ONE `HYBRID TOPK … VECTORS … QUERIES ((id,'terms',anchor),…)`
    // statement runs lexical probe → dense descent → RRF → MMR. Same
    // stages, same parameters, same data as q384 — so the SAME four-stage
    // oracle replay checks the whole statement.
    Qd("q388_hybrid_topk_sql", ragCapstoneOracle) { (s, dir) =>
      import graft.operators.IndexZooSql
      IndexZooSql.reset(s)
      val sf = new java.io.File(dir).getName.replace(".", "_")
      docs(s, dir).createOrReplaceTempView("g388_docs")
      graft.Engine.table(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
        .createOrReplaceTempView("g388_emb")
      graft.Engine.sql(s, dir, "CREATE FULLTEXT INDEX g388_bm ON " +
        "g388_docs (text) AS 'BM25' OPTIONS (buckets=16, " +
        s"path='${Engine.scratchRoot}/ddl/$sf/g388_bm')")
      graft.Engine.sql(s, dir, "CREATE VECTOR INDEX g388_vi ON g388_emb " +
        "(embedding) AS 'GRAPH' OPTIONS (m=8, m1=4, buckets=16, " +
        s"maxlayers=1, path='${Engine.scratchRoot}/ddl/$sf/g388_vi')")
      graft.Engine.sql(s, dir, "HYBRID TOPK ON g388_docs (text) " +
          "VECTORS g388_emb (embedding) QUERIES ((1,'dup',7), " +
          "(2,'spark join',14), (3,'customer order fast',21)) LIMIT 5 " +
          "OPTIONS (nlex=20, ndense=16, nfuse=16, ef1=8, hops1=2, " +
          "ef=16, hops=2)")
        .orderBy("query_id", "pick")
    },

    // STREAMING FULLTEXT INGEST ([[graft.streaming.StreamOps
    // .streamingBm25Index]] — the q253 streaming-index capstone applied
    // to BM25, closing the r17 incremental-ingest loop end-to-end):
    // document micro-batches commit into the txn log exactly-once (burned
    // batch keys absorb the deliberate double-delivery), the consumer
    // folds each batch's CDC range into the persisted BM25 index
    // (bootstrap, then bm25AddBatch appends), and the final probe must be
    // bit-identical to a one-shot full-corpus build — so the oracle is
    // q188/q385's one-shot scoring chain UNCHANGED. The stream never
    // rebuilds: per batch, work is that batch's own tokenize+append.
    Qd("q390_streaming_bm25_index",
      s"""WITH $bm25Ctes,
        |rk AS (SELECT query_id, doc_id, wq,
        |  row_number() OVER (PARTITION BY query_id ORDER BY wq DESC, doc_id) AS rk FROM sc)
        |SELECT query_id, doc_id, rk, ROUND(CAST(wq AS DOUBLE)/1000000.0, 4) AS score
        |FROM rk WHERE rk <= 10 ORDER BY query_id, rk""") { (s, dir) =>
      val sf = new java.io.File(dir).getName.replace(".", "_")
      graft.streaming.StreamOps.streamingBm25Index(s, dir,
          s"${Engine.scratchRoot}/ddl/$sf/g390_txn",
          s"${Engine.scratchRoot}/ddl/$sf/g390_idx", bm25Queries, k = 10)
        .orderBy("query_id", "rk")
    }
  )

  /** Per-sf-dir index location under this checkout's target dir — each
    * builder stays self-contained (build-then-probe), and two SFs never
    * share an index. */
  private def bm25IndexPath(dir: String): String =
    s"${Engine.scratchRoot}/bm25index/${dir.replaceAll("[^A-Za-z0-9.]", "_")}"

  private def phraseIndexPath(dir: String): String =
    s"${Engine.scratchRoot}/phraseindex/${dir.replaceAll("[^A-Za-z0-9.]", "_")}"

  /** The q384 four-stage oracle (BM25 scoring -> two-layer descent ->
    * RRF -> five greedy MMR rounds), shared with q388: the HYBRID TOPK
    * SQL statement routes to exactly the same composition, so one replay
    * checks both. */
  private lazy val ragCapstoneOracle: String = {
      val gHier =
        s"""lv AS (SELECT vec_id FROM cc WHERE ${Pipeline.lvlDrawSql("vec_id")}),
          |ln AS (SELECT cn.* FROM cn JOIN lv USING (vec_id)),
          |gp1 AS (SELECT a.vec_id AS src, b.vec_id AS dst, ${Pipeline.cosSql("a", "b")} AS cos
          |  FROM ln a, ln b WHERE a.vec_id <> b.vec_id),
          |g1 AS MATERIALIZED (SELECT src, dst FROM (SELECT src, dst,
          |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM gp1)
          |  WHERE rn <= 4),
          |gp0 AS (SELECT a.vec_id AS src, b.vec_id AS dst, ${Pipeline.cosSql("a", "b")} AS cos
          |  FROM cn a, cn b WHERE a.vec_id <> b.vec_id),
          |g0 AS MATERIALIZED (SELECT src, dst FROM (SELECT src, dst,
          |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM gp0)
          |  WHERE rn <= 8)""".stripMargin
      def mmrRound(i: Int): String = {
        val prev = if (i == 2) "sel1" else s"sel${i - 1}"
        s"""r$i AS (SELECT c.qid, c.cid, c.rel,
          |    CAST(0.7 AS DOUBLE)*c.rel - CAST(0.3 AS DOUBLE)*max(p.pcos) AS score
          |  FROM cand c
          |  LEFT JOIN $prev e ON e.qid = c.qid AND e.cid = c.cid
          |  JOIN pc p ON p.qid = c.qid AND p.dc = c.cid
          |  JOIN $prev s ON s.qid = p.qid AND s.cid = p.sc
          |  WHERE e.cid IS NULL
          |  GROUP BY c.qid, c.cid, c.rel),
          |s$i AS (SELECT qid, cid, rel, score FROM (
          |    SELECT r.*, row_number() OVER (
          |      PARTITION BY qid ORDER BY score DESC, cid) AS rn FROM r$i r)
          |  WHERE rn = 1),
          |sel$i AS (SELECT qid, cid FROM $prev
          |  UNION ALL SELECT qid, cid FROM s$i)""".stripMargin
      }
      s"""WITH $bm25Ctes,
        |bml AS MATERIALIZED (SELECT query_id, doc_id, rk FROM (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY wq DESC, doc_id) AS rk
        |  FROM sc) WHERE rk <= 20),
        |${Pipeline.qCte("qq", "WHERE vec_id IN (7, 14, 21)")},
        |${Pipeline.qCte("cc", "")},
        |cn AS MATERIALIZED (SELECT vec_id, qe,
        |  CAST(list_sum(list_transform(range(1, 65), i -> qe[i]*qe[i])) AS BIGINT) AS n2 FROM cc),
        |qn AS MATERIALIZED (SELECT vec_id, qe,
        |  CAST(list_sum(list_transform(range(1, 65), i -> qe[i]*qe[i])) AS BIGINT) AS n2 FROM qq),
        |$gHier,
        |ps AS MATERIALIZED (SELECT q.vec_id AS qid, c.vec_id AS cid, ${Pipeline.cosSql("q", "c")} AS cos
        |  FROM qn q, cn c WHERE q.vec_id <> c.vec_id),
        |ent AS (SELECT vec_id FROM lv ORDER BY vec_id LIMIT 8),
        |${Pipeline.beamWalkCtes("u", "g1", "ps", "ent", 8, 2)},
        |${Pipeline.beamWalkCtesSeeded("", "g0", "ps", "ub2", 16, 2)},
        |drk AS (SELECT qid, cid,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
        |  FROM b2),
        |qv(query_id, qvec_id) AS (VALUES (1, 7), (2, 14), (3, 21)),
        |dsl AS MATERIALIZED (SELECT qv.query_id, d.cid AS doc_id, d.rk
        |  FROM drk d JOIN qv ON d.qid = qv.qvec_id WHERE d.rk <= 16),
        |u2 AS (SELECT query_id, doc_id,
        |    CAST(round(CAST(1000000.0 AS DOUBLE)/(60+rk)) AS BIGINT) AS c FROM bml
        |  UNION ALL SELECT query_id, doc_id,
        |    CAST(round(CAST(1000000.0 AS DOUBLE)/(60+rk)) AS BIGINT) FROM dsl),
        |f AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro
        |  FROM u2 GROUP BY 1, 2),
        |fr AS (SELECT query_id, doc_id, rrf_micro FROM (
        |  SELECT f.*, row_number() OVER (
        |    PARTITION BY query_id ORDER BY rrf_micro DESC, doc_id) AS rk
        |  FROM f) WHERE rk <= 16),
        |cand AS MATERIALIZED (SELECT fr.query_id AS qid, fr.doc_id AS cid,
        |    CAST(rrf_micro AS DOUBLE)/1000000.0 AS rel
        |  FROM fr JOIN cn ON cn.vec_id = fr.doc_id),
        |pc AS MATERIALIZED (SELECT a.qid, a.cid AS dc, b.cid AS sc,
        |    CASE WHEN CAST(x.n2 AS DOUBLE)*CAST(y.n2 AS DOUBLE) = 0 THEN -1.0
        |      ELSE CAST(CAST(list_sum(list_transform(range(1, 65), i -> x.qe[i]*y.qe[i])) AS BIGINT) AS DOUBLE)
        |        / sqrt(CAST(x.n2 AS DOUBLE)*CAST(y.n2 AS DOUBLE)) END AS pcos
        |  FROM cand a JOIN cand b ON a.qid = b.qid AND a.cid <> b.cid
        |  JOIN cn x ON x.vec_id = a.cid JOIN cn y ON y.vec_id = b.cid),
        |s1 AS (SELECT qid, cid, rel, score FROM (
        |    SELECT qid, cid, rel, CAST(0.7 AS DOUBLE)*rel AS score,
        |      row_number() OVER (
        |        PARTITION BY qid ORDER BY CAST(0.7 AS DOUBLE)*rel DESC, cid) AS rn
        |    FROM cand) WHERE rn = 1),
        |sel1 AS (SELECT qid, cid FROM s1),
        |${mmrRound(2)},
        |${mmrRound(3)},
        |${mmrRound(4)},
        |${mmrRound(5)}
        |SELECT query_id, doc_id, pick, ROUND(rel, 6) AS rel,
        |  ROUND(score, 6) AS score
        |FROM (
        |  SELECT qid AS query_id, cid AS doc_id, CAST(1 AS BIGINT) AS pick,
        |    rel, score FROM s1
        |  UNION ALL SELECT qid, cid, 2, rel, score FROM s2
        |  UNION ALL SELECT qid, cid, 3, rel, score FROM s3
        |  UNION ALL SELECT qid, cid, 4, rel, score FROM s4
        |  UNION ALL SELECT qid, cid, 5, rel, score FROM s5)
        |ORDER BY query_id, pick""".stripMargin
  }
}
