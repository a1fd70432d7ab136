package graft

import graft.operators.{AnnSearch, IndexStore, IndexZooSql, Retrieval}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The index-zoo DDL dispatcher's contracts ([[IndexZooSql]]): statement
  * routing and parse failures, covering rules (one vector index per
  * column, fulltext kinds coexist), indexed-vs-degraded probe results,
  * and managed DROP. Runs on sf0.001. */
class IndexZooSqlSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 4, appName = "graft-test")
  val dir = "/root/testdata/sf0.001"
  import spark.implicits._

  override def afterAll(): Unit = spark.stop()

  private def emb = Engine.table(spark, dir, "embeddings")
    .select(col("vec_id").as("id"), col("embedding"))
  private def docs = Engine.table(spark, dir, "documents")
    .select(col("doc_id"), col("text"))

  private val root = "/tmp/indexzoo_spec"

  test("vector lifecycle: create routes probes to the graph index, drop " +
      "degrades the SAME statement to the exact brute scan") {
    IndexZooSql.reset(spark)
    emb.createOrReplaceTempView("izs_corpus")
    emb.filter(col("id") < 10).createOrReplaceTempView("izs_queries")
    IndexZooSql.sql(spark, "CREATE VECTOR INDEX izs_vi ON izs_corpus " +
      s"(embedding) AS 'GRAPH' OPTIONS (m=8, m1=4, buckets=8, path='$root/vi')")
    val probe = "VECTOR TOPK ON izs_corpus (embedding) QUERIES izs_queries " +
      "LIMIT 5 OPTIONS (ef1=8, hops1=2, ef=16, hops=2)"
    val indexed = IndexZooSql.sql(spark, probe)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(indexed.nonEmpty)
    IndexZooSql.sql(spark, "DROP VECTOR INDEX izs_vi")
    assert(!new java.io.File(s"$root/vi").exists(), "DROP must retire files")
    val scanned = IndexZooSql.sql(spark, probe)
      .as[(Long, Long, Long, Double)].collect().toSet
    val brute = AnnSearch.bruteTopK(
        emb.filter(col("id") < 10), emb, 5)
      .select(col("qid"), col("cid"), col("rk").cast("bigint"), col("cos"))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(scanned == brute, "degraded probe must be the exact brute scan")
  }

  test("covering rules: a second vector index on the column is rejected; " +
      "BM25 and POSITIONAL coexist and route their own probes") {
    IndexZooSql.reset(spark)
    emb.createOrReplaceTempView("izs_corpus2")
    docs.createOrReplaceTempView("izs_docs")
    IndexZooSql.sql(spark, "CREATE VECTOR INDEX izs_a ON izs_corpus2 " +
      s"(embedding) AS 'BINARY' OPTIONS (path='$root/a')")
    intercept[IllegalArgumentException](IndexZooSql.sql(spark,
      "CREATE VECTOR INDEX izs_b ON izs_corpus2 (embedding) AS 'GRAPH' " +
        s"OPTIONS (path='$root/b')"))
    IndexZooSql.sql(spark, "CREATE FULLTEXT INDEX izs_bm ON izs_docs " +
      s"(text) AS 'BM25' OPTIONS (buckets=8, path='$root/bm')")
    IndexZooSql.sql(spark, "CREATE FULLTEXT INDEX izs_ps ON izs_docs " +
      s"(text) AS 'POSITIONAL' OPTIONS (buckets=8, path='$root/ps')")
    val shown = IndexZooSql.sql(spark, "SHOW VECTOR INDEXES")
      .select("idx_name").as[String].collect().toSet
    assert(shown == Set("izs_a", "izs_bm", "izs_ps"))
    val ft = IndexZooSql.sql(spark,
      "FULLTEXT TOPK ON izs_docs (text) QUERIES ((1,'dup')) LIMIT 3")
    val ftRef = Retrieval.bm25TopK(docs, Seq(1 -> Seq("dup")), 3)
    assert(ft.collect().map(_.toSeq).toSet ==
      ftRef.collect().map(_.toSeq).toSet,
      "indexed BM25 must equal the one-shot scorer")
    IndexZooSql.sql(spark, "DROP VECTOR INDEX izs_a")
    IndexZooSql.sql(spark, "DROP FULLTEXT INDEX izs_bm")
    IndexZooSql.sql(spark, "DROP FULLTEXT INDEX izs_ps")
  }

  test("persisted registry: cross-session probe with the base view " +
      "dropped (IVF_PQ self-contained rescore), stale-file guard fires") {
    import graft.operators.IvfPq
    IndexZooSql.reset(spark)
    val e = emb
    e.createOrReplaceTempView("izs_corpus4")
    IndexZooSql.sql(spark, "CREATE VECTOR INDEX izs_pq ON izs_corpus4 " +
      s"(embedding) AS 'IVF_PQ' OPTIONS (stride=40, path='$root/pq')")
    // corpus-fed reference BEFORE anything is dropped
    val ref = IvfPq.probeIndex(e.filter(col("id") < 10), e,
        IvfPq.openIndex(spark, s"$root/pq"), 5, nprobe = 4, shortlist = 64)
      .select(col("qid"), col("cid"), col("rk").cast("bigint"), col("cos"))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(ref.nonEmpty)
    // base view GONE: the probe must serve entirely from the index
    spark.catalog.dropTempView("izs_corpus4")
    e.filter(col("id") < 10).createOrReplaceTempView("izs_q4")
    val probe = "VECTOR TOPK ON izs_corpus4 (embedding) QUERIES izs_q4 " +
      "LIMIT 5 OPTIONS (nprobe=4, shortlist=64)"
    val got = IndexZooSql.sql(spark, probe)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == ref, "self-contained probe diverged from corpus-fed probe")
    // FRESH session: the persisted registry routes with no re-CREATE
    val s2 = spark.newSession()
    Engine.table(s2, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding"))
      .filter(col("id") < 10).createOrReplaceTempView("izs_q4")
    val got2 = IndexZooSql.sql(s2, probe).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got2 == ref, "cross-session probe diverged")
    // stale-data guard: the view name re-pointed at a DIFFERENT file set
    // must fail loudly, not route to the stale index
    val altPath = s"$root/alt_corpus"
    e.filter(col("id") % 2 === 0).write.mode("overwrite").parquet(altPath)
    spark.read.parquet(altPath).createOrReplaceTempView("izs_corpus4")
    val ex = intercept[IllegalArgumentException](
      IndexZooSql.sql(spark, probe))
    assert(ex.getMessage.contains("fingerprint"), ex.getMessage)
    IndexZooSql.sql(spark, "DROP VECTOR INDEX izs_pq")
  }

  test("hybrid topk: one statement composes lexical + dense + RRF + MMR; " +
      "the degraded run equals the explicit exact composition") {
    IndexZooSql.reset(spark)
    docs.createOrReplaceTempView("izs_hdocs")
    emb.createOrReplaceTempView("izs_hemb")
    IndexZooSql.sql(spark, "CREATE FULLTEXT INDEX izs_hbm ON izs_hdocs " +
      s"(text) AS 'BM25' OPTIONS (buckets=8, path='$root/hbm')")
    IndexZooSql.sql(spark, "CREATE VECTOR INDEX izs_hvi ON izs_hemb " +
      "(embedding) AS 'GRAPH' OPTIONS (m=8, m1=4, buckets=8, " +
      s"maxlayers=1, path='$root/hvi')")
    val stmt = "HYBRID TOPK ON izs_hdocs (text) VECTORS izs_hemb " +
      "(embedding) QUERIES ((1,'dup',7), (2,'spark join',14)) LIMIT 3 " +
      "OPTIONS (nlex=20, ndense=16, nfuse=16)"
    val indexed = IndexZooSql.sql(spark, stmt).collect().map(_.toSeq)
    assert(indexed.length == 6 &&
      indexed.map(r => (r(0), r(2))).toSet ==
        (for (q <- Seq(1, 2); p <- 1L to 3L) yield (q, p)).toSet,
      s"expected 3 picks per query, got: $indexed")
    IndexZooSql.sql(spark, "DROP FULLTEXT INDEX izs_hbm")
    IndexZooSql.sql(spark, "DROP VECTOR INDEX izs_hvi")
    // the DEGRADED run must equal the explicit exact composition — the
    // statement is sugar for bm25TopK + bruteTopK + rrfFuse + mmrRerank.
    // (It may differ from the INDEXED run: the graph descent's dense list
    // is approximate while brute is exact — routing changes WHERE the
    // dense candidates come from, and each mode is checked against its
    // own ground truth: q388's oracle replays the indexed composition.)
    val degraded = IndexZooSql.sql(spark, stmt).collect().map(_.toSeq).toSet
    val qs = Seq(1 -> Seq("dup"), 2 -> Seq("spark", "join"))
    val lex = Retrieval.bm25TopK(docs, qs, 20)
      .select(col("query_id"), col("doc_id"), col("rk"))
    val s2 = spark
    import s2.implicits._
    val qv = Seq((1, 7L), (2, 14L)).toDF("query_id", "qvec_id")
    val dense = AnnSearch.bruteTopK(emb.filter(col("id").isin(7L, 14L)),
        emb, 16)
      .join(broadcast(qv), col("qid") === col("qvec_id"))
      .select(col("query_id"), col("cid").as("doc_id"), col("rk"))
    val fused = Retrieval.rrfFuse(Seq(lex, dense), 16)
    val explicit = graft.operators.Mmr.mmrRerank(
        fused.select(col("query_id"), col("doc_id"),
          col("rrf_micro").as("rel_micro")), emb, 3, lam = 0.7, mu = 0.3)
      .collect().map(_.toSeq).toSet
    assert(degraded == explicit,
      "degraded hybrid statement diverged from the explicit composition")
  }

  test("parse failures are loud: bad kind, SQ8, bad options, missing index") {
    IndexZooSql.reset(spark)
    emb.createOrReplaceTempView("izs_corpus3")
    intercept[IllegalArgumentException](IndexZooSql.sql(spark,
      "CREATE VECTOR INDEX z ON izs_corpus3 (embedding) AS 'LSH'"))
    intercept[IllegalArgumentException](IndexZooSql.sql(spark,
      "CREATE VECTOR INDEX z ON izs_corpus3 (embedding) AS 'SQ8'"))
    intercept[IllegalArgumentException](IndexZooSql.sql(spark,
      "CREATE VECTOR INDEX z ON izs_corpus3 (embedding) AS 'GRAPH' " +
        "OPTIONS (m)"))
    intercept[IllegalArgumentException](IndexZooSql.sql(spark,
      "DROP VECTOR INDEX never_created"))
    intercept[IllegalArgumentException](IndexZooSql.sql(spark,
      "CREATE VECTOR INDEX z ON izs_corpus3 (no_such_col) AS 'BINARY'"))
  }

  test("ALTER index DML: ADD/REMOVE/COMPACT maintain a BINARY index to " +
      "exactly the probe of a fresh live-set build; fulltext REMOVE and " +
      "unknown names fail loudly") {
    IndexZooSql.reset(spark)
    emb.filter(col("id") % 2 === 0).createOrReplaceTempView("izs_alter_base")
    emb.filter(col("id") % 2 === 1).createOrReplaceTempView("izs_alter_add")
    emb.filter(col("id") % 10 === 3).select("id")
      .createOrReplaceTempView("izs_alter_rm")
    emb.filter(col("id") < 10).createOrReplaceTempView("izs_alter_q")
    IndexZooSql.sql(spark, "CREATE VECTOR INDEX izs_avi ON izs_alter_base " +
      s"(embedding) AS 'BINARY' OPTIONS (path='$root/avi')")
    IndexZooSql.sql(spark, "ALTER VECTOR INDEX izs_avi ADD FROM izs_alter_add")
    IndexZooSql.sql(spark,
      "ALTER VECTOR INDEX izs_avi REMOVE FROM izs_alter_rm")
    val probe = "VECTOR TOPK ON izs_alter_base (embedding) QUERIES " +
      "izs_alter_q LIMIT 5 OPTIONS (shortlist=16)"
    val churned = IndexZooSql.sql(spark, probe)
      .collect().map(_.toSeq).toSet
    IndexZooSql.sql(spark, "ALTER VECTOR INDEX izs_avi COMPACT")
    assert(!IndexStore.latest(spark, s"$root/avi").get.has(IndexStore.TOMBS) &&
      !new java.io.File(s"$root/avi").list().exists(_.startsWith("tombstones")),
      "COMPACT must fold the tombstone sidecar away")
    assert(IndexZooSql.sql(spark, probe).collect().map(_.toSeq).toSet
      == churned, "COMPACT must never change a probe result")
    // oracle: a fresh one-shot build over the live rows probes identically
    IndexZooSql.sql(spark, "DROP VECTOR INDEX izs_avi")
    emb.filter(col("id") % 10 =!= 3).createOrReplaceTempView("izs_alter_live")
    IndexZooSql.sql(spark, "CREATE VECTOR INDEX izs_avi2 ON izs_alter_live " +
      s"(embedding) AS 'BINARY' OPTIONS (path='$root/avi2')")
    val fresh = IndexZooSql.sql(spark, "VECTOR TOPK ON izs_alter_live " +
        "(embedding) QUERIES izs_alter_q LIMIT 5 OPTIONS (shortlist=16)")
      .collect().map(_.toSeq).toSet
    assert(churned == fresh,
      "ALTER-maintained index must probe like a fresh live-set build")
    IndexZooSql.sql(spark, "DROP VECTOR INDEX izs_avi2")
    // loud failures: REMOVE on a fulltext index, ALTER of a missing index
    docs.createOrReplaceTempView("izs_alter_docs")
    IndexZooSql.sql(spark, "CREATE FULLTEXT INDEX izs_aft ON izs_alter_docs " +
      s"(text) AS 'BM25' OPTIONS (buckets=8, path='$root/aft')")
    val ex = intercept[IllegalArgumentException](IndexZooSql.sql(spark,
      "ALTER FULLTEXT INDEX izs_aft REMOVE FROM izs_alter_rm"))
    assert(ex.getMessage.contains("VECTOR indexes only"), ex.getMessage)
    intercept[IllegalArgumentException](IndexZooSql.sql(spark,
      "ALTER VECTOR INDEX izs_missing COMPACT"))
    IndexZooSql.sql(spark, "DROP FULLTEXT INDEX izs_aft")
  }

  test("ALTER routes reach every kind: GRAPH and IVF_PQ ADD/REMOVE/" +
      "COMPACT, FULLTEXT ADD matches a one-shot build") {
    IndexZooSql.reset(spark)
    emb.filter(col("id") % 2 === 0).createOrReplaceTempView("izs_k_base")
    emb.filter(col("id") % 2 === 1).createOrReplaceTempView("izs_k_add")
    emb.filter(col("id") % 10 === 2).select("id")
      .createOrReplaceTempView("izs_k_rm")
    emb.filter(col("id") < 10).createOrReplaceTempView("izs_k_q")
    for ((kind, opts) <- Seq(
        "GRAPH" -> "m=8, m1=4, buckets=8, maxlayers=1, ",
        // pqstride=4: the codebook samples ids % stride == 0, and the
        // evens-only base view must still yield 16 of them
        "IVF_PQ" -> "stride=40, m=16, ncent=16, pqstride=4, ")) {
      IndexZooSql.sql(spark, s"CREATE VECTOR INDEX izs_ki ON izs_k_base " +
        s"(embedding) AS '$kind' OPTIONS (${opts}path='$root/ki')")
      IndexZooSql.sql(spark, "ALTER VECTOR INDEX izs_ki ADD FROM izs_k_add")
      IndexZooSql.sql(spark, "ALTER VECTOR INDEX izs_ki REMOVE FROM izs_k_rm")
      val got = IndexZooSql.sql(spark, "VECTOR TOPK ON izs_k_base " +
          "(embedding) QUERIES izs_k_q LIMIT 5 OPTIONS (shortlist=16)")
        .collect().map(_.toSeq).toSet
      assert(got.nonEmpty, s"$kind probe came back empty")
      assert(got.forall(r => r(1).asInstanceOf[Long] % 10 != 2),
        s"$kind: removed ids surfaced")
      // the ALTER-added odd ids must be reachable (the add was real)
      assert(got.exists(r => r(1).asInstanceOf[Long] % 2 == 1),
        s"$kind: no added id in any top-5 (add batch not indexed?)")
      IndexZooSql.sql(spark, "ALTER VECTOR INDEX izs_ki COMPACT")
      val post = IndexZooSql.sql(spark, "VECTOR TOPK ON izs_k_base " +
          "(embedding) QUERIES izs_k_q LIMIT 5 OPTIONS (shortlist=16)")
        .collect().map(_.toSeq).toSet
      assert(post == got, s"$kind: COMPACT changed probe results")
      IndexZooSql.sql(spark, "DROP VECTOR INDEX izs_ki")
    }
    // FULLTEXT ADD: a two-batch ALTER-grown BM25 index == one-shot build
    docs.filter(col("doc_id") % 2 === 0).createOrReplaceTempView("izs_k_d0")
    docs.filter(col("doc_id") % 2 === 1).createOrReplaceTempView("izs_k_d1")
    docs.createOrReplaceTempView("izs_k_dall")
    IndexZooSql.sql(spark, "CREATE FULLTEXT INDEX izs_kf ON izs_k_d0 " +
      s"(text) AS 'BM25' OPTIONS (buckets=8, path='$root/kf')")
    IndexZooSql.sql(spark, "ALTER FULLTEXT INDEX izs_kf ADD FROM izs_k_d1")
    IndexZooSql.sql(spark, "ALTER FULLTEXT INDEX izs_kf COMPACT")
    val grown = Retrieval.bm25TopKIndexed(spark, s"$root/kf",
        Seq(1 -> Seq("spark", "join")), 5)
      .collect().map(_.toSeq).toSet
    val oneShot = {
      Retrieval.bm25WriteIndex(docs, s"$root/kf1", nBuckets = 8)
      Retrieval.bm25TopKIndexed(spark, s"$root/kf1",
          Seq(1 -> Seq("spark", "join")), 5)
        .collect().map(_.toSeq).toSet
    }
    assert(grown == oneShot,
      "ALTER-grown BM25 index must probe like a one-shot build")
    IndexZooSql.sql(spark, "DROP FULLTEXT INDEX izs_kf")
  }
}
