package graft

import graft.operators.{AnnSearch, GraphAnn}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Graph-probed ANN contracts ([[GraphAnn]]): graph determinism and
  * degree bound, exact scores on the walked beam, recall floor at the
  * production schedule, brute degeneracy when the entry beam covers the
  * corpus, and the schedule-bounded probe-cost claim. Runs on sf0.001. */
class GraphAnnSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 4, appName = "graft-test")
  val dir = "/root/testdata/sf0.001"
  import spark.implicits._

  override def afterAll(): Unit = spark.stop()

  private def emb = Engine.table(spark, dir, "embeddings")
    .select(col("vec_id").as("id"), col("embedding"), col("label"))

  test("knn graph: out-degree == m, no self loops, deterministic rebuild") {
    val g1 = GraphAnn.knnGraph(emb, 8).as[(Long, Long)].collect().toSet
    assert(g1.forall { case (s, d) => s != d }, "self loop in knn graph")
    val deg = g1.groupBy(_._1).map(_._2.size).toSet
    assert(deg == Set(8), s"expected uniform out-degree 8, got $deg")
    val g2 = GraphAnn.knnGraph(emb, 8).as[(Long, Long)].collect().toSet
    assert(g1 == g2, "graph build must be deterministic")
  }

  test("beam walk: exact scores, recall floor, brute degeneracy when the " +
      "entry beam covers the corpus") {
    val queries = emb.filter(col("id") < 30)
    val brute = AnnSearch.bruteTopK(queries, emb, 10)
      .select("qid", "cid", "cos").as[(Long, Long, Double)].collect()
    val bruteSet = brute.map(r => (r._1, r._2)).toSet
    val gr = GraphAnn.graphTopK(queries, emb, 10, m = 8, ef = 16, hops = 4)
      .select("qid", "cid", "cos").as[(Long, Long, Double)].collect()
    // every reported score is the exact cosine (graph decides WHO is
    // scored, never the score)
    val bruteCos = brute.map(r => (r._1, r._2) -> r._3).toMap
    gr.foreach { case (q, c, cos) =>
      bruteCos.get((q, c)).foreach(b => assert(b == cos,
        s"beam reported approx score for ($q,$c): $cos != exact $b"))
    }
    // measured recall floor at the production schedule (m=8/ef=16/hops=4
    // explores <= ef·(m+1)·hops candidates of a 500-node corpus)
    val recall = (bruteSet & gr.map(r => (r._1, r._2)).toSet).size.toDouble / bruteSet.size
    assert(recall >= 0.5, s"graph-beam recall=$recall")
    // ef >= |corpus| makes the ENTRY beam the whole corpus: the walk
    // degenerates to brute force exactly, regardless of graph shape
    val full = GraphAnn.graphTopK(queries, emb, 10, m = 8, ef = 100000,
        hops = 1)
      .select("qid", "cid", "cos").as[(Long, Long, Double)].collect()
    assert(full.map(r => (r._1, r._2)).toSet == bruteSet,
      "ef=inf beam must equal brute force (scores are exact)")
  }

  test("blocked build: deterministic, degree-bounded, and the walk over " +
      "the blocked graph holds a recall floor near the exact-graph walk") {
    val queries = emb.filter(col("id") < 30)
    val g1 = GraphAnn.blockedKnnGraph(emb, m = 8, centroidStride = 40)
      .as[(Long, Long)].collect().toSet
    val g2 = GraphAnn.blockedKnnGraph(emb, m = 8, centroidStride = 40)
      .as[(Long, Long)].collect().toSet
    assert(g1 == g2, "blocked build must be deterministic")
    assert(g1.forall { case (s, d) => s != d }, "self loop in blocked graph")
    val deg = g1.groupBy(_._1).map(_._2.size)
    assert(deg.max <= 8, s"out-degree above m: ${deg.max}")
    // the walk over the blocked graph: same schedule as the exact graph,
    // recall floor measured (the blocks only thin the EDGES; the beam
    // still scores exact cosines)
    val brute = AnnSearch.bruteTopK(queries, emb, 10)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val blocked = GraphAnn.beamTopK(queries, emb,
        GraphAnn.blockedKnnGraph(emb, m = 8, centroidStride = 40),
        10, ef = 16, hops = 4)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val recall = (brute & blocked).size.toDouble / brute.size
    assert(recall >= 0.4, s"blocked-graph recall=$recall")
  }

  test("HNSW-style insert: inserted nodes become reachable, degree bound " +
      "holds after re-trim, and insertion never rebuilds the old graph") {
    val queries = emb.filter(col("id") < 30)
    val old = emb.filter(col("id") % 10 =!= 9)
    val batch = emb.filter(col("id") % 10 === 9)
    val g0 = GraphAnn.knnGraph(old, 8)
    val g1 = GraphAnn.insertBatch(g0, emb, batch, m = 8, ef = 16, hops = 4)
      .as[(Long, Long)].collect()
    // every node (old + inserted) respects the trimmed degree bound
    assert(g1.groupBy(_._1).forall(_._2.length <= 8))
    // batch nodes have out-edges (they walked in) AND in-edges (back-edges
    // survived the trim somewhere), so the graph is navigable toward them
    val batchIds = batch.select("id").as[Long].collect().toSet
    assert(batchIds.subsetOf(g1.map(_._1).toSet), "batch node without out-edges")
    assert((batchIds & g1.map(_._2).toSet).nonEmpty, "no in-edge reaches any insert")
    // probing the post-insert graph surfaces inserted nodes where brute
    // force ranks them: compare ONLY the brute hits that are batch ids
    val brute = AnnSearch.bruteTopK(queries, emb, 10)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val bruteBatch = brute.filter(p => batchIds.contains(p._2))
    val probed = GraphAnn.beamTopK(queries, emb,
        GraphAnn.insertBatch(g0, emb, batch, m = 8, ef = 16, hops = 4),
        10, ef = 16, hops = 4)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val hitBatch = (bruteBatch & probed).size.toDouble / math.max(bruteBatch.size, 1)
    assert(bruteBatch.nonEmpty, "fixture too weak: no true neighbor was held out")
    assert(hitBatch >= 0.5, s"inserted-node recall=$hitBatch over ${bruteBatch.size}")
  }

  test("delete with bridge repair: no edge touches a removed node, bridged " +
      "sources keep walking, and the repaired walk never surfaces a removed id") {
    val removed = emb.filter(col("id") % 10 === 3).select("id")
    val removedIds = removed.as[Long].collect().toSet
    val sv = emb.filter(col("id") % 10 =!= 3)
    val g0 = GraphAnn.knnGraph(emb, 8).as[(Long, Long)].collect()
    val g1 = GraphAnn.removeNodes(GraphAnn.knnGraph(emb, 8), sv, removed, 8)
      .as[(Long, Long)].collect()
    // no surviving edge touches a removed node, degree bound holds
    assert(g1.forall { case (s, d) =>
      !removedIds.contains(s) && !removedIds.contains(d) }, "edge touches removed")
    assert(g1.groupBy(_._1).forall(_._2.length <= 8))
    // determinism
    val g2 = GraphAnn.removeNodes(GraphAnn.knnGraph(emb, 8), sv, removed, 8)
      .as[(Long, Long)].collect()
    assert(g1.sorted.toSeq == g2.sorted.toSeq, "delete must be deterministic")
    // repair: every surviving source that edged into a removed node still
    // has out-edges (bridge ∪ kept re-trimmed, never orphaned)
    val touched = g0.collect { case (s, d)
      if removedIds.contains(d) && !removedIds.contains(s) => s }.toSet
    assert(touched.nonEmpty, "fixture too weak: nothing edged into the removed set")
    val srcs = g1.map(_._1).toSet
    assert(touched.subsetOf(srcs), s"orphaned sources: ${(touched -- srcs).take(5)}")
    // the repaired walk never surfaces a removed id, and holds the recall
    // floor against survivor-brute at the production schedule
    val queries = sv.filter(col("id") < 30)
    val probed = GraphAnn.beamTopK(queries, sv,
        GraphAnn.removeNodes(GraphAnn.knnGraph(emb, 8), sv, removed, 8),
        10, ef = 16, hops = 4)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    assert(probed.forall(p => !removedIds.contains(p._2)), "removed id surfaced")
    val brute = AnnSearch.bruteTopK(queries, sv, 10)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val recall = (brute & probed).size.toDouble / brute.size
    assert(recall >= 0.5, s"post-delete recall=$recall")
    // guard: a multi-column removed frame is rejected, not silently masked
    intercept[IllegalArgumentException] {
      GraphAnn.removeNodes(GraphAnn.knnGraph(emb, 8), sv,
        emb.select("id", "label"), 8)
    }
  }

  test("two-layer HNSW: deterministic level split, exact scores, and the " +
      "hierarchical walk holds the flat-schedule recall floor at half the " +
      "bottom-layer hops") {
    val queries = emb.filter(col("id") < 30)
    // the level draw is a pure function of the id: deterministic and sparse
    val l1 = GraphAnn.levelNodes(emb, 1).select("id").as[Long].collect().toSet
    val l1b = GraphAnn.levelNodes(emb, 1).select("id").as[Long].collect().toSet
    assert(l1 == l1b, "level draw must be deterministic")
    val n = emb.count()
    assert(l1.nonEmpty && l1.size < n / 4,
      s"layer 1 should be a sparse subset: ${l1.size} of $n")
    val hier = GraphAnn.hnswTopK(queries, emb, 10,
        m = 8, m1 = 4, ef1 = 8, hops1 = 2, ef = 16, hops = 2)
      .select("qid", "cid", "cos").as[(Long, Long, Double)].collect()
    val hier2 = GraphAnn.hnswTopK(queries, emb, 10,
        m = 8, m1 = 4, ef1 = 8, hops1 = 2, ef = 16, hops = 2)
      .select("qid", "cid", "cos").as[(Long, Long, Double)].collect()
    assert(hier.sortBy(r => (r._1, r._2)).toSeq ==
      hier2.sortBy(r => (r._1, r._2)).toSeq, "hnsw walk must be deterministic")
    // every reported score is the exact cosine; recall holds the q361
    // floor with the bottom walk at HALF the flat schedule's hops
    val brute = AnnSearch.bruteTopK(queries, emb, 10)
      .select("qid", "cid", "cos").as[(Long, Long, Double)].collect()
    val bruteCos = brute.map(r => (r._1, r._2) -> r._3).toMap
    hier.foreach { case (q, c, cos) =>
      bruteCos.get((q, c)).foreach(b => assert(b == cos,
        s"hnsw reported approx score for ($q,$c): $cos != exact $b"))
    }
    val bruteSet = brute.map(r => (r._1, r._2)).toSet
    val recall = (bruteSet & hier.map(r => (r._1, r._2)).toSet).size.toDouble /
      bruteSet.size
    assert(recall >= 0.5, s"hnsw recall=$recall")
  }

  test("hnswTopK is one driver-paced descent: a bounded job count, and a " +
      "query whose upper beam comes back empty gets no rows") {
    val queries = emb.filter(col("id") < 30)
    // a walk costs a fixed number of bounded actions per hop, whatever the
    // corpus: the per-hop persist + count of a distributed walk ran ~4x
    // this many jobs on the same call
    val (rows, jobs) = JobCounter.during(spark)(GraphAnn.hnswTopK(queries,
      emb, 10, m = 8, m1 = 4, ef1 = 8, hops1 = 2, ef = 16, hops = 2).collect())
    assert(rows.length == 30 * 10)
    assert(jobs.count <= 24, s"hnswTopK ran ${jobs.count} jobs: " +
      jobs.jobs.map(_.site).mkString("; "))
    // ef1 = 1 seeds the upper walk at the lowest level-1 id alone; probing
    // with that node itself leaves it no candidate (a walk never scores a
    // query against itself), so its upper beam is empty: no rows, no error
    val top = GraphAnn.levelNodes(emb, 1).select("id").as[Long].collect().min
    val other = emb.filter(col("id") =!= top).select("id").as[Long]
      .collect().min
    val got = GraphAnn.hnswTopK(emb.filter(col("id").isin(top, other)), emb,
        10, m = 8, m1 = 4, ef1 = 1, hops1 = 2, ef = 16, hops = 2)
      .select("qid").as[Long].collect()
    assert(!got.contains(top), "a query with an empty upper beam got rows")
    assert(got.count(_ == other) == 10, s"query $other: ${got.count(_ == other)} rows")
  }

  test("multi-batch ingest: three chained inserts keep the degree bound, " +
      "leave every node with out-edges, and the grown graph holds the " +
      "recall floor") {
    val queries = emb.filter(col("id") < 30)
    var cs = emb.filter(col("id") % 4 === 0)
    var g = GraphAnn.knnGraph(cs, 8)
    for (b <- 1 to 3) {
      val batch = emb.filter(col("id") % 4 === b)
      cs = cs.unionByName(batch)
      g = GraphAnn.insertBatch(g, cs, batch, m = 8, ef = 16, hops = 4)
        .localCheckpoint(true)
    }
    val edges = g.as[(Long, Long)].collect()
    assert(edges.groupBy(_._1).forall(_._2.length <= 8), "degree above m")
    assert(edges.map(_._1).toSet.size == emb.count(),
      "a node lost its out-edges during chained ingest")
    val brute = AnnSearch.bruteTopK(queries, emb, 10)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val probed = GraphAnn.beamTopK(queries, emb, g, 10, ef = 16, hops = 4)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val recall = (brute & probed).size.toDouble / brute.size
    assert(recall >= 0.5, s"post-ingest recall=$recall")
  }

  test("probe cost is schedule-bounded: more hops never shrinks the beam, " +
      "and the final beam stays <= queries x ef") {
    val queries = emb.filter(col("id") < 10)
    val g = GraphAnn.knnGraph(emb, 8)
    val narrow = GraphAnn.beamTopK(queries, emb, g, 10, ef = 12, hops = 2)
      .collect()
    assert(narrow.length <= 10 * 10)
    // monotone improvement: the best cosine found per query never gets
    // worse with more hops (the beam keeps its incumbents)
    def best(hops: Int): Map[Long, Double] =
      GraphAnn.beamTopK(queries, emb, g, 1, ef = 12, hops = hops)
        .select("qid", "cos").as[(Long, Double)].collect().toMap
    val b1 = best(1)
    val b4 = best(4)
    b1.foreach { case (q, c1) =>
      assert(b4(q) >= c1, s"query $q: best cos regressed $c1 -> ${b4(q)}")
    }
  }
}
