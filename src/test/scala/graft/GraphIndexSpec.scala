package graft

import graft.operators.{AnnSearch, GraphAnn, IndexStore, Stores}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The graph index's AT-REST contracts ([[GraphAnn.writeIndex]] /
  * [[GraphAnn.probeIndex]] / [[GraphAnn.addBatch]] /
  * [[GraphAnn.removeBatch]]): probe parity with the in-memory hierarchy,
  * the bucket-pruning plan property, generation resolution on mutation,
  * level-aware ingest reachability, delete masking, and entry-sidecar
  * maintenance. Runs on sf0.001. */
class GraphIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 4, appName = "graft-test")
  val dir = "/root/testdata/sf0.001"
  import spark.implicits._

  override def afterAll(): Unit = spark.stop()

  private def emb = Engine.table(spark, dir, "embeddings")
    .select(col("vec_id").as("id"), col("embedding"), col("label"))

  private def tmp(tag: String): String = {
    val p = s"/tmp/graphidx_spec/$tag"
    val f = new java.io.File(p)
    org.apache.commons.io.FileUtils.deleteQuietly(f)
    p
  }

  /** The physical dir of logical `store`, resolved from the manifest. */
  private def store(path: String, name: String): String =
    IndexStore.latest(spark, path).get.dir(name)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("qid", "cid", "rk", "cos")
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._3))

  test("fresh index probe == in-memory two-layer HNSW, row for row") {
    val path = tmp("parity")
    GraphAnn.writeIndex(emb, path, m = 8, m1 = 4, nBuckets = 8)
    val q = emb.filter(col("id") < 30)
    val idx = rows(GraphAnn.probeIndex(q, path, 10, ef1 = 8, hops1 = 2,
      ef = 16, hops = 2)
      .withColumn("rk", col("rk").cast("long")))
    val mem = rows(GraphAnn.hnswTopK(q, emb, 10, m = 8, m1 = 4, ef1 = 8,
      hops1 = 2, ef = 16, hops = 2)
      .withColumn("rk", col("rk").cast("long")))
    assert(idx.nonEmpty && idx.length == mem.length,
      s"${idx.length} vs ${mem.length} rows")
    assert(idx.sameElements(mem),
      "persisted probe diverged from the in-memory hierarchy")
  }

  test("probe fetches are bucket-partition-pruned (the plan property)") {
    val path = tmp("prune")
    GraphAnn.writeIndex(emb, path, m = 8, m1 = 4, nBuckets = 8)
    val adj0 = spark.read.parquet(store(path, "adj0"))
    val fetched = GraphAnn.indexFetch(8, Array.emptyLongArray)(
      adj0, "src", Array(3L, 11L))
    val plan = fetched.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"no bucket PartitionFilters in:\n$plan")
    // buckets 3 and 11%8=3 collapse to ONE partition of 8
    assert(fetched.select("src").distinct().as[Long].collect().toSet ==
      Set(3L, 11L))
    // vectors store prunes the same way
    val vec = spark.read.parquet(store(path, "vectors"))
    val vplan = GraphAnn.indexFetch(8, Array.emptyLongArray)(
      vec, "id", Array(5L)).queryExecution.executedPlan.toString
    assert(vplan.contains("PartitionFilters") && vplan.contains("bucket"))
  }

  test("an id fetch filters by one InSet and reads the rows an isin reads") {
    val path = tmp("inset")
    GraphAnn.writeIndex(emb, path, m = 8, m1 = 4, nBuckets = 8)
    val vec = spark.read.parquet(store(path, "vectors"))
    val ids = (0L until 400L by 3L).toArray
    val fetched = Stores.fetchIds(vec, "id", ids, nBuckets = 8)
    val inSets = fetched.queryExecution.optimizedPlan.flatMap(_.expressions
      .flatMap(_.collect { case s: InSet => s }))
    assert(inSets.size == 1 && inSets.head.hset.size == ids.length,
      fetched.queryExecution.optimizedPlan.toString)
    val viaIsin = vec.filter(col("bucket").isin(ids.map(_ % 8).distinct.toSeq: _*))
      .filter(col("id").isin(ids.toSeq: _*))
    def all(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(all(fetched).nonEmpty)
    assert(all(fetched) == all(viaIsin))
  }

  test("level-aware ingest: batches append generations, inserted nodes are " +
      "probe-reachable, and layer-1 inserts maintain the hierarchy") {
    val path = tmp("ingest")
    val base = emb.filter(col("id") % 4 <= 1)
    GraphAnn.writeIndex(base, path, m = 8, m1 = 4, nBuckets = 8)
    GraphAnn.addBatch(path, emb.filter(col("id") % 4 === 2),
      ef1 = 8, hops1 = 2, ef = 16, hops = 2)
    GraphAnn.addBatch(path, emb.filter(col("id") % 4 === 3),
      ef1 = 8, hops1 = 2, ef = 16, hops = 2)
    // generation resolution: a multi-gen src resolves to exactly its
    // latest generation's rows, degree-bounded
    val adj0 = spark.read.parquet(store(path, "adj0"))
    val multiGen = adj0.groupBy("src")
      .agg(countDistinct("gen").as("ng"), max("gen").as("mg"))
      .filter(col("ng") > 1)
    assert(multiGen.count() > 0, "ingest appended no superseding rows")
    val probeSrc = multiGen.select("src").as[Long].head()
    val live = GraphAnn.resolveLive(GraphAnn.indexFetch(
      8, Array.emptyLongArray)(adj0, "src", Array(probeSrc)))
    val liveGen = adj0.filter(col("src") === probeSrc)
      .agg(max("gen")).as[Long].head()
    val liveCnt = live.count()
    assert(liveCnt ==
      adj0.filter(col("src") === probeSrc && col("gen") === liveGen).count(),
      "fetch must resolve to the latest generation only")
    assert(liveCnt <= 8, s"degree bound broken: $liveCnt")
    // inserted nodes are reachable: probing an inserted node's own vector
    // returns it as a near-top hit (cos 1.0 with itself excluded, so its
    // true neighbors surface; recall vs brute stays above the floor)
    val q = emb.filter(col("id") < 30)
    val out = GraphAnn.probeIndex(q, path, 10, ef1 = 8, hops1 = 2,
      ef = 16, hops = 2)
    val brute = AnnSearch.bruteTopK(q, emb, 10)
    val b = brute.select("qid", "cid").as[(Long, Long)].collect().toSet
    val o = out.select("qid", "cid").as[(Long, Long)].collect().toSet
    val recall = (b & o).size.toDouble / b.size
    assert(recall >= 0.5, s"post-ingest recall=$recall")
    assert(o.exists { case (_, cid) => cid % 4 >= 2 },
      "no inserted node ever surfaces in probes — ingest unreachable")
    // determinism: replaying the same build+ingest sequence reproduces
    // the probe bit-for-bit
    val path2 = tmp("ingest2")
    GraphAnn.writeIndex(base, path2, m = 8, m1 = 4, nBuckets = 8)
    GraphAnn.addBatch(path2, emb.filter(col("id") % 4 === 2),
      ef1 = 8, hops1 = 2, ef = 16, hops = 2)
    GraphAnn.addBatch(path2, emb.filter(col("id") % 4 === 3),
      ef1 = 8, hops1 = 2, ef = 16, hops = 2)
    val out2 = GraphAnn.probeIndex(q, path2, 10, ef1 = 8, hops1 = 2,
      ef = 16, hops = 2)
    assert(rows(out.withColumn("rk", col("rk").cast("long"))).sameElements(
      rows(out2.withColumn("rk", col("rk").cast("long")))),
      "replayed lifecycle diverged")
  }

  test("delete: tombstoned nodes vanish from probes, bridged sources are " +
      "re-trimmed at gen+1, survivors keep recall") {
    val path = tmp("delete")
    GraphAnn.writeIndex(emb, path, m = 8, m1 = 4, nBuckets = 8)
    val removed = emb.filter(col("id") % 10 === 3).select("id")
    val removedSet = removed.as[Long].collect().toSet
    GraphAnn.removeBatch(path, removed)
    val q = emb.filter(col("id") < 30 && col("id") % 10 =!= 3)
    val out = GraphAnn.probeIndex(q, path, 10, ef1 = 8, hops1 = 2,
      ef = 16, hops = 2)
    val hits = out.select("cid").as[Long].collect()
    assert(hits.nonEmpty && !hits.exists(removedSet.contains),
      "a tombstoned node surfaced in a probe")
    val sv = emb.filter(col("id") % 10 =!= 3)
    val b = AnnSearch.bruteTopK(q, sv, 10)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val o = out.select("qid", "cid").as[(Long, Long)].collect().toSet
    val recall = (b & o).size.toDouble / b.size
    assert(recall >= 0.5, s"post-delete recall=$recall")
    // repair appended a new generation for at least one bridged source
    val adj0 = spark.read.parquet(store(path, "adj0"))
    assert(adj0.filter(col("gen") === 2L).count() > 0,
      "delete repaired no sources")
    // deleting an ENTRY id rebuilds the sidecar to live layer-1 lowest
    val entsBefore = IndexStore.latest(spark, path).get.entries.toSet
    assert(!entsBefore.exists(removedSet.contains),
      "entry sidecar still lists a removed id")
    // the reverse sidecar mirrors the adjacency row-for-row (every write
    // lands in both) and the in-edge discovery fetch is PARTITION-PRUNED
    // on the dst bucket — the plan property that makes delete repair
    // O(batch·in-degree) instead of a full index scan per layer
    val radj0 = spark.read.parquet(store(path, "radj0"))
    assert(adj0.select("src", "dst", "gen").as[(Long, Long, Long)]
        .collect().sorted.toSeq ==
      radj0.select("src", "dst", "gen").as[(Long, Long, Long)]
        .collect().sorted.toSeq,
      "radj diverged from adj")
    val inEdge = GraphAnn.indexFetch(8, Array.emptyLongArray)(
      radj0, "dst", Array(3L, 13L))
    val iplan = inEdge.queryExecution.executedPlan.toString
    assert(iplan.contains("PartitionFilters") && iplan.contains("bucket"),
      s"in-edge discovery fetch is not bucket-pruned:\n$iplan")
  }

  test("a fully-tombstoned latest generation must NOT resurrect its " +
      "superseded edges (mask AFTER max-gen resolution)") {
    // src 1: gen 1 edges {2, 3} were REPLACED by gen 2's {9}; 9 is then
    // tombstoned with no bridge re-trim (the corner where the removed mid
    // has no surviving out-edges). The live view leaves src 1 edge-less —
    // masking dst=9 before resolution would drop gen 2 from the max-gen
    // computation and resurrect the trimmed-away {2, 3}.
    val adj = Seq((1L, 2L, 1L), (1L, 3L, 1L), (1L, 9L, 2L), (4L, 1L, 1L))
      .toDF("src", "dst", "gen")
      .withColumn("bucket", pmod(col("src"), lit(8L)))
    val live = GraphAnn.resolveLive(
      GraphAnn.indexFetch(8, Array(9L))(adj, "src", Array(1L, 4L)))
      .as[(Long, Long)].collect().toSet
    assert(!live.contains((1L, 2L)) && !live.contains((1L, 3L)),
      s"superseded gen-1 edges resurrected: $live")
    assert(live == Set((4L, 1L)),
      s"untombstoned live edges must survive untouched: $live")
    // the >65536-tombstone join path obeys the same ordering
    val bigTombs = (9L to 70000L).toArray
    val liveBig = GraphAnn.resolveLive(
      GraphAnn.indexFetch(8, bigTombs)(adj, "src", Array(1L, 4L)))
      .as[(Long, Long)].collect().toSet
    assert(liveBig == Set((4L, 1L)),
      s"join-path tombstone masking diverged: $liveBig")
  }

  test("compaction: probe-identical before and after, generations fold " +
      "to one, tombstones clear, radj stays a mirror") {
    val path = tmp("compact")
    val base = emb.filter(col("id") % 4 <= 1)
    GraphAnn.writeIndex(base, path, m = 8, m1 = 4, nBuckets = 8)
    GraphAnn.addBatch(path, emb.filter(col("id") % 4 === 2),
      ef1 = 8, hops1 = 2, ef = 16, hops = 2)
    GraphAnn.removeBatch(path, emb.filter(col("id") % 10 === 3).select("id"))
    GraphAnn.addBatch(path, emb.filter(col("id") % 4 === 3 &&
      col("id") % 10 =!= 3), ef1 = 8, hops1 = 2, ef = 16, hops = 2)
    val q = emb.filter(col("id") < 30 && col("id") % 10 =!= 3)
    val before = rows(GraphAnn.probeIndex(q, path, 10, ef1 = 8, hops1 = 2,
      ef = 16, hops = 2).withColumn("rk", col("rk").cast("long")))
    GraphAnn.compactIndex(spark, path)
    val after = rows(GraphAnn.probeIndex(q, path, 10, ef1 = 8, hops1 = 2,
      ef = 16, hops = 2).withColumn("rk", col("rk").cast("long")))
    assert(before.nonEmpty && before.sameElements(after),
      "compaction changed probe results — it must be purely physical")
    val adj0 = spark.read.parquet(store(path, "adj0"))
    assert(adj0.select("gen").distinct().as[Long].collect().toSeq == Seq(1L),
      "generations did not fold to one")
    assert(!IndexStore.latest(spark, path).get.has(IndexStore.TOMBS) &&
      !new java.io.File(path).list().exists(_.startsWith("tombstones")),
      "tombstones not cleared")
    val radj0 = spark.read.parquet(store(path, "radj0"))
    assert(adj0.select("src", "dst", "gen").as[(Long, Long, Long)]
        .collect().sorted.toSeq ==
      radj0.select("src", "dst", "gen").as[(Long, Long, Long)]
        .collect().sorted.toSeq,
      "radj diverged from adj after compaction")
    // no compacted row touches a removed id, in either direction
    val removed = emb.filter(col("id") % 10 === 3).select(col("id"))
      .as[Long].collect().toSet
    assert(!adj0.select("src", "dst").as[(Long, Long)].collect()
      .exists { case (s0, d0) => removed(s0) || removed(d0) },
      "a tombstoned id survived compaction")
  }
}
