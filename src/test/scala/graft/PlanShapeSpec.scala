package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Physical-plan shape assertions — the 100 TB story, checked, not assumed:
  * filters/columns reach the parquet scan, small dimensions broadcast,
  * co-bucketed joins elide their shuffles, partition filters prune
  * directories, and the hot pipelines stay inside whole-stage codegen.
  */
class PlanShapeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 4, appName = "graft-plan")
  val dir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  /** Execute the query through its OWN QueryExecution (collect finalizes the
    * AQE plan; a write.save() would run a separate QueryExecution) and return
    * the final-plan section of the plan string. */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    val start = s.indexOf("== Final Plan ==")
    val end = s.indexOf("== Initial Plan ==")
    if (start >= 0 && end > start) s.substring(start, end) else s
  }

  test("q02 filter+projection are pushed into the parquet scan") {
    val s = finalPlan("q02_filter_project")
    assert(s.contains("PushedFilters: [IsNotNull"), "filters did not reach the scan")
    val read = s.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(read.contains("l_quantity"), s"scan missing needed column: $read")
    assert(!read.contains("l_tax") && !read.contains("l_returnflag"),
      s"scan reads columns the query never uses: $read")
  }

  test("q04 star join broadcasts the dimension tables") {
    val s = finalPlan("q04_join_broadcast_star")
    assert(s.contains("BroadcastHashJoin"),
      "expected BroadcastHashJoin for dimension tables")
    assert(!s.contains("SortMergeJoin"),
      "a dimension join fell back to sort-merge (would shuffle the fact table)")
  }

  test("q65 co-bucketed join has no shuffle on the bucketed keys") {
    // disable broadcast so the tiny test tables take the SMB path a 100 TB
    // join would take
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val s = finalPlan("q65_sink_bucketed_join")
      assert(s.contains("SortMergeJoin"), "expected sort-merge join over buckets")
      assert(!s.contains("Exchange hashpartitioning(o_custkey") &&
        !s.contains("Exchange hashpartitioning(c_custkey"),
        "bucketed join must not shuffle its inputs")
      assert(s.contains("SelectedBucketsCount") || s.contains("Bucketed: true"),
        "scan did not use bucketing metadata")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q64 read-back scan prunes partitions") {
    val s = finalPlan("q64_sink_dynamic_partition")
    val pf = s.linesIterator.find(_.contains("PartitionFilters:")).getOrElse("")
    assert(pf.contains("o_orderpriority"),
      s"expected partition filters on o_orderpriority, got: $pf")
  }

  test("q44 brute-force ANN scores through the fused kernel, no pair-row join") {
    // r18: the query side still broadcasts (sc.broadcast into the compiled
    // kernel) but the |corpus|×|queries| pair rows are never materialized —
    // the previous shape was a BroadcastNestedLoopJoin whose output carried
    // BOTH embedding arrays per pair before the heap reduction could drop
    // them. The corpus-side contract stands: no join-driven shuffle of the
    // corpus (the only exchange permitted below the rank is the
    // small-input round-robin that restores scan parallelism).
    val s = finalPlan("q44_ann_cosine_brute")
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
      "scoring must not materialize pair rows through a join")
    assert(s.contains("MapPartitions"),
      "scoring must run in the compiled broadcast kernel")
  }

  test("q43 inverted-index jaccard joins on equi keys (no cartesian)") {
    val s = finalPlan("q43_ngram_jaccard")
    assert(!s.contains("CartesianProduct"), "blocked jaccard must not go cartesian")
    assert(!s.contains("BroadcastNestedLoopJoin"), "must join on (blk, shingle) keys")
  }

  test("q125 Q18-shape plans the HAVING subquery as a real semi join") {
    val s = finalPlan("q125_tpch_q18_shape")
    assert(s.contains("LeftSemi"), "IN-subquery did not plan as a semi join")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      "Q18 shape must stay equi-join only")
  }

  test("q126 Q21-shape plans EXISTS/NOT EXISTS as semi + anti on equi keys") {
    val s = finalPlan("q126_tpch_q21_shape")
    assert(s.contains("LeftSemi"), "EXISTS did not plan as a semi join")
    assert(s.contains("LeftAnti"), "NOT EXISTS did not plan as an anti join")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      "Q21 shape must stay equi-join only (the <> terms are join residuals)")
  }

  test("q50 tiled exact near-dup stays an equi-join (no cartesian/BNLJ)") {
    val s = finalPlan("q50_embedding_neardup")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      "tiled exact near-dup must equi-join on (blk, g, h)")
  }

  test("q147 LSH near-dup candidates come from a bucket equi-join") {
    val s = finalPlan("q147_neardup_lsh")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      "LSH near-dup candidates must equi-join on (blk, t, sig)")
  }

  test("q170 decontamination broadcasts the benchmark n-gram set") {
    val s = finalPlan("q170_decontaminate")
    assert(s.contains("BroadcastHashJoin"),
      "benchmark shingle set must broadcast (training side must not shuffle)")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      "decontamination must stay an equi-join on the 60-bit shingle hash")
  }

  test("q173 boilerplate: broadcast boiler-key lookup — no window, no shuffle join") {
    val s = finalPlan("q173_boilerplate_ngrams")
    // r14 shape: the df>maxDf key set (small by definition) broadcasts and
    // attaches as a narrow lookup; the r7 count-window over h would BUFFER
    // a universal shingle's whole partition (= the corpus) in one task
    assert(!s.contains("Window"),
      "a count window over h buffers ndocs rows for a universal shingle")
    assert(s.contains("BroadcastHashJoin"),
      "the boiler-key set must broadcast (narrow lookup, no shuffle join)")
    assert(!s.contains("SortMergeJoin"),
      "no shuffle join on the shingle hash — the universal key would pile " +
        "one reducer (use the salted fallback only when the boiler set " +
        "outgrows a broadcast)")
  }

  test("q172 split assignment plans with no shuffle at all") {
    val s = finalPlan("q172_train_test_split")
    val body = s.linesIterator.filterNot(_.contains("Exchange rangepartitioning"))
      .mkString("\n") // the final ORDER BY is presentation, not the operator
    assert(!body.contains("Exchange hashpartitioning"),
      "hash-split assignment is a narrow map; it must not shuffle")
  }

  test("q176 clean-corpus composition is semi/anti equi-joins only") {
    val s = finalPlan("q176_clean_corpus")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      "drop-list application must stay semi/anti equi-joins on doc_id")
    assert(s.contains("LeftSemi") && s.contains("LeftAnti"),
      "expected a semi join (canonicals) and an anti join (drop lists)")
  }

  test("q155 UNIQUEJOIN chain is equi-joins only (no cartesian/BNLJ)") {
    val s = finalPlan("q155_uniquejoin_preserve")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      "UNIQUEJOIN must plan as full-outer equi-joins on the key structs")
  }

  test("q154 TF-IDF joins df by term; only the 1-row N is nested-loop") {
    val s = finalPlan("q154_tfidf_top_terms")
    assert(!s.contains("CartesianProduct"), "TF-IDF must not cartesian")
    // the deliberate crossJoin(broadcast(N)) is a single-row build side —
    // count the BNLJ occurrences to keep it at exactly that one
    val bnlj = s.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"expected only the broadcast-N join, saw $bnlj BNLJs")
  }

  test("q151 merge-on-read snapshot applies deletes by the driver-held rid filter") {
    val s = finalPlan("q151_dml_merge_on_read")
    // small delete deltas are an in-memory delete registry (Hive 2.2's
    // VectorizedOrcAcidRowBatchReader): their rids filter the one scan.
    // TxnMorSpec pins the broadcast anti-join a larger delete set keeps
    assert(s.contains(graft.operators.TxnMergeOnRead.LIVE_RID),
      "MoR read must filter the scan by the live delete rids")
    assert(!s.contains("LeftAnti") && !s.contains("BroadcastExchange"),
      "deletes in hand need no anti-join and no broadcast job")
    assert("FileScan parquet".r.findAllIn(s).size == 1, s)
  }

  test("q146 cached dimension is scanned from the in-memory columnar cache") {
    // whole executed-plan string, not the final-plan slice: the scalar
    // subquery nests its own AdaptiveSparkPlan whose "== Initial Plan =="
    // marker would truncate the slice before the main aggregate's scan
    val df = SparkEntry.queries("q146_cached_scan")(spark, dir)
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    // Spark 4 renders the cache read as "Scan In-memory table <name>" over an
    // InMemoryRelation (the InMemoryRelation line also embeds its one-time
    // parquet BUILD lineage, so no FileScan-negative assert is possible)
    val cacheScans = s.sliding("Scan In-memory table".length)
      .count(_ == "Scan In-memory table")
    assert(s.contains("InMemoryRelation"),
      "cached scan must read InMemoryRelation (LLAP cache analog)")
    assert(cacheScans >= 2,
      s"both sub-aggregates should read the columnar cache (saw $cacheScans cache scans)")
  }

  test("q128 LSH ANN joins on bucket keys (no cartesian, no corpus broadcast)") {
    val s = finalPlan("q128_ann_lsh")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      "LSH candidate generation must equi-join on (table, signature)")
  }

  test("q132 fact scan is dynamically partition-pruned from the dim filter") {
    val s = finalPlan("q132_dpp_join")
    assert(s.toLowerCase.contains("dynamicpruning"),
      "expected a DynamicPruningExpression in the fact scan's PartitionFilters")
  }

  test("q134 self-joined aggregate reuses the shared shuffle (correlation-optimizer analog)") {
    val s = finalPlan("q134_shared_shuffle_selfjoin")
    assert(s.contains("ReusedExchange"),
      "identical aggregate subtrees should plan one exchange, not two scans")
  }

  test("q01 flagship aggregation runs inside whole-stage codegen") {
    val s = finalPlan("q01_agg_pricing_summary")
    assert(s.contains("*("), "hot path fell out of codegen") // codegen span marker
    assert(s.contains("HashAggregate"), "expected hash aggregation")
  }

  test("dot products stay codegen'd in the IVF scoring join") {
    val s = finalPlan("q45_ann_ivf")
    assert(s.contains("*("), "IVF scoring fell out of codegen")
  }

  test("small shuffle partitions coalesce at runtime (merge-file analog)") {
    // Hive merges undersized output files in a follow-up MR job
    // (`ql/.../exec/Task` ConditionalTask merge-file path); Spark's AQE
    // coalesces undersized shuffle partitions in-flight instead. Assert the
    // mechanism actually fires: 32 configured partitions over tiny data must
    // finalize into fewer coalesced reads, not 32 near-empty tasks (which at
    // 100 TB-cluster scale would mean one file per task per write).
    import org.apache.spark.sql.functions.{count, lit}
    val df = Engine.table(spark, dir, "orders")
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("AQEShuffleRead"), s"expected AQEShuffleRead in: $s")
    assert(s.contains("coalesced"), "AQE did not coalesce the tiny shuffle")
  }

  test("q167 null-safe join (<=>) stays a hash/sort-merge join, never nested-loop") {
    val s = finalPlan("q167_null_safe_join")
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
      s"null-safe join fell back to a theta join:\n$s")
    assert(s.contains("SortMergeJoin") || s.contains("BroadcastHashJoin") ||
      s.contains("ShuffledHashJoin"), "expected an equi-join strategy")
  }

  test("q169 point filter prunes buckets (reads <=2 of 16)") {
    val s = finalPlan("q169_bucket_pruning")
    val m = "SelectedBucketsCount: (\\d+) out of 16".r.findFirstMatchIn(s)
    assert(m.isDefined, s"scan did not report bucket selection:\n$s")
    assert(m.get.group(1).toInt <= 2,
      s"two point keys must read at most two buckets, got ${m.get.group(1)}")
  }

  test("q166 SQL-UDF macro body inlines at analysis (no residual function call)") {
    val df = SparkEntry.queries("q166_temporary_macro")(spark, dir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.toLowerCase.contains("g166_"),
      "macro name survived optimization — body was not inlined")
    assert(opt.toUpperCase.contains("EXP("),
      "expected the sigmoid's EXP to appear inline in the plan")
  }

  test("q180/q181/q182 per-doc shaping kernels plan with no shuffle") {
    Seq("q180_repetition_signals", "q181_blocklist_scrub", "q182_chunk_windows")
      .foreach { q =>
        val s = finalPlan(q)
        val body = s.linesIterator
          .filterNot(_.contains("Exchange rangepartitioning"))
          .mkString("\n") // final ORDER BY is presentation, not the operator
        assert(!body.contains("Exchange hashpartitioning"),
          s"$q is a narrow map/flatMap pass; it must not shuffle:\n$s")
      }
  }

  test("q183 greedy packing shuffles exactly once (the shard repartition)") {
    val s = finalPlan("q183_pack_sequences")
    val hashEx = s.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1,
      s"packing needs exactly ONE hash shuffle (by shard), found $hashEx:\n$s")
    assert(!s.contains("Exchange SinglePartition"),
      "packing must never collapse to a single partition — the fold is per shard")
  }

  test("CDC plan scans ONLY the range's delta dirs — the base never appears") {
    // the O(changes in range) claim, asserted at the plan level: every
    // parquet location in changesBetween's executed plan is a delta dir of
    // the consumed range; a base_ path anywhere means a table rescan
    val root = s"${Engine.scratchRoot}/planshape/cdc_scan"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    import org.apache.spark.sql.functions.{col => c, lit => l}
    graft.operators.TxnMergeOnRead.create(spark, root,
      spark.range(0, 5000).select(c("id").as("k"), (c("id") % 10).as("g"),
        l(1.0).as("x")))
    graft.operators.TxnMergeOnRead.update(spark, root,
      Seq("x" -> "x + 1"), "k % 100 = 0")
    graft.operators.TxnMergeOnRead.insert(spark, root,
      spark.range(9000, 9100).select(c("id").as("k"), l(0L).as("g"),
        l(2.0).as("x")))
    val df = graft.operators.TxnMergeOnRead.changesBetween(spark, root, 1L, 3L)
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    // every file the plan's scans read (the plan text abbreviates a scan's
    // location list at spark.sql.maxMetadataStringLength, and one scan
    // covers every dir of a half)
    val locations = df.inputFiles.toSeq
    assert(locations.nonEmpty, s"expected parquet scan locations in:\n$s")
    assert(locations.forall(_.contains("delta_")),
      s"CDC scanned a non-delta path:\n${locations.distinct.mkString("\n")}")
    assert(!s.contains("base_"),
      s"CDC plan touches the base — table-size crept into the bound:\n$s")
  }

  test("correlated subqueries decorrelate — no nested loop survives to the physical plan") {
    // the q224/q231/q233 shapes: EXISTS, a correlated scalar avg, and a
    // NOT EXISTS must all plan as hash/sort-merge semi/anti + aggregate
    // joins; a BroadcastNestedLoopJoin or CartesianProduct here becomes
    // O(n·m) compared pairs at 100 TB
    val dir = "/root/testdata/sf0.001"
    graft.Engine.registerAll(spark, dir)
    val plans = Seq(
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin,
      """SELECT sum(l_extendedprice) AS s FROM lineitem, part
        |WHERE p_partkey = l_partkey AND p_brand = 'Brand#1'
        |  AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
        |                    WHERE l2.l_partkey = p_partkey)""".stripMargin,
      """SELECT count(*) AS n FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')""".stripMargin
    ).map { q =>
      val df = spark.sql(q)
      df.collect()
      (q, df.queryExecution.executedPlan.toString)
    }
    plans.foreach { case (q, p) =>
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"correlated shape fell back to a nested loop:\n$q\n$p")
    }
  }

  test("q243/q250 bounded-sketch aggregations: partial+final object agg," +
      " NO window sort anywhere") {
    for (q <- Seq("q243_group_sample", "q250_topk_per_group")) {
      val s = finalPlan(q)
      assert(s.contains("ObjectHashAggregate"),
        s"$q should aggregate through the typed-buffer path:\n$s")
      assert(s.contains("partial_"),
        s"$q lost map-side partial aggregation (the O(groups×k) shuffle " +
          s"contract):\n$s")
      assert(!s.contains("Window"),
        s"$q fell back to the window-sort idiom it exists to replace:\n$s")
    }
  }
}
