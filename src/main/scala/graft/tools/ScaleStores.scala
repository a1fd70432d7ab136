package graft.tools

import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicIntegerArray

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Engine
import graft.operators.{ChangeFeed, CorpusOps, IncrementalAgg, MatView, Retrieval,
  TxnMergeOnRead, TxnSql, ZOrder}
import graft.sources.KvStorageHandler
import graft.sources.KvStorageHandler.{parseMapping, KeyFilter}
import graft.tools.Scale.{noop, Case, Run}

/** Scale cases of the stores and the text operators: the transaction log,
  * the KV handler, z-order, the BM25 and positional indexes, line dedup. */
object ScaleStores {

  /** lineitem as a txn table's rows. */
  private def lineitem(r: Run, d: String): DataFrame =
    Engine.table(r.spark, d, "lineitem").select(
      col("l_orderkey").cast("bigint").as("ok"), col("l_linenumber").as("ln"),
      col("l_quantity").cast("double").as("qty"),
      col("l_extendedprice").cast("double").as("price"), col("l_returnflag").as("rf"))

  val cases: Seq[Case] = Seq(

    // the txn log's change feed: an incremental consumer reads O(changes in
    // range) while the snapshot read and the UPDATE grow with the table; an
    // incremental aggregate refresh, a materialized-view answer and a
    // replication sync each track the change, not the table
    Case("cdc", 64) { r =>
      import r._
      val root = s"$scratch/t"
      // k: a unique row key, which (ok, ln) is not in the driver's lineitem
      TxnMergeOnRead.create(spark, root,
        lineitem(r, tpch()).withColumn("k", monotonically_increasing_id()))
      val rows = TxnMergeOnRead.read(spark, root).count()
      val v0 = TxnMergeOnRead.currentVersion(spark, root)
      val (upd, _) = time("update ~0.1%")(TxnMergeOnRead.update(spark, root,
        Seq("qty" -> "qty + 1"), "ok % 1024 = 0"))
      val v1 = TxnMergeOnRead.currentVersion(spark, root)
      val (cdc, _) = time("cdc read")(noop(TxnMergeOnRead.changesBetween(spark, root, v0, v1)))
      val nChanges = TxnMergeOnRead.changesBetween(spark, root, v0, v1).count()
      val (full, _) = time("full snapshot read")(noop(TxnMergeOnRead.read(spark, root)))
      report(f"rows=$rows changes=$nChanges update=$upd%.2fs cdc=$cdc%.2fs " +
        f"fullRead=$full%.2fs cdc/full=${cdc / full}%.2f")

      // each refresh folds a fresh ~0.1% change made outside the timed region
      val state = s"$scratch/agg"
      IncrementalAgg.init(spark, root, state, Seq("rf"), Seq("qty", "price"))
      val incr = (1 to 2).map { i =>
        TxnMergeOnRead.update(spark, root, Seq("qty" -> "qty + 1"), s"ok % 2048 = $i")
        time(s"incremental agg refresh #$i", 1)(IncrementalAgg.refresh(spark, root, state))._1
      }.min
      val (scratchAgg, _) = time("from-scratch agg over the snapshot")(noop(
        TxnMergeOnRead.read(spark, root).groupBy("rf")
          .agg(count(lit(1)).as("cnt"), sum("qty").as("sum_qty"), sum("price").as("sum_price"))))
      report(f"incrAgg refresh=$incr%.2fs scratchAgg=$scratchAgg%.2fs " +
        f"refresh/scratch=${incr / scratchAgg}%.2f")

      // a fresh MV answers the GROUP BY from its O(groups) state
      TxnSql.register("cdcscale_t", root)
      MatView.drop(spark, "cdcscale_mv")
      MatView.create(spark, "cdcscale_mv",
        "SELECT rf, count(*) AS c, sum(qty) AS sq, sum(price) AS sp FROM cdcscale_t GROUP BY rf")
      val mvq = "SELECT rf, count(*) AS c, sum(qty) AS sq FROM cdcscale_t GROUP BY rf"
      val (mv, _) = time("mv rewrite answer") {
        val rw = MatView.tryRewrite(spark, spark.sql(TxnSql.rewriteReads(spark, mvq)))
        require(rw.isDefined, "MV must be fresh and matching here")
        noop(rw.get)
      }
      report(f"mvAnswer=$mv%.2fs scratchAgg=$scratchAgg%.2fs mv/scratch=${mv / scratchAgg}%.2f")

      // a sync after a ~0.1% change pays the feed read and one merge on
      // the replica; a bootstrap rewrites the table
      val (dst, ckpt) = (s"$scratch/repl", s"$scratch/repl_ckpt")
      val (boot, _) = time("replication bootstrap (init)")(ChangeFeed.init(spark, root, dst, ckpt))
      val syncT = (1 to 2).map { i =>
        TxnMergeOnRead.update(spark, root, Seq("qty" -> "qty + 1"), s"ok % 4096 = $i")
        time(s"replication sync #$i", 1)(ChangeFeed.sync(spark, root, dst, ckpt, Seq("k")))._1
      }.min
      report(f"replSync=$syncT%.2fs bootstrap=$boot%.2fs sync/bootstrap=${syncT / boot}%.2f")
    },

    // the txn log's write paths: (1) writers racing disjoint UPDATEs each
    // commit their first computation; (2) an ingest batch anti-joins the
    // narrow hash column, far below a full-width read; (3) a minor fold
    // is O(deltas) while a major one rewrites the table; (4) the per-op
    // metadata cost stays flat in the version count once checkpointed
    // and the log is pruned, against a full replay below the oldest
    // checkpoint
    Case("txn", 64) { r =>
      import r._
      val d = tpch()
      val root1 = s"$scratch/disj"
      val li = lineitem(r, d).drop("price")
      TxnMergeOnRead.create(spark, root1, li)
      val rows = TxnMergeOnRead.read(spark, root1).count()
      val writers = 4
      val attempts = new AtomicIntegerArray(writers)
      val (disjWall, _) = time(s"$writers disjoint racing updates", 1) {
        val pool = Executors.newFixedThreadPool(writers)
        val futs = (0 until writers).map { w =>
          pool.submit(new Callable[Unit] {
            def call(): Unit = attempts.set(w, TxnMergeOnRead.update(spark, root1,
              Seq("qty" -> "qty + 1"), s"ok % 4096 = ${w * 128}"))
          })
        }
        pool.shutdown()
        futs.foreach(_.get(600, TimeUnit.SECONDS))
        require(pool.awaitTermination(1, TimeUnit.SECONDS))
      }
      val atts = (0 until writers).map(attempts.get)
      report(s"disjoint attempts per writer: ${atts.mkString(",")} (all 1 = zero recompute traffic)")

      val root2 = s"$scratch/ingest"
      val docs = Engine.table(spark, d, "documents").select(col("doc_id"), col("text"))
      TxnMergeOnRead.create(spark, root2, docs.withColumn("h", md5(col("text"))))
      val corpusN = TxnMergeOnRead.read(spark, root2).count()
      // a fixed-size batch, half duplicating corpus docs, half novel
      val batch = docs.limit(2000).withColumn("doc_id", col("doc_id") + 10000000L)
        .unionByName(docs.limit(2000).withColumn("text", concat(col("text"), lit(" novel")))
          .withColumn("doc_id", col("doc_id") + 20000000L))
        .withColumn("h", md5(col("text")))
        .localCheckpoint(true)
      val (ingest, _) = time("incremental ingest (4k batch)", 1) {
        val bdd = batch.groupBy("h")
          .agg(min(struct(col("doc_id"), col("text"))).as("r"))
          .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"), col("h"))
        TxnMergeOnRead.insert(spark, root2,
          bdd.join(TxnMergeOnRead.read(spark, root2).select("h"), Seq("h"), "left_anti"))
      }
      val (full, _) = time("full-width corpus read (yardstick)", 1)(
        noop(TxnMergeOnRead.read(spark, root2)))

      // each fold gets an identical freshly built 6-delta table
      val root3 = s"$scratch/cmp"
      def fold(label: String)(run: => Boolean): Double = (1 to 2).map { i =>
        TxnMergeOnRead.create(spark, root3, li)
        (0 until 6).foreach(j => TxnMergeOnRead.update(spark, root3,
          Seq("qty" -> "qty + 1"), s"ok % 8192 = ${j * 512}"))
        time(s"$label #$i", 1)(require(run, "uncontended fold commits"))._1
      }.min
      val minor = fold("minor compaction (6 deltas)")(TxnMergeOnRead.compactMinor(spark, root3))
      val major = fold("major compaction (same table)")(TxnMergeOnRead.compact(spark, root3))

      // restores are metadata-only commits, so they grow the version count
      // fast; each targets head-1, inside the checkpointed path
      val root4 = s"$scratch/meta"
      TxnMergeOnRead.create(spark, root4,
        spark.range(0, 10000).select(col("id").as("k"), col("id").as("v")))
      TxnMergeOnRead.insert(spark, root4,
        spark.range(0, 10).select((col("id") + 100000).as("k"), col("id").as("v")))
      def growTo(v: Long): Unit = while (TxnMergeOnRead.currentVersion(spark, root4) < v)
        TxnMergeOnRead.restore(spark, root4, TxnMergeOnRead.currentVersion(spark, root4) - 1)
      def metaWall(tag: String): (Double, Double) = (
        time(s"currentVersion x100 $tag", 1)(
          (0 until 100).foreach(_ => TxnMergeOnRead.currentVersion(spark, root4)))._1 / 100,
        time(s"read-plan x20 $tag", 1)(
          (0 until 20).foreach(_ => TxnMergeOnRead.read(spark, root4).schema))._1 / 20)
      growTo(12)
      val (cvSmall, rdSmall) = metaWall("@12v")
      growTo(512)
      val (cvBig, rdBig) = metaWall("@512v")
      // the cost checkpoints removed: replay below the oldest checkpoint
      // opens every pre-checkpoint entry file ever committed
      val (rdFull, _) = time("full-replay readAt x20 @512v", 1)(
        (0 until 20).foreach(_ => TxnMergeOnRead.readAt(spark, root4, 2L).schema))
      // what is left is the log-dir listing, which pruning bounds too
      TxnMergeOnRead.vacuum(spark, root4, retainVersions = 16, pruneLog = true)
      val (cvPruned, rdPruned) = metaWall("@512v-pruned")
      report(f"metadata: currentVersion ${cvSmall * 1e3}%.1fms@12v " +
        f"${cvBig * 1e3}%.1fms@512v ${cvPruned * 1e3}%.1fms@512v-pruned " +
        f"(pruned/small ${cvPruned / cvSmall}%.2f) | " +
        f"read-plan ${rdSmall * 1e3}%.1fms@12v ${rdBig * 1e3}%.1fms@512v " +
        f"${rdPruned * 1e3}%.1fms@512v-pruned (ckpt ratio ${rdBig / rdSmall}%.2f) | " +
        f"full-replay readAt ${rdFull / 20 * 1e3}%.1fms@512v " +
        f"(${rdFull / 20 / rdBig}%.1fx the checkpointed path)")
      report(f"rows=$rows corpus=$corpusN disjWall=$disjWall%.2fs attempts=${atts.mkString("/")} " +
        f"ingest=$ingest%.2fs fullRead=$full%.2fs ingest/full=${ingest / full}%.2f " +
        f"minor=$minor%.2fs major=$major%.2fs minor/major=${minor / major}%.2f")
    },

    // the KV handler (q333–q336): manifest pruning keeps point gets and
    // bounded ranges flat while the table and its region count grow, as
    // HFile trailers do for HBase; a full scan is the linear contrast
    Case("kv", 64) { r =>
      import r._
      val m = parseMapping(StructType(Seq(StructField("k", StringType),
        StructField("a", LongType), StructField("b", StringType))), ":key,f:a#b,f:b")
      def probe(label: String, root: String, kf: KeyFilter): Unit = {
        val (scanned, total) = KvStorageHandler.scanProfile(spark, root, kf)
        val pred = (kf.points, kf.lower, kf.upper) match {
          case (Some(ps), _, _) => col("k").isin(ps: _*)
          case (_, Some((lo, loIncl)), Some((hi, hiIncl))) =>
            (if (loIncl) col("k") >= lo else col("k") > lo) &&
              (if (hiIncl) col("k") <= hi else col("k") < hi)
          case _ => lit(true)
        }
        val (_, n) = time(label)(KvStorageHandler.scan(spark, root, m, pred).count())
        report(s"$label files=$scanned/$total rows=$n")
      }
      for (x <- Seq(1, factor / 4, factor).map(math.max(1, _)).distinct) {
        val (rows, regions) = (1000000L * x, math.max(8, 2 * x))
        val root = s"$scratch/x$x"
        time(s"x$x build rows=$rows regions=$regions", 1)(KvStorageHandler.put(spark, root,
          spark.range(0, rows).select(
            lpad(col("id").cast("string"), 12, "0").as("k"),
            (col("id") * 37L % 1000003L).as("a"),
            concat(lit("v"), (col("id") % 8191L).cast("string")).as("b")), m, regions = regions))
        val mid = rows / 2
        probe(s"x$x point-get", root,
          KeyFilter.points(Seq(mid - 1, mid, mid + 12345).map(i => f"$i%012d")))
        probe(s"x$x range-100k", root,
          KeyFilter(None, Some((f"$mid%012d", true)), Some((f"${mid + 100000}%012d", false))))
        probe(s"x$x full-scan", root, KeyFilter.full)
        // the largest store is GBs: drop each before building the next
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      }
    },

    // z-order: a 2-D slice on the same table as ingested, sorted by the
    // leading column and z-ordered on both. Only the order key is shifted
    // per replica, so partkey and suppkey keep their TPC-H independence.
    // statsHit is the fraction of files whose [min, max] meets the slice:
    // what a footer-pruning reader must touch.
    Case("zorder", 64) { r =>
      import r._
      val base = Engine.table(spark, dir, "lineitem").select(
        col("l_orderkey").cast("bigint").as("ok"), col("l_partkey").cast("bigint").as("pk"),
        col("l_suppkey").cast("bigint").as("sk"), col("l_quantity").cast("double").as("qty"),
        col("l_extendedprice").cast("double").as("price"))
      val li = Scale.replicate(base, factor, Map("ok" -> Scale.stride(base, "ok")))()
      val files = 64
      li.repartition(files).write.parquet(s"$scratch/raw")
      li.repartitionByRange(files, col("pk")).sortWithinPartitions("pk")
        .write.parquet(s"$scratch/pksort")
      ZOrder.cluster(li, Seq("pk", "sk"), files).write.parquet(s"$scratch/zorder")
      // a ~2% slice on each dimension
      def slice(c: String) = {
        val mx = li.agg(max(c)).head.getLong(0)
        (mx / 2, mx / 2 + math.max(1L, mx / 50))
      }
      val slices = Seq("pk" -> slice("pk"), "sk" -> slice("sk"))
      Seq("raw", "pksort", "zorder").foreach { layout =>
        val p = s"$scratch/$layout"
        val row = slices.map { case (c, (lo, hi)) =>
          val (w, _) = time(s"$layout $c-slice", 3)(spark.read.parquet(p)
            .filter(col(c).between(lo, hi)).agg(count(lit(1)), sum("qty")).collect())
          val stats = spark.read.parquet(p).groupBy(input_file_name())
            .agg(min(col(c)).as("lo"), max(col(c)).as("hi")).collect()
          val hit = stats.count(x => x.getLong(1) <= hi && lo <= x.getLong(2)).toDouble / stats.length
          f"$c-slice wall=$w%.2fs statsHit=$hit%.2f"
        }
        report(f"$layout%-7s ${row.mkString(" | ")}")
      }
      report(s"rows=${li.count()} files=$files")
    },

    // the BM25 index: a probe reads only the probed terms' bucket dirs, so
    // it tracks the posting lists, not a corpus scan; the build is paid
    // once; an appended batch costs its own passes, not a rebuild, and the
    // grown index probes like a one-shot build
    Case("bm25", 64) { r =>
      import r._
      val docs = Engine.table(spark, tpch(), "documents").select(col("doc_id"), col("text"))
      val queries = Seq(1 -> Seq("dup"), 2 -> Seq("spark", "join"),
        3 -> Seq("customer", "order", "fast"))
      val idx = s"$scratch/bm25"
      val (build, _) = time("index build")(Retrieval.bm25WriteIndex(docs, idx))
      val (probe, _) = time("probe k=10")(
        require(Retrieval.bm25TopKIndexed(spark, idx, queries, k = 10).count() > 0,
          "probe returned no rows"))
      val (oneShot, _) = time("one-shot (index-free)")(
        require(Retrieval.bm25TopK(docs, queries, k = 10).count() > 0, "one-shot returned no rows"))
      report(f"build=$build%.2fs probe=$probe%.2fs oneShot=$oneShot%.2fs " +
        f"probe/oneShot=${probe / oneShot}%.2f")
      // each timed append runs on a fresh 3/4 build, which is not timed
      val inc = s"${idx}_inc"
      val addW = (1 to 2).map { i =>
        Retrieval.bm25WriteIndex(docs.filter(col("doc_id") % 4 =!= 0), inc)
        time(s"addBatch 1/4 corpus #$i", 1)(
          Retrieval.bm25AddBatch(docs.filter(col("doc_id") % 4 === 0), inc))._1
      }.min
      val ref = Retrieval.bm25TopKIndexed(spark, idx, queries, k = 10).collect().map(_.toSeq).toSet
      val (grownProbe, _) = time("probe grown index k=10") {
        val got = Retrieval.bm25TopKIndexed(spark, inc, queries, k = 10).collect().map(_.toSeq).toSet
        require(got == ref, "grown index probe diverged from one-shot build")
      }
      report(f"ingest: fullRebuild=$build%.2fs addBatch=$addW%.2fs " +
        f"grownProbe=$grownProbe%.2fs (rows equal)")
    },

    // the positional family (q373 phrase, q374 proximity, q378 snippets):
    // the probe reads only the phrase terms' buckets while the one-shot
    // retokenizes the corpus; proximity's ±w window stays an equi-join;
    // hybrid fusion tracks its bounded lists
    Case("phrase", 1) { r =>
      import r._
      val d = tpch()
      val docs = Engine.table(spark, d, "documents").select(col("doc_id"), col("text"))
      val phrases = Seq(1 -> Seq("spark", "join"), 2 -> Seq("big", "big"),
        3 -> Seq("the", "line", "sort"))
      val prox = Seq(1 -> Seq("spark", "join"), 2 -> Seq("customer", "order", "fast"))
      val idx = s"$scratch/phrase"
      def nonEmpty(what: String)(df: => DataFrame): Unit =
        require(df.count() > 0, s"$what returned no rows")
      val (build, _) = time("index build")(Retrieval.phraseWriteIndex(docs, idx))
      val (probe, _) = time("phrase probe k=10")(nonEmpty("phrase probe")(
        Retrieval.phraseTopKIndexed(spark, idx, phrases, k = 10)))
      val (proxP, _) = time("proximity probe w=3 k=10")(nonEmpty("proximity probe")(
        Retrieval.proximityTopKIndexed(spark, idx, prox, w = 3, k = 10)))
      val (snip, _) = time("snippets w=3 k=5 (one-shot)")(nonEmpty("snippets")(
        Retrieval.snippetTopK(docs, prox, w = 3, k = 5)))
      val (snipIdx, _) = time("snippets w=3 k=5 (indexed)")(nonEmpty("indexed snippets")(
        Retrieval.snippetTopKIndexed(spark, idx, prox, w = 3, k = 5)))
      val (oneShot, _) = time("phrase one-shot (index-free)")(nonEmpty("one-shot")(
        Retrieval.phraseTopK(docs, phrases, k = 10)))
      val (proxOne, _) = time("proximity one-shot (index-free)")(nonEmpty("one-shot proximity")(
        Retrieval.proximityTopK(docs, prox, w = 3, k = 10)))
      val bmIdx = s"$scratch/bm25"
      val (bmBuild, _) = time("bm25 index build")(Retrieval.bm25WriteIndex(docs, bmIdx))
      val emb = Engine.table(spark, d, "embeddings").select(col("vec_id").as("id"), col("embedding"))
      // three anchor ids present at any replication factor
      val ids = emb.select(col("id")).orderBy("id").limit(3).collect().map(_.getLong(0))
      val hybridQs = Seq(1 -> Seq("dup"), 2 -> Seq("spark", "join"),
        3 -> Seq("customer", "order", "fast"))
      val (hybrid, _) = time("rrfHybridIndexed n=20 k=10")(nonEmpty("hybrid fusion")(
        Retrieval.rrfHybridIndexed(spark, bmIdx, emb, hybridQs,
          Map(1 -> ids(0), 2 -> ids(1), 3 -> ids(2)), n = 20, k = 10)))
      report(f"build=$build%.2fs probe=$probe%.2fs prox=$proxP%.2fs proxOne=$proxOne%.2fs " +
        f"snip=$snip%.2fs snipIdx=$snipIdx%.2fs oneShot=$oneShot%.2fs " +
        f"bmBuild=$bmBuild%.2fs hybrid=$hybrid%.2fs probe/oneShot=${probe / oneShot}%.2f " +
        f"prox/proxOne=${proxP / proxOne}%.2f")
    },

    // line dedup (q353) under its defining adversary: a boilerplate line in
    // every document, 12 times. Does AQE's skew-join split the naive
    // join-back (it cannot: the build side is an aggregate above its
    // shuffle), and what does the explicit salt buy? The same for
    // boilerplate n-grams: window-by-hash, broadcast keys, salted join.
    Case("dedup", 64) { r =>
      import r._
      // AQE's skew splitter as eager as it goes, so "no skew=true" is
      // structural, not a threshold artifact
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64k")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64k")
      val base = Engine.table(spark, dir, "documents").select(col("doc_id"), col("text"))
      val stride = Scale.stride(base, "doc_id")
      val boiler = ("subscribe to our newsletter\n" * 12) +
        "follow us on social media\nall rights reserved worldwide\n"
      // each derived line carries its replica id, so the distinct-line tail
      // grows with the corpus as a real crawl's does
      def corpusAt(f: Int): DataFrame = {
        val out = s"$scratch/x$f"
        Scale.replicate(base, f, Map("doc_id" -> stride))(_.withColumn("text",
          concat(lit(boiler), regexp_replace(regexp_replace(col("text"), "(\\S+ \\S+) ", "$1\n"),
            lit("\n"), concat(lit("#"), col("__rep"), lit("\n"))))))
          .repartition(32).write.mode("overwrite").parquet(out)
        spark.read.parquet(out)
      }
      // the r13 formulation the production op replaced: countDistinct df
      // and a raw join-back on h
      def naive(docs: DataFrame, maxDf: Long): DataFrame = {
        val lines = docs.select(col("doc_id"),
          posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
          .withColumn("h", CorpusOps.h60c(col("line")))
        val dfByH = lines.groupBy("h").agg(countDistinct(col("doc_id")).as("df"))
        lines.join(dfByH, "h").groupBy("doc_id")
          .agg(sum(when(col("df") <= maxDf, 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("df") > maxDf, 1L).otherwise(0L)).as("n_dropped"))
      }
      // the r7 boilerplateNgrams formulation: df by a count window over the
      // shingle hash, whose universal-shingle partition is the corpus
      def naiveWindow(docs: DataFrame, maxDf: Long): DataFrame =
        graft.operators.Dedup.shingleSets(docs)
          .select(col("doc_id"), explode(col("g")).as("s"))
          .select(col("doc_id"), CorpusOps.h60c(col("s")).as("h"))
          .withColumn("df", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("h")))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_kept"), sum(when(col("df") > maxDf, 1L).otherwise(0L)).as("n_dropped"))
      // kept, dropped and the final adaptive plan (AQE finalizes through
      // the same QueryExecution)
      def run(label: String, df: DataFrame): (Double, (Long, Long, String)) = time(label) {
        val agg = df.agg(sum("n_kept").as("k"), sum("n_dropped").as("d"))
        val row = agg.collect()(0)
        (row.getLong(0), row.getLong(1), agg.queryExecution.executedPlan.toString)
      }
      for (f <- Seq(factor / 4, factor, 4 * factor).map(math.max(1, _)).distinct) {
        val corpus = corpusAt(f)
        val ndocs = corpus.count()
        val (nw, (nk, nd, nplan)) = run(s"x$f naive", naive(corpus, maxDf = 25))
        val (sw, (sk, sd, splan)) = run(s"x$f salted",
          CorpusOps.dedupLines(corpus, maxDf = 25, hotOcc = 10000L).select("doc_id", "n_kept", "n_dropped"))
        require(nk == sk && nd == sd, s"salted != naive at x$f: ($nk,$nd) vs ($sk,$sd)")
        require(!splan.contains("skew=true"), "salted plan should not need AQE skew handling")
        def exch(p: String) = (p.split("\n").count(_.contains("Exchange")),
          p.split("\n").count(_.contains("ReusedExchange")))
        report(f"x$f docs=$ndocs kept=$nk dropped=$nd naive=$nw%.2fs " +
          f"aqeSkewFired=${nplan.contains("skew=true")} salted=$sw%.2fs " +
          s"naiveExch=${exch(nplan)} saltedExch=${exch(splan)}")
        val (ww, (wg, wb, _)) = run(s"x$f boilerplate window", naiveWindow(corpus, maxDf = 25))
        def bp(bc: Boolean) = run(s"x$f boilerplate ${if (bc) "broadcast" else "saltedJoin"}",
          CorpusOps.boilerplateNgrams(corpus, maxDf = 25, broadcastBoiler = bc, hotOcc = 10000L)
            .select(col("doc_id"), col("n_g").as("n_kept"), col("n_boiler").as("n_dropped")))
        val (bcw, (bg, bb, _)) = bp(bc = true)
        val (slw, (sg, sb, _)) = bp(bc = false)
        require(wg == bg && wb == bb && sg == bg && sb == bb,
          s"boilerplate variants disagree at x$f: window=($wg,$wb) broadcast=($bg,$bb) salted=($sg,$sb)")
        report(f"x$f boilerplate window=$ww%.2fs broadcast=$bcw%.2fs saltedJoin=$slw%.2fs")
      }
    })
}
