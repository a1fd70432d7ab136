package graft.streaming

import graft.operators.TxnMergeOnRead
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming analog of the reference's streaming-ingest surface
  * (SURVEY.md §2.11 — `hcatalog/streaming/HiveEndPoint.java` provides
  * micro-batched ingest that queries then see; Hive 2.1 has no stream query
  * engine, so windowed/stateful stream queries here EXCEED the reference).
  *
  * The `events` parquet is replayed as a file-source stream; results land in
  * a memory sink and come back as a DataFrame, so stream queries plug into
  * the same oracle harness as batch ones. At production scale the same code
  * reads a directory an ingest job appends to — the file source tracks
  * processed files exactly-once, matching the reference's transactional-
  * append ingest semantics.
  */
object StreamOps {

  /** events schema for the streaming read (ts kept as raw int64 — the file
    * stream source cannot use the nanosAsLong session conf at analysis
    * time, so the schema declares it explicitly; the unit of the raw value
    * depends on the file's encoding, probed per dir via
    * [[graft.Engine.eventsTsMicrosExpr]]). */
  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Replay events.parquet as a stream. The file stream source tracks a
    * *directory* of arriving files, so point it at the table dir and
    * glob-filter to the events file — the same shape as production ingest
    * appending files into a table directory. */
  def eventStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.readStream.schema(eventsSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .withColumn("ts",
        expr(s"timestamp_micros(${graft.Engine.eventsTsMicrosExpr(spark, dir)})"))
  }

  /** Run a streaming DataFrame to completion (default: single Once trigger →
    * one deterministic batch) into a memory sink and return the result
    * table. Pass `Trigger.AvailableNow()` to drain a multi-file replay as
    * multiple micro-batches (watermark advances BETWEEN batches — required
    * for Append-mode emission). */
  def runToMemory(spark: SparkSession, sdf: DataFrame, name: String,
      mode: OutputMode, trigger: Trigger = Trigger.Once(),
      shufflePartitions: Option[Int] = None): DataFrame = {
    // A streaming query pins its state-store layout to the session's
    // shuffle-partition count AT START: on a small finite replay the wall
    // clock is dominated by per-partition state-store lifecycle (stores ×
    // partitions × micro-batches), not data, so stateful multi-batch
    // queries pass a small override here (results are partition-count
    // invariant; an unbounded production feed would keep the full count).
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    shufflePartitions.foreach(n => spark.conf.set(key, n.toString))
    try {
      val q = sdf.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(trigger).start()
      q.awaitTermination()
    } finally if (shufflePartitions.isDefined) spark.conf.set(key, saved)
    spark.table(name)
  }

  /** Tumbling-window aggregation with an event-time watermark.
    *
    * Honest mode note: the memory-sink harness runs COMPLETE mode so the
    * finite replay yields the full window table for the oracle compare —
    * and in Complete mode the watermark does NOT evict window state (Spark
    * retains everything it must re-emit). The unbounded-feed deployment of
    * this exact query is Append mode, where the 2-hour watermark closes and
    * evicts each window — that pairing IS implemented and oracle-checked as
    * [[appendHourlyCounts]] (q175); this Complete-mode shape exists so the
    * finite replay yields the full window table. */
  def hourlyTypeCounts(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventStream(spark, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sv"))
      .select(unix_timestamp(col("window.start")).as("hour_start"),
        col("event_type"), col("n"), col("sv"))
    runToMemory(spark, agg, "graft_stream_hourly", OutputMode.Complete())
  }

  // public: codegen'd (de)serializers cannot access private classes
  case class UserAgg(n: Long, sv: Double, lastSec: Long)
  case class EventRow(user_id: Long, tsSec: Long, value: Double)
  case class UserRow(user_id: Long, n: Long, sv: Double, last_sec: Long)
  case class SessState(lastSec: Long, nSessions: Long)
  case class SessRow(user_id: Long, n_sessions: Long)

  /** Arbitrary stateful aggregation via mapGroupsWithState
    * (KeyValueGroupedDataset) — running per-user totals kept in state. */
  def userRunningTotals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = eventStream(spark, dir)
      .select(col("user_id"), unix_timestamp(col("ts")).as("tsSec"), col("value"))
      .as[EventRow]
    val out = src.groupByKey(_.user_id)
      .mapGroupsWithState[UserAgg, UserRow](GroupStateTimeout.NoTimeout) {
        (uid, rows, state: GroupState[UserAgg]) =>
          val prev = state.getOption.getOrElse(UserAgg(0L, 0.0, 0L))
          var n = prev.n; var sv = prev.sv; var last = prev.lastSec
          rows.foreach { r =>
            n += 1; sv += r.value; if (r.tsSec > last) last = r.tsSec
          }
          state.update(UserAgg(n, sv, last))
          UserRow(uid, n, sv, last)
      }
      .select(col("user_id"), col("n"),
        round(col("sv"), 4).as("sv"), col("last_sec"))
    runToMemory(spark, out, "graft_stream_user", OutputMode.Update())
  }

  /** Event-time gap sessionization as a stateful stream op
    * (flatMapGroupsWithState): a session break is a >30 min silence per
    * user. Converges to the batch lag()-based answer (q29 oracle) after the
    * replay. State per user is (last event sec, session count) — O(1),
    * the 100 TB-safe shape; the sort is per user per micro-batch. */
  def sessionize(spark: SparkSession, dir: String, gapSec: Long = 1800L): DataFrame = {
    import spark.implicits._
    val src = eventStream(spark, dir)
      .select(col("user_id"), unix_timestamp(col("ts")).as("tsSec"), col("value"))
      .as[EventRow]
    val out = src.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (uid, rows, state: GroupState[SessState]) =>
          val sorted = rows.toArray.sortBy(_.tsSec)
          var st = state.getOption.getOrElse(SessState(Long.MinValue, 0L))
          sorted.foreach { r =>
            if (st.lastSec == Long.MinValue || r.tsSec - st.lastSec > gapSec)
              st = SessState(r.tsSec, st.nSessions + 1)
            else st = SessState(r.tsSec, st.nSessions)
          }
          state.update(st)
          Iterator.single(SessRow(uid, st.nSessions))
      }
      .select(col("user_id"), col("n_sessions"))
    runToMemory(spark, out, "graft_stream_sess", OutputMode.Update())
  }

  /** Stream–static join: the event stream joins the static customer
    * dimension (broadcast at 100 TB — the dimension is the small side) and
    * aggregates per hour × market segment. */
  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = broadcast(
      spark.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_mktsegment")))
    val agg = eventStream(spark, dir)
      .withWatermark("ts", "2 hours")
      .join(cust, col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sv"))
      .select(unix_timestamp(col("window.start")).as("hour_start"),
        col("c_mktsegment"), col("n"), col("sv"))
    runToMemory(spark, agg, "graft_stream_sjoin", OutputMode.Complete())
  }

  /** Stream–STREAM inner join with event-time bounds: clicks matched to
    * the same user's purchases inside [click, click + 10 min] — the
    * attribution-join shape. Both sides are watermarked streams and the
    * join condition carries explicit time bounds, which is what lets
    * Spark's StreamingSymmetricHashJoin EVICT state: a buffered click can
    * only ever match purchases ≤ 10 min after it, so once the purchase
    * watermark passes `c_ts + 10 min + delay` the click's state row drops.
    * Without the bounds both sides buffer forever — the unbounded-state
    * mistake this operator exists to show avoided. The reference has no
    * stream-stream join at all (hive.streaming is ingest-only); this is
    * Structured Streaming exceeding it.
    *
    * Honest mode note: the finite single-file replay runs one micro-batch
    * (inner-join matches all emit in-batch; eviction happens between
    * batches in an unbounded deployment of the same query). */
  /** The unstarted streaming frame of [[streamStreamJoin]] — exposed so
    * the spec can start it itself and inspect the executed plan. */
  def ssJoinFrame(spark: SparkSession, dir: String): DataFrame = {
    val clicks = eventStream(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("c_eid"), col("user_id").as("c_uid"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "30 minutes")
    val purchases = eventStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_eid"), col("user_id").as("p_uid"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    clicks.join(purchases, expr(
      "c_uid = p_uid AND p_ts >= c_ts AND p_ts <= c_ts + interval 10 minutes"))
      .select(col("c_eid"), col("p_eid"))
  }

  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, ssJoinFrame(spark, dir), "graft_stream_ssjoin",
      OutputMode.Append())

  /** Append-mode tumbling-window aggregation with bounded state, END TO END
    * — the production pairing that the Complete-mode note on
    * [[hourlyTypeCounts]] points to. In Append mode each window is emitted
    * exactly once, when the watermark passes its end, and is then EVICTED
    * from the state store — so on an unbounded feed this query holds at most
    * ~3 open hour-windows per event type, bounded by delay/window-size, not
    * by stream length.
    *
    * Finite-replay mechanics: the events table is replayed as one file plus
    * a single-row sentinel file carrying the SAME max event time
    * (`maxFilesPerTrigger=1` + AvailableNow → two micro-batches). The DATA
    * file MUST be batch 1: Append mode drops input rows at or below the
    * watermark as late before they reach the aggregation, so a
    * sentinel-first order would advance the watermark to max(ts) - delay
    * and then discard every emittable event as late — emitting nothing.
    * The file source schedules oldest-modification-time first, and that
    * ordering is ENFORCED here by setting the sentinel file's mtime
    * strictly (60 s) after the data file's, never left to write-timing
    * accident. Batch 2 (the sentinel) then emits + evicts every window
    * whose end the batch-1 watermark passed: { window : window_end <=
    * max(ts) - 2h }, exactly the oracle's predicate. The sentinel needs no
    * filtering: the only window it touches contains max(ts), whose end is
    * always above the watermark (the 2 h delay exceeds the 1 h window), so
    * it is structurally unemittable. (A post-watermark filter would be
    * unsafe anyway: Catalyst pushes non-event-time predicates below the
    * EventTimeWatermark node, which would hide the row from the watermark
    * stats collector.) */
  def appendHourlyCounts(spark: SparkSession, dir: String,
      scratch: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.schema(eventsSchema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    val maxTsRow = ev.agg(max("ts")).head()
    require(!maxTsRow.isNullAt(0), s"no events found under $dir — nothing to replay")
    val maxTs = maxTsRow.getLong(0)
    val replay = s"$scratch/append_replay"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(replay))
    ev.coalesce(1).write.mode("overwrite").parquet(replay)
    // capture the data part's IDENTITY before appending the sentinel —
    // size-based identification (data ≫ sentinel) breaks on a tiny corpus
    // where the data part is no larger than a sentinel part
    val dirF = new java.io.File(replay)
    def partFiles = dirF.listFiles()
      .filter(_.getName.endsWith(".parquet")).toSet
    val dataFiles = partFiles
    val sentinel = spark.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row(-1L, maxTs, -1L, "click", 0.0, "{}")),
      eventsSchema)
    sentinel.coalesce(1).write.mode("append").parquet(replay)
    val sentFiles = partFiles -- dataFiles
    // pin micro-batch order: data first, sentinel second. The source orders
    // by mtime; a same-millisecond tie would fall back to path order over
    // random part-file UUIDs — flaky, and sentinel-first empties the result
    // (see scaladoc). 60 s is far above any filesystem timestamp granularity.
    require(dataFiles.size == 1 && sentFiles.size == 1,
      s"expected 1 data + 1 sentinel replay file, got $partFiles")
    val dataF = dataFiles.head
    val sentF = sentFiles.head
    require(sentF.setLastModified(dataF.lastModified() + 60000L),
      s"could not pin sentinel mtime on $sentF")
    // the replay rewrite preserves the ORIGINAL raw unit (plain long
    // column), so the unit probe runs against the source dir
    val agg = spark.readStream.schema(eventsSchema)
      .option("maxFilesPerTrigger", "1").parquet(replay)
      .withColumn("ts",
        expr(s"timestamp_micros(${graft.Engine.eventsTsMicrosExpr(spark, dir)})"))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sv"))
      .select(unix_timestamp(col("window.start")).as("hour_start"),
        col("event_type"), col("n"), col("sv"))
    runToMemory(spark, agg, "graft_stream_append", OutputMode.Append(),
      Trigger.AvailableNow())
  }

  /** Streaming exact dedup — the stream analog of the batch exact-dedup
    * pipeline op (q40). At-least-once ingest is simulated by self-unioning
    * the replay (every event arrives twice); duplicates are dropped on the
    * event id *within the watermark horizon*, so the DEDUP operator's state
    * (the unbounded-cardinality one, keyed by event id) is bounded by the
    * watermark instead of growing with the stream — the property that keeps
    * this runnable on an unbounded 100 TB/day feed. The downstream aggregate
    * runs in Complete mode, which retains its state regardless of the
    * watermark — that state is one row per `event_type` (constant, a handful
    * of keys), so it is bounded by key cardinality, not by the watermark; an
    * unbounded-key aggregate would instead pair a windowed group with
    * Append mode, as [[appendHourlyCounts]] (q175) does. */
  def dedupTypeCounts(spark: SparkSession, dir: String): DataFrame = {
    val replay = eventStream(spark, dir)
    val atLeastOnce = replay.union(eventStream(spark, dir))
    val agg = atLeastOnce
      .withWatermark("ts", "2 hours")
      .dropDuplicates("event_id", "ts")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sv"))
    runToMemory(spark, agg, "graft_stream_dedup", OutputMode.Complete())
  }

  /** The `events` columns the transactional stream replays ingest. */
  private def eventRows(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), col("event_type"), col("value"))
  }

  /** The `documents` columns the streaming index replays ingest. */
  private def docRows(spark: SparkSession, dir: String): DataFrame =
    graft.Engine.table(spark, dir, "documents").select(col("doc_id"), col("text"))

  /** Streaming ingest into a transactional table — the one replay every
    * txn-log stream query runs, and the DIRECT analog of the reference's
    * streaming-ingest API (`hcatalog/streaming/HiveEndPoint.java`,
    * `TransactionBatch.java`): each micro-batch commits as ONE transaction
    * into [[TxnMergeOnRead]]'s log, the ACID layout every
    * other DML uses, and queries see only committed batches.
    *
    * `src` is range-split on `splitCol` into `nFiles` parquet files under
    * `<root>__in` and streamed with `maxFilesPerTrigger=1` and
    * `AvailableNow`, so the run commits `nFiles` separate transactions — a
    * deterministic stand-in for a live feed, same shape as production
    * where an agent hands batches to the endpoint. `root` is (re)created
    * empty with `src`'s schema, then `afterCreate` runs (consumer state
    * built over the empty table).
    *
    * Every batch commits with `insertBatch(<keyPrefix><batchId>)` and is
    * then DELIBERATELY delivered again, as foreachBatch's at-least-once
    * contract allows: the burned batch key makes the second commit a
    * no-op (a log read, no job), so the table state is exactly-once —
    * the TransactionBatch commit/abort contract, with the log as the
    * sink's transaction record. `fold(from, to)` then consumes the
    * versions `(from, to]` the batch added, read from the LOG, not the
    * stream, so a crashed consumer re-reads its range; the one
    * foreachBatch callback is its single consumer. */
  private[graft] def replayIntoTxn(spark: SparkSession, src: DataFrame,
      splitCol: String, root: String, nFiles: Int, keyPrefix: String,
      afterCreate: () => Unit = () => ())(
      fold: (Long, Long) => Unit = (_, _) => ()): Unit = {
    val inDir = s"${root}__in"
    val ckpt = s"${root}__ckpt"
    Seq(inDir, ckpt).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    src.repartitionByRange(nFiles, col(splitCol))
      .write.mode("overwrite").parquet(inDir)
    TxnMergeOnRead.create(spark, root, src.limit(0))
    afterCreate()
    var vDone = TxnMergeOnRead.currentVersion(spark, root)
    val q = spark.readStream.schema(src.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val key = s"$keyPrefix$batchId"
        TxnMergeOnRead.insertBatch(spark, root, key, batch)
        TxnMergeOnRead.insertBatch(spark, root, key, batch) // redelivery
        val v = TxnMergeOnRead.currentVersion(spark, root)
        if (v > vDone) {
          fold(vDone, v)
          vDone = v
        }
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** The rows inserted in versions `(fromV, toV]` of the txn table at
    * `root` — the insert-only change feed the streaming index consumers
    * fold. */
  private def insertsBetween(spark: SparkSession, root: String, fromV: Long,
      toV: Long): DataFrame =
    TxnMergeOnRead.changesBetween(spark, root, fromV, toV)
      .filter(col("change") === "insert").drop("change")

  /** Transactional streaming ingest of `events` ([[replayIntoTxn]] with no
    * consumer): `nFiles` batches, one insert-delta each, which the
    * compactor later folds (`streaming/mutate/` +
    * `txn/compactor/Worker.java`). Returns the table root; callers read
    * the final state via [[TxnMergeOnRead.read]]. */
  def morIngest(spark: SparkSession, dir: String, root: String,
      nFiles: Int = 4): String = {
    replayIntoTxn(spark, eventRows(spark, dir), "event_id", root, nFiles, "mb")()
    root
  }

  /** Continuously-fresh MATERIALIZED VIEW over a stream — the round-10
    * capstone composing three proven pieces end to end: each micro-batch
    * (1) commits into the txn log exactly-once ([[replayIntoTxn]]: the
    * burned batch key absorbs the deliberate double-delivery), then (2)
    * advances the [[graft.operators.IncrementalAgg]] state by folding
    * ONLY that batch's CDC range (idempotent per version: a crashed
    * refresh re-materializes the same state file). The view is exact
    * after every batch — no recompute, no eventual consistency window —
    * which is the streaming-ingest + materialized-view pairing a
    * warehouse runs in production (the reference's TransactionBatch feeds
    * a table someone ELSE periodically rebuilds; here the view rides the
    * feed). */
  def streamingMatView(spark: SparkSession, dir: String, root: String,
      stateDir: String, nFiles: Int = 4): DataFrame = {
    import graft.operators.IncrementalAgg
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stateDir))
    replayIntoTxn(spark, eventRows(spark, dir), "event_id", root, nFiles,
      "mvb_", afterCreate = () => IncrementalAgg.init(spark, root, stateDir,
        groupCols = Seq("event_type"), sumCols = Seq("value"))) {
      (_, _) => IncrementalAgg.refresh(spark, root, stateDir)
    }
    IncrementalAgg.read(spark, stateDir)
  }

  /** Continuously-maintained near-duplicate index over a stream — the
    * dedup capstone composing three proven pieces: every micro-batch of
    * documents commits into the txn log exactly-once ([[replayIntoTxn]],
    * every batch DELIBERATELY delivered twice), the
    * [[graft.operators.IncrementalLsh]] index then advances by folding
    * only that batch's CDC range (the index consumer reads the LOG, not
    * the stream, so it is decoupled from ingest exactly like the q238
    * materialized view), and the discovered pairs accumulate. After the
    * replay the cumulative pair set must equal the one-shot full-corpus
    * LSH run — which is the same all-pairs oracle as q41/q249. On an
    * unbounded feed this is the production near-dup pipeline: per batch,
    * work tracks bucket hits, never corpus size, and a crashed consumer
    * re-reads its CDC range from the log. */
  def streamingNearDupIndex(spark: SparkSession, dir: String, root: String,
      idxDir: String, nFiles: Int = 4): DataFrame = {
    import graft.operators.IncrementalLsh
    val pairsDir = s"$idxDir/pairs"
    IncrementalLsh.init(spark, idxDir)
    replayIntoTxn(spark, docRows(spark, dir), "doc_id", root, nFiles, "ndx_") {
      (from, to) =>
        IncrementalLsh.ingest(spark, idxDir, insertsBetween(spark, root, from, to))
          .write.mode("append").parquet(pairsDir)
    }
    spark.read.parquet(pairsDir)
  }

  /** Continuously-maintained FULLTEXT index over a stream — the BM25
    * counterpart of [[streamingNearDupIndex]], closing the loop on the
    * r17 incremental-ingest work: each micro-batch of documents commits
    * into the txn log exactly-once ([[replayIntoTxn]], every batch
    * DELIBERATELY delivered twice), and the index consumer folds ONLY
    * that batch's CDC range (it reads the LOG, not the stream, so a
    * crashed consumer re-reads its range) into the persisted BM25 index:
    * the first range bootstraps it ([[graft.operators.Retrieval
    * .bm25WriteIndex]]), every later range appends ([[graft.operators
    * .Retrieval.bm25AddBatch]] — postings/df rows per term bucket, the
    * (n_docs, dl_sum) scalar delta). BM25 ingest batches commute and
    * delta-fold exactly, so the stream-grown index probes bit-identically
    * to a one-shot full-corpus build — the q385 equivalence, reached
    * through a STREAM. On an unbounded feed this is the production
    * fulltext freshness loop: per batch, work is the batch's own
    * tokenize+append, never a corpus rebuild. */
  def streamingBm25Index(spark: SparkSession, dir: String, root: String,
      idxDir: String, queries: Seq[(Int, Seq[String])], k: Int,
      nFiles: Int = 3): DataFrame = {
    import graft.operators.{IndexStore, Retrieval}
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxDir))
    replayIntoTxn(spark, docRows(spark, dir), "doc_id", root, nFiles, "bmx_") {
      (from, to) =>
        // bounded (one micro-batch); checkpointed because the index
        // write fans the frame into THREE stores (postings/terms/stats)
        // and each would otherwise re-run the CDC log read
        val fresh = insertsBetween(spark, root, from, to).localCheckpoint(true)
        if (IndexStore.latest(spark, idxDir).isEmpty)
          Retrieval.bm25WriteIndex(fresh, idxDir, nBuckets = 16)
        else Retrieval.bm25AddBatch(fresh, idxDir)
        ()
    }
    Retrieval.bm25TopKIndexed(spark, idxDir, queries, k)
  }

  /** Stream–stream LEFT OUTER join with event-time bounds — the
    * attribution join that must ALSO report unconverted clicks. Outer
    * emission in Spark is watermark-driven: a click emits null-padded only
    * once the watermark proves no in-window purchase can still arrive
    * (SPARK-24730 semantics), so on a finite replay the tail clicks would
    * stay locked in state forever. The replay therefore appends two
    * future-timestamped sentinel files: batch 1 = data (matches emit),
    * batch 2 = sentinel 1 (watermark jumps past every click's expiry
    * `c_ts + 10 min`, the earlier unmatched clicks emit), batch 3 =
    * sentinel 2 (runs under the post-jump watermark, flushing the
    * remainder) — deliberately NOT relying on Spark's optional no-data
    * micro-batch. Because the final watermark clears max(ts) + 35 min,
    * every unmatched click emits and the streaming result equals the
    * plain batch LEFT JOIN exactly — no boundary-semantics carve-out in
    * the oracle.
    *
    * The sentinels must PASS each side's type filter: Catalyst pushes a
    * deterministic filter below the EventTimeWatermark node, so a
    * predicate that removed them would hide them from the watermark stats
    * collector and stall the clock at max(ts) − 30 min (measured: exactly
    * the tail click above that line never emitted — the q175 hazard).
    * They are instead neutralized STRUCTURALLY, where no pushdown can
    * reorder: a post-watermark projection rewrites the sentinel's user id
    * to a side-distinct negative (click side −1, purchase side −2), so
    * the two sides' sentinels can never equi-join each other or any real
    * row, a sentinel "purchase" is never emitted by a LEFT join, and a
    * sentinel "click" can never be EVICTED as unmatched because its own
    * expiry (its ts + 10 min) stays above every watermark the replay
    * reaches (final wm = last sentinel − 30 min < first sentinel + 10
    * min). No output filter needed — and none is safe to add, since it
    * would push below the watermark node and re-create the stall.
    *
    * File order is pinned by mtime exactly as [[appendHourlyCounts]]:
    * sentinel-first would mark the whole data file late and drop it.
    *
    * At 100 TB: state is bounded by the 10-minute join window + 30-minute
    * delay per side (watermark eviction), not by stream length — the
    * reason the time bounds are IN the join condition. */
  def streamStreamLeftJoin(spark: SparkSession, dir: String,
      scratch: String): DataFrame =
    streamStreamOuter(spark, dir, scratch, "left_outer", "graft_stream_ssloj")

  /** Stream–stream FULL OUTER join — [[streamStreamLeftJoin]]'s replay and
    * sentinel discipline applied symmetrically: unmatched PURCHASES also
    * emit null-padded once the watermark proves no in-window click can
    * still arrive (a purchase at `p_ts` matches clicks in
    * `[p_ts − 10 min, p_ts]`, so it is evictable once the watermark
    * passes `p_ts` — below the final watermark for every real purchase,
    * above it for the sentinels, which therefore never surface from
    * either side). Converges to the exact batch FULL OUTER join. */
  def streamStreamFullOuterJoin(spark: SparkSession, dir: String,
      scratch: String): DataFrame =
    streamStreamOuter(spark, dir, scratch, "full_outer", "graft_stream_ssfoj")

  private def streamStreamOuter(spark: SparkSession, dir: String,
      scratch: String, joinType: String, sinkName: String): DataFrame = {
    val ev = graft.Engine.table(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type")
    val replay = s"$scratch/ssloj_replay"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(replay))
    ev.coalesce(1).write.mode("overwrite").parquet(replay)
    val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
    val replaySchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType)))
    import spark.implicits._
    def sentinel(id: Long, plusMin: Int) = Seq((id,
        new java.sql.Timestamp(maxTs.getTime + plusMin * 60000L),
        -1L, "sentinel"))
      .toDF("event_id", "ts", "user_id", "event_type")
    // capture each part's IDENTITY as it lands — ordering by descending
    // size mis-orders the replay on a tiny corpus whose data part is no
    // larger than a sentinel part, dropping the data batch as late
    val dirF = new java.io.File(replay)
    def partFiles = dirF.listFiles()
      .filter(_.getName.endsWith(".parquet")).toSet
    val dataFiles = partFiles
    sentinel(-1L, 65).coalesce(1).write.mode("append").parquet(replay)
    val s1Files = partFiles -- dataFiles
    sentinel(-2L, 66).coalesce(1).write.mode("append").parquet(replay)
    val s2Files = partFiles -- dataFiles -- s1Files
    // pin micro-batch order data → s1 → s2 (see appendHourlyCounts)
    require(dataFiles.size == 1 && s1Files.size == 1 && s2Files.size == 1,
      s"expected 1 data + 2 sentinel replay files, got $partFiles")
    val parts = Array(dataFiles.head, s1Files.head, s2Files.head)
    parts.zipWithIndex.foreach { case (f, i) =>
      require(f.setLastModified(parts(0).lastModified() + i * 60000L),
        s"could not pin mtime on $f")
    }
    def side(tpe: String, pre: String, sentUid: Long): DataFrame =
      spark.readStream.schema(replaySchema)
        .option("maxFilesPerTrigger", "1").parquet(replay)
        .withWatermark("ts", "30 minutes")
        // sentinels pass the filter (see scaladoc: a filter that removed
        // them would be pushed below the watermark node and stall the
        // clock); the projection then gives them a side-distinct uid
        .filter(col("event_type") === tpe || col("event_type") === "sentinel")
        .select(col("event_id").as(s"${pre}_eid"),
          when(col("event_type") === "sentinel", lit(sentUid))
            .otherwise(col("user_id")).as(s"${pre}_uid"),
          col("ts").as(s"${pre}_ts"))
    val joined = side("click", "c", -1L).join(side("purchase", "p", -2L),
      expr("c_uid = p_uid AND p_ts >= c_ts AND p_ts <= c_ts + interval 10 minutes"),
      joinType)
      .select(col("c_eid"), col("p_eid"))
    runToMemory(spark, joined, sinkName, OutputMode.Append(),
      Trigger.AvailableNow(), shufflePartitions = Some(4))
  }

  /** Streaming dedup via `dropDuplicatesWithinWatermark` — the operator
    * for at-least-once feeds whose retries arrive with JITTERED event
    * times: plain `dropDuplicates(id, ts)` misses a retry whose timestamp
    * moved, while the within-watermark form dedups on the id alone and
    * still bounds its state by the watermark horizon (the property that
    * keeps an unbounded 100 TB/day feed runnable). The replay delivers
    * every event twice — the second copy 1 s later (ingest-retry jitter)
    * — pinned data-first by mtime; the per-type aggregate must equal the
    * batch aggregate over the ORIGINAL events exactly (count and sum are
    * insensitive to which copy survives: same id, type, value). */
  def dedupWithinWatermarkCounts(spark: SparkSession, dir: String,
      scratch: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.schema(eventsSchema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    val replay = s"$scratch/ddww_replay"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(replay))
    ev.coalesce(1).write.mode("overwrite").parquet(replay)
    val dirF = new java.io.File(replay)
    def partFiles = dirF.listFiles()
      .filter(_.getName.endsWith(".parquet")).toSet
    val dataFiles = partFiles
    // the duplicate delivery: same events, ts shifted +1s (retry jitter)
    val unit = graft.Engine.eventsTsMicrosExpr(spark, dir) match {
      case "ts DIV 1000" => 1000000000L // raw nanos
      case _ => 1000000L               // raw micros
    }
    ev.withColumn("ts", col("ts") + lit(unit))
      .coalesce(1).write.mode("append").parquet(replay)
    val dupFiles = partFiles -- dataFiles
    require(dataFiles.size == 1 && dupFiles.size == 1,
      s"expected 1 data + 1 duplicate replay file, got $partFiles")
    require(dupFiles.head.setLastModified(
      dataFiles.head.lastModified() + 60000L), "could not pin mtime")
    val agg = spark.readStream.schema(eventsSchema)
      .option("maxFilesPerTrigger", "1").parquet(replay)
      .withColumn("ts",
        expr(s"timestamp_micros(${graft.Engine.eventsTsMicrosExpr(spark, dir)})"))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sv"))
    runToMemory(spark, agg, "graft_stream_ddww", OutputMode.Complete(),
      Trigger.AvailableNow(), shufflePartitions = Some(4))
  }
}
