package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Append-mode emission contract for q175 beyond the oracle check: the
  * emitted set must be exactly the batch windows the final watermark has
  * passed (end <= max(ts) - delay), recent windows must be withheld (the
  * behavior that distinguishes Append from Complete), and the replay must
  * be deterministic across reruns. */
class StreamAppendSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 4, appName = "graft-sapp")
  private val dir = "/root/testdata/sf0.001"
  private val scratch = s"${Engine.scratchRoot}/streamdata/spec"

  override def afterAll(): Unit = spark.stop()

  private def batchWindows() = {
    val ev = Engine.table(spark, dir, "events")
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    val all = ev
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sv"))
      .select(unix_timestamp(col("window.start")).as("hour_start"),
        col("event_type"), col("n"), col("sv"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    (all, maxTs.getTime / 1000L) // epoch seconds (ms-truncated like Spark's wm)
  }

  test("append emits exactly the watermark-passed windows, withholds the rest") {
    val streamed = StreamOps.appendHourlyCounts(spark, dir, scratch)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val (all, maxSec) = batchWindows()
    val wmSec = maxSec - 7200L
    val expected = all.filter { case (hs, _, _, _) => hs + 3600L <= wmSec }
    assert(streamed.toSet == expected.toSet,
      s"emitted ${streamed.length} windows, expected ${expected.length}")
    // the distinguishing Append behavior: open windows near max(ts) withheld
    val withheld = all.filterNot { case (hs, _, _, _) => hs + 3600L <= wmSec }
    assert(withheld.nonEmpty, "test data left no window open — delay too small")
    assert(streamed.nonEmpty, "no window emitted — watermark never advanced")
  }

  test("replay is deterministic across reruns") {
    val a = StreamOps.appendHourlyCounts(spark, dir, scratch)
      .collect().map(_.toSeq).toSet
    val b = StreamOps.appendHourlyCounts(spark, dir, scratch)
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("stream-stream join runs SYMMETRIC hash join and converges to the batch interval join") {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.streaming.Trigger
    // start the stream ourselves so the EXECUTED streaming plan is
    // inspectable: the stateful symmetric join must be what ran, not a
    // batch join smuggled in by a non-streaming source
    val q = StreamOps.ssJoinFrame(spark, dir).writeStream.format("memory")
      .queryName("ssjoin_spec").outputMode("append")
      .trigger(Trigger.Once()).start()
    q.awaitTermination()
    val baos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(baos))(q.explain(extended = false))
    val plan = baos.toString
    assert(plan.contains("StreamingSymmetricHashJoin"),
      s"expected StreamingSymmetricHashJoin in the executed plan:\n$plan")
    val got = spark.table("ssjoin_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ev = graft.Engine.table(spark, dir, "events")
    val batch = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_eid"), col("user_id").as("c_uid"),
        col("ts").as("c_ts"))
      .join(ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_eid"), col("user_id").as("p_uid"),
          col("ts").as("p_ts")),
        expr("c_uid = p_uid AND p_ts >= c_ts AND p_ts <= c_ts + interval 10 minutes"))
      .select("c_eid", "p_eid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === batch, "stream must converge to the exact batch answer")
    assert(spark.streams.active.isEmpty,
      "no stray streaming queries left running")
  }

  test("stream-stream LEFT OUTER join runs the symmetric hash join in" +
      " LeftOuter mode and emits every unmatched click (q244 contract)") {
    import org.apache.spark.sql.functions.col
    val scratch = s"${Engine.scratchRoot}/streamspec/ssloj"
    val df = StreamOps.streamStreamLeftJoin(spark, dir, scratch)
    // the memory table the helper returns is the EXECUTED run's sink;
    // the last active-run plan is inspectable via the sink table's query
    val got = df.collect().map(r => (r.getLong(0),
      if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    val ev = graft.Engine.table(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_eid"), col("user_id").as("c_uid"),
        col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_eid"), col("user_id").as("p_uid"),
        col("ts").as("p_ts"))
    val batch = clicks.join(purchases, org.apache.spark.sql.functions.expr(
        "c_uid = p_uid AND p_ts >= c_ts AND p_ts <= c_ts + interval 10 minutes"),
        "left_outer")
      .select("c_eid", "p_eid")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(got === batch,
      "left-outer stream must converge to the exact batch LEFT JOIN " +
        "(unmatched clicks included — the watermark-advance contract)")
    assert(got.exists(_._2 == -1L), "test corpus must contain unmatched clicks")
    assert(!got.exists(_._1 < 0), "sentinels must never surface in the result")
    assert(spark.streams.active.isEmpty)
  }

  test("stream-stream FULL OUTER emits BOTH sides' unmatched rows and" +
      " converges to the exact batch full-outer join; sentinels withheld") {
    import org.apache.spark.sql.functions.{col, expr}
    val scratch = s"${Engine.scratchRoot}/streamspec/ssfoj"
    def key(r: org.apache.spark.sql.Row) =
      (if (r.isNullAt(0)) -1L else r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))
    val got = StreamOps.streamStreamFullOuterJoin(spark, dir, scratch)
      .collect().map(key).toSet
    val ev = graft.Engine.table(spark, dir, "events")
    val batch = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_eid"), col("user_id").as("c_uid"),
        col("ts").as("c_ts"))
      .join(ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_eid"), col("user_id").as("p_uid"),
            col("ts").as("p_ts")),
        expr("c_uid = p_uid AND p_ts >= c_ts AND p_ts <= c_ts + interval 10 minutes"),
        "full_outer")
      .select("c_eid", "p_eid").collect().map(key).toSet
    assert(got === batch, "full-outer stream must converge to the batch join")
    assert(got.exists(_._2 == -1L), "corpus must contain unmatched clicks")
    assert(got.exists(_._1 == -1L), "corpus must contain unmatched purchases")
    assert(spark.streams.active.isEmpty)
  }

  test("dropDuplicatesWithinWatermark catches JITTERED retries that exact" +
      " (id, ts) dedup would double-count") {
    import org.apache.spark.sql.functions.col
    val scratch = s"${Engine.scratchRoot}/streamspec/ddww"
    val got = StreamOps.dedupWithinWatermarkCounts(spark, dir, scratch)
      .select("event_type", "n").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = graft.Engine.table(spark, dir, "events")
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want,
      "per-type counts must equal the batch counts over the ORIGINAL " +
        s"events (every jittered retry deduped): got $got want $want")
    assert(spark.streams.active.isEmpty)
  }

  test("left-outer replay survives a TINY corpus whose data part is no" +
      " larger than a sentinel part — file identity, not size, pins order") {
    val tiny = s"${Engine.scratchRoot}/streamspec/tinyev"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tiny))
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    Seq(
      (1L, ts(0), 10L, "click"),
      (2L, ts(5), 10L, "purchase"),
      (3L, ts(1), 20L, "click"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .coalesce(1).write.parquet(s"$tiny/events.parquet")
    val got = StreamOps.streamStreamLeftJoin(spark, tiny, s"$tiny/scratch")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(got == Set((1L, Some(2L)), (3L, None)),
      s"tiny-corpus replay dropped or mangled rows: $got")
    assert(spark.streams.active.isEmpty)
  }
}
