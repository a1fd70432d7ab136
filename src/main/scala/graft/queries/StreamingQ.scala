package graft.queries

import graft.Engine
import graft.streaming.StreamOps
import org.apache.spark.sql.functions._

/** Streaming queries (SURVEY.md §2.11). Results come from real
  * StreamingQuery executions (file source → memory sink) and are verified
  * against batch DuckDB aggregates — the stream must converge to the exact
  * batch answer after the replay.
  */
object StreamingQ {

  val all: Seq[Qd] = Seq(

    Qd("q70_stream_hourly_window",
      """SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_start,
        |  event_type, count(*) AS n, ROUND(sum(value), 4) AS sv
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""") { (s, dir) =>
      StreamOps.hourlyTypeCounts(s, dir).orderBy("hour_start", "event_type")
    },

    Qd("q71_stream_user_state",
      """SELECT user_id, count(*) AS n, ROUND(sum(value), 4) AS sv,
        |  max(CAST(floor(epoch(ts)) AS BIGINT)) AS last_sec
        |FROM events GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
      StreamOps.userRunningTotals(s, dir).orderBy("user_id")
    },

    // Stateful stream sessionization must converge to the batch lag() answer
    // (same oracle as q29).
    Qd("q81_stream_sessionize",
      """WITH g AS (
        |  SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
        |  FROM events)
        |SELECT user_id,
        |  CAST(1 + sum(CASE WHEN pts IS NOT NULL
        |                    AND date_diff('second', pts, ts) > 1800
        |               THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
        |FROM g GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
      StreamOps.sessionize(s, dir).orderBy("user_id")
    },

    // Duplicated (at-least-once) arrivals deduped on event_id within the
    // watermark → counts equal the clean batch aggregate.
    Qd("q135_stream_dedup",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  ROUND(sum(value), 4) AS sv
        |FROM events GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
      StreamOps.dedupTypeCounts(s, dir).orderBy("event_type")
    },

    Qd("q82_stream_static_join",
      """SELECT CAST(floor(epoch(date_trunc('hour', e.ts))) AS BIGINT) AS hour_start,
        |  c.c_mktsegment, count(*) AS n, ROUND(sum(e.value), 4) AS sv
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2 ORDER BY hour_start, c_mktsegment""") { (s, dir) =>
      StreamOps.streamStaticJoin(s, dir).orderBy("hour_start", "c_mktsegment")
    },

    // Transactional streaming ingest (HiveEndPoint/TransactionBatch analog):
    // 4 micro-batches each committing one insert-delta into the txn log
    // (each delivered twice; the burned batch key absorbs the second),
    // minor compaction folding them, then a read-side aggregate that must
    // equal the batch answer — exactly-once across the per-batch
    // transactions.
    Qd("q153_stream_mor_ingest",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids,
        |  ROUND(sum(value), 4) AS sv
        |FROM events GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
      import graft.operators.TxnMergeOnRead
      val sf = new java.io.File(dir).getName.replace(".", "_")
      val root = s"${Engine.scratchRoot}/ddl/$sf/g153_mor_ingest"
      StreamOps.morIngest(s, dir, root, nFiles = 4)
      TxnMergeOnRead.compactMinor(s, root)
      TxnMergeOnRead.read(s, root)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_id")).as("n_ids"),
          round(sum("value"), 4).as("sv"))
        .orderBy("event_type")
    },

    // Append-mode windowed aggregation with a REAL watermark-driven emission:
    // only windows the watermark has passed (end <= max(ts) - 2h) appear,
    // each exactly once, and their state is evicted — the bounded-state
    // deployment shape of q70. The oracle applies the same predicate to the
    // batch answer.
    Qd("q175_stream_append_window",
      """WITH w AS (
        |  SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_start,
        |    event_type, count(*) AS n, ROUND(sum(value), 4) AS sv
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT epoch(max(ts) - INTERVAL 2 HOUR) AS wm FROM events)
        |SELECT hour_start, event_type, n, sv FROM w, c
        |WHERE hour_start + 3600 <= wm
        |ORDER BY hour_start, event_type""") { (s, dir) =>
      val sf = new java.io.File(dir).getName
      StreamOps.appendHourlyCounts(s, dir, s"${Engine.scratchRoot}/streamdata/$sf")
        .orderBy("hour_start", "event_type")
    },

    // Stream–stream inner join with event-time bounds
    // ([[StreamOps.streamStreamJoin]] — the attribution-join shape, state
    // evictable precisely BECAUSE the condition carries time bounds). The
    // streaming result must converge to the exact batch interval join.
    Qd("q223_stream_stream_join",
      """SELECT c.event_id AS c_eid, p.event_id AS p_eid
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
        |ORDER BY c_eid, p_eid""") { (s, dir) =>
      StreamOps.streamStreamJoin(s, dir).orderBy("c_eid", "p_eid")
    },

    // Continuously-fresh materialized view over a stream
    // ([[StreamOps.streamingMatView]]): every micro-batch commits to the
    // txn log exactly-once (burned batch keys absorb a DELIBERATE
    // double-delivery) and the IncrementalAgg state folds only that
    // batch's CDC range. The view after the replay must equal the batch
    // aggregate over everything — a double-applied batch, lost range, or
    // stale fold breaks the hash.
    Qd("q238_streaming_mat_view",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
        |       ROUND(sum(value), 4) AS sv
        |FROM events GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
      val sf = new java.io.File(dir).getName.replace(".", "_")
      StreamOps.streamingMatView(s, dir,
        s"${Engine.scratchRoot}/ddl/$sf/g238_txn", s"${Engine.scratchRoot}/ddl/$sf/g238_mv")
        .select(col("event_type"), col("cnt"),
          round(col("sum_value"), 4).as("sv"))
        .orderBy("event_type")
    },

    // Stream–stream LEFT OUTER join ([[StreamOps.streamStreamLeftJoin]] —
    // watermark-driven null emission; sentinel replay advances the clock
    // past every click's expiry so the stream converges to the EXACT
    // batch left join, unconverted clicks and all).
    Qd("q244_stream_stream_left_outer",
      """SELECT c.event_id AS c_eid, p.event_id AS p_eid
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
        |ORDER BY c_eid, p_eid""") { (s, dir) =>
      val sf = new java.io.File(dir).getName
      StreamOps.streamStreamLeftJoin(s, dir,
        s"${Engine.scratchRoot}/streamdata/$sf").orderBy("c_eid", "p_eid")
    },

    // Stream–stream FULL OUTER join ([[StreamOps.streamStreamFullOuterJoin]]
    // — the left-outer sentinel discipline applied symmetrically: unmatched
    // purchases ALSO emit null-padded once the watermark proves no
    // in-window click can still arrive). Converges to the exact batch
    // FULL OUTER join — unconverted clicks AND orphan purchases included.
    Qd("q276_stream_stream_full_outer",
      """SELECT c.event_id AS c_eid, p.event_id AS p_eid
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |FULL OUTER JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
        |ORDER BY c_eid NULLS FIRST, p_eid NULLS FIRST""") { (s, dir) =>
      val sf = new java.io.File(dir).getName
      StreamOps.streamStreamFullOuterJoin(s, dir,
        s"${Engine.scratchRoot}/streamdata/$sf")
        .orderBy(col("c_eid").asc_nulls_first, col("p_eid").asc_nulls_first)
    },

    // Watermark-bounded dedup with JITTERED retries
    // ([[StreamOps.dedupWithinWatermarkCounts]] —
    // `dropDuplicatesWithinWatermark`): the replay delivers every event
    // twice, the second copy time-shifted +1 s, which `dropDuplicates
    // (id, ts)` would NOT catch; the within-watermark form dedups on the
    // id alone with state still bounded by the horizon, so the per-type
    // aggregate equals the batch aggregate over the original events.
    Qd("q277_stream_dedup_within_watermark",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       ROUND(sum(value), 4) AS sv
        |FROM events GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
      val sf = new java.io.File(dir).getName
      StreamOps.dedupWithinWatermarkCounts(s, dir,
        s"${Engine.scratchRoot}/streamdata/$sf")
        .select(col("event_type"), col("n"), col("sv"))
        .orderBy("event_type")
    },

    // Continuously-maintained near-dup index
    // ([[StreamOps.streamingNearDupIndex]] — streaming ingest with
    // exactly-once batch commits under DELIBERATE double-delivery, the
    // LSH index folding each batch's CDC range from the LOG, cumulative
    // pairs equal to the one-shot full-corpus run; same all-pairs oracle
    // as q41/q249).
    Qd("q253_streaming_neardup_index",
      s"""${graft.queries.Pipeline.shCte},
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2,
        |    len(list_intersect(a.g, b.g)) AS i, len(a.g) AS n1, len(b.g) AS n2
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT d1, d2, ROUND(CAST(i AS DOUBLE)/(n1+n2-i), 6) AS jac
        |FROM pairs WHERE CAST(i AS DOUBLE)/(n1+n2-i) >= 0.8
        |ORDER BY d1, d2""") { (s, dir) =>
      val sf = new java.io.File(dir).getName.replace(".", "_")
      StreamOps.streamingNearDupIndex(s, dir,
        s"${Engine.scratchRoot}/ddl/$sf/g253_txn",
        s"${Engine.scratchRoot}/ddl/$sf/g253_idx")
        .orderBy("d1", "d2")
    }
  )
}
