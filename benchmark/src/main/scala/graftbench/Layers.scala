package graftbench

import graftbench.Main.Rec
import graftbench.Trace.{Batch, Job, Query}

/** Per-layer metrics and spans of the traced window.
  *
  * Span tree: run > workload > statement (tagged with its kind) > the
  * engine call and, when a statement materialises its result, execute; the
  * planning phases of every query and every Spark job hang under whichever
  * of the two they started in, and the micro-batches of a stream statement
  * under its call. A layer's self time is the time its spans cover minus
  * the part their children cover. */
final case class Layers(tr: Trace, recs: Seq[Rec], workload: String,
    root: String, cores: Int) {
  import Layers.Span

  private val stmts = recs.filter(_.op.kind != "setup")
  private val (jobs, queries, batches) =
    tr.synchronized((tr.jobs.toList, tr.queries.toList, tr.batches.toList))
  private def jobsOf(r: Rec): Seq[Job] = jobs.filter(_.stmt == r.op.idx)
  private def batchesOf(r: Rec): Seq[Batch] = if (r.op.kind != "stream") Nil
    else batches.filter(b => b.startMs >= r.startMs && b.startMs <= r.endMs)
  private def queriesOf(r: Rec): Seq[Query] =
    (r.tracked.toSeq ++ queries.filter(q =>
      q.startMs >= r.startMs && q.startMs <= r.endMs)).distinct

  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private lazy val spans: Seq[Span] = {
    val out = Seq.newBuilder[Span]
    var next = 0
    def add(parent: Int, name: String, layer: String, s: Long, e: Long,
        tags: (String, String)*): Int = {
      next += 1
      out += Span(next, parent, name, layer, s, math.max(s, e), tags)
      next
    }
    val s0 = stmts.map(_.startMs).minOption.getOrElse(0L)
    val e0 = stmts.map(_.endMs).maxOption.getOrElse(0L)
    val run = add(0, "run", "bench", s0, e0)
    val wl = add(run, workload, "bench", s0, e0)
    stmts.foreach { r =>
      val st = add(wl, s"statement ${r.op.idx}", "bench", r.startMs, r.endMs,
        "kind" -> r.op.kind, "ok" -> r.ok.toString)
      val call = add(st, "call", "engine", r.startMs, r.callEndMs)
      val exec = if (r.endMs > r.callEndMs)
        add(st, "execute", "exec", r.callEndMs, r.endMs) else call
      def under(t: Long) = if (t < r.callEndMs) call else exec
      queriesOf(r).foreach { q =>
        var t = q.startMs
        Seq("analysis" -> q.analysisMs, "optimization" -> q.optMs,
          "planning" -> q.planMs).foreach { case (n, d) =>
          if (d > 0) add(under(t), n, "plans", t, t + d)
          t += d
        }
      }
      batchesOf(r).foreach(b => add(call, s"batch ${b.id}", "streaming",
        b.startMs, b.startMs + b.triggerMs, "rows" -> b.inputRows.toString))
      jobsOf(r).foreach(j => add(under(j.start), s"job ${j.id}", "spark",
        j.start, math.max(j.start, j.end), "stages" -> j.stages.toString, "tasks" -> j.tasks.toString))
    }
    out.result()
  }

  /** layer -> (self seconds, span count) */
  private lazy val selfTimes: Map[String, (Double, Int)] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> (ss.map { s =>
        val covered = Trace.union(kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a })
        (s.end - s.start - covered) / 1e3
      }.sum, ss.size)
    }
  }

  def metrics: Seq[(String, Double)] = {
    val all = stmts.flatMap(jobsOf)
    val wall = stmts.map(_.wallS).sum
    val jobS = stmts.map(r => Trace.union(jobsOf(r).map(j => (j.start, math.max(j.start, j.end)))) / 1e3).sum
    val qs = stmts.flatMap(queriesOf)
    val graftCalls = qs.map(_.graftCalls).sum
    val taskS = all.map(_.runMs).sum / 1e3
    val windowS = (stmts.map(_.endMs).maxOption.getOrElse(0L) -
      stmts.map(_.startMs).minOption.getOrElse(0L)) / 1e3
    def kind(k: String) = stmts.filter(_.op.kind == k)
    def jobsPer(rs: Seq[Rec]) = mean(rs.map(r => jobsOf(r).size.toDouble))
    def has(r: Rec, s: String) = r.op.text.contains(s)
    val txn = workload == "txn_dml"
    val writes = kind("write")
    val adds = kind("iwrite").filter(has(_, " ADD FROM "))
    val removes = kind("iwrite").filter(has(_, " REMOVE FROM "))
    val replays = kind("stream")
    val bs = replays.flatMap(batchesOf)
    def batchS(f: Batch => Long) = bs.map(f).sum / 1e3
    val idxFiles = Option(new java.io.File(s"$root/store").listFiles())
      .toSeq.flatten.filter(_.getName.endsWith("_idx"))
      .flatMap(Main.walk).count(_.isFile)
    val compacts = kind("maint").filter(has(_, " COMPACT"))
    val optimizes = kind("maint").filter(has(_, "OPTIMIZE"))
    val rowsOut = qs.map(_.rowsOut).sum
    Seq(
      "spark.jobs" -> all.size.toDouble,
      "spark.stages" -> all.map(_.stages).sum.toDouble,
      "spark.tasks" -> all.map(_.tasks).sum.toDouble,
      "spark.job_s" -> jobS,
      "spark.driver_gap_s" -> (wall - jobS),
      "spark.task_run_s" -> taskS,
      "spark.task_cpu_s" -> all.map(_.cpuNs).sum / 1e9,
      "spark.task_deser_s" -> all.map(_.deserMs).sum / 1e3,
      "spark.gc_s" -> all.map(_.gcMs).sum / 1e3,
      "spark.input_bytes" -> all.map(_.inputBytes).sum.toDouble,
      "spark.shuffle_read_bytes" -> all.map(_.shuffleRead).sum.toDouble,
      "spark.shuffle_write_bytes" -> all.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> all.map(_.spill).sum.toDouble,
      "spark.output_bytes" -> all.map(_.outBytes).sum.toDouble,
      "spark.output_records" -> all.map(_.outRecords).sum.toDouble,
      "spark.core_busy" -> (if (windowS > 0) taskS / (windowS * cores) else 0.0),
      "engine.sql_call_s" -> median(writes.map(_.callS)),
      "plans.analysis_s" -> qs.map(_.analysisMs).sum / 1e3,
      "plans.optimization_s" -> qs.map(_.optMs).sum / 1e3,
      "plans.planning_s" -> qs.map(_.planMs).sum / 1e3,
      "plans.graft_rule_s" -> qs.map(_.graftNs).sum / 1e9,
      "plans.graft_rule_effective_ratio" ->
        (if (graftCalls > 0) qs.map(_.graftEffective).sum.toDouble / graftCalls else 0.0),
      "exec.codegen_s" -> stmts.map(_.codegenNs).sum / 1e9,
      "exec.rows_examined_per_row_out" ->
        (if (rowsOut > 0) qs.map(_.rowsScanned).sum.toDouble / rowsOut else 0.0),
      "exec.files_read" -> qs.map(_.filesRead).sum.toDouble,
      "exec.files_pruned" -> qs.map(_.filesPruned).sum.toDouble,
      "txn.commit_jobs" -> (if (txn) jobsPer(writes) else 0.0),
      "txn.files_per_commit" -> (if (txn) mean(writes.map(_.newFiles.toDouble)) else 0.0),
      "txn.bytes_per_commit" -> (if (txn) mean(writes.map(_.newBytes.toDouble)) else 0.0),
      "txn.live_delta_dirs" -> (if (txn) mean(kind("read").map(_.deltaDirs.toDouble)) else 0.0),
      "txn.read_jobs" -> (if (txn) jobsPer(kind("read")) else 0.0),
      "txn.compact_bytes_rewritten" -> (if (txn) optimizes.map(_.newBytes).sum.toDouble else 0.0),
      "index.add_jobs" -> jobsPer(adds),
      "index.remove_jobs" -> jobsPer(removes),
      "index.bytes_per_add" -> mean(adds.map(_.newBytes.toDouble)),
      "index.compact_jobs" -> jobsPer(compacts),
      "index.probe_jobs" -> jobsPer(kind("probe")),
      "index.store_files" -> idxFiles.toDouble,
      "stream.batches" -> bs.size.toDouble,
      "stream.trigger_s" -> batchS(_.triggerMs),
      "stream.add_batch_s" -> batchS(_.addBatchMs),
      "stream.wal_commit_s" -> batchS(_.walCommitMs),
      "stream.query_planning_s" -> batchS(_.planningMs),
      "stream.latest_offset_s" -> batchS(_.latestOffsetMs),
      // start() to the first batch, per replay
      "stream.start_s" -> mean(replays.flatMap(r => batchesOf(r)
        .minByOption(_.startMs).map(b => (b.startMs - b.queryStartMs) / 1e3))),
      "stream.state_rows" -> bs.map(_.stateRows).maxOption.getOrElse(0L).toDouble,
      "stream.state_mem_bytes" ->
        bs.map(_.stateMemBytes).maxOption.getOrElse(0L).toDouble,
      "stream.state_commit_s" -> batchS(_.stateCommitMs),
    ) ++ Seq("bench", "engine", "exec", "plans", "spark", "streaming").flatMap { l =>
      val (s, n) = selfTimes.getOrElse(l, (0.0, 0))
      Seq(s"self.$l.s" -> s, s"self.$l.count" -> n.toDouble)
    }
  }

  def json: String = Json.obj(Seq(
    "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }),
    "self_time" -> Json.obj(selfTimes.toSeq.sortBy(_._1).map { case (l, (s, n)) =>
      l -> Json.obj(Seq("self_s" -> Json.num(s), "count" -> n.toString)) }),
    "spans" -> Json.arr(spans.map(s => Json.obj(Seq(
      "id" -> s.id.toString, "parent" -> s.parent.toString,
      "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
      "start_ms" -> s.start.toString, "end_ms" -> s.end.toString) ++
      s.tags.map { case (k, v) => k -> Json.str(v) })))))
}

object Layers {
  private final case class Span(id: Int, parent: Int, name: String,
      layer: String, start: Long, end: Long, tags: Seq[(String, String)])
}
