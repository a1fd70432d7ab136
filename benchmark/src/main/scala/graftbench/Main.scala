package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Engine, SparkEntry}
import graft.streaming.StreamOps

/** One benchmark run inside one JVM: set the engine up several times,
  * prepare the workload, run its statement stream from a single closed-loop
  * client, and write what happened to `--out` as JSON. `run.py` generates
  * the inputs, starts this program, checks the results and prints the
  * metrics.
  *
  * Arguments (all `--key value`): workload, data (warehouse dir), ops
  * (statement file), root (per-run scratch root), out, cores, setups,
  * trace (0/1), pass and warm (statements per pass and in the warm pass,
  * views not counted), passes and
  * traced-passes (passes per untraced and traced window), subst (k=v,...
  * text substitutions applied to every statement).
  *
  * Statement kinds: `setup` (views and DDL, never timed), `read`, `write`
  * and `maint` (SQL against the transactional table; an OLAP read is a
  * registered query name), `probe` and `iwrite` (index TOPK probes and
  * ADD/REMOVE batches), `stream` (`<pipeline> <dir>`: one StreamOps replay
  * of `<dir>/events.parquet`, from `start()` to termination).
  */
object Main {

  final case class Op(idx: Int, kind: String, text: String)

  final class Rec(val op: Op, val phase: String) {
    var startMs, endMs = 0L
    var wallS, callS = 0.0
    var ok = true
    var err = ""
    var rows: Seq[Row] = Nil
    var codegenNs = 0L
    var newFiles, newBytes, deltaDirs = 0L
    var callEndMs = 0L
    var tracked: Option[Trace.Query] = None
  }

  private def now(): Double = System.nanoTime() / 1e9

  private val TempView = "(?is)CREATE OR REPLACE TEMP VIEW (\\w+) AS (.*)".r

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = a("workload")
    val data = a("data")
    val root = a("root")
    val cores = a("cores").toInt
    val traced = a("trace") == "1"
    val pass = a("pass").toInt
    val passes = a("passes").toInt
    val tracedPasses = a("traced-passes").toInt
    val subst = a.getOrElse("subst", "").split(",").filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toSeq
    val ops = Files.readAllLines(Paths.get(a("ops")), UTF_8).asScala
      .zipWithIndex.map { case (line, i) =>
        val Array(kind, text) = line.split("\t", 2)
        Op(i, kind, subst.foldLeft(text) { case (t, (k, v)) =>
          t.replace("${" + k + "}", v) })
      }.toIndexedSeq

    // The index registry otherwise defaults to a fixed path outside the run.
    graft.operators.IndexZooSql.managedRoot = s"$root/indexzoo"

    // -- set-up, several times; the median is the reported set-up time
    val setup = mutable.ArrayBuffer.empty[(Double, Double, Double)]
    var spark: SparkSession = null
    (1 to a("setups").toInt).foreach { _ =>
      if (spark != null) stop(spark)
      val t0 = now()
      spark = Engine.session(cores = cores, appName = "graft-benchmark")
      val t1 = now()
      Engine.registerAll(spark, data)
      val t2 = now()
      SparkEntry.queries("q01_agg_pricing_summary")(spark, data)
        .write.format("noop").mode("overwrite").save()
      setup += ((t1 - t0, t2 - t1, now() - t2))
    }
    val sc = spark.sparkContext

    val recs = mutable.ArrayBuffer.empty[Rec]
    /** `sink`: where a query's rows go — the `noop` sink when timed, a
      * parquet dir for the correctness check when warming up. */
    def run(op: Op, phase: String, tr: Option[Trace],
        sink: Option[String] = None): Rec = {
      val r = new Rec(op, phase)
      val before = if (tr.isDefined) storeState(workload, root, op) else null
      sc.setLocalProperty(Trace.StmtKey, op.idx.toString)
      val cg0 = org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime
      r.startMs = System.currentTimeMillis()
      val t0 = now()
      var planned: Option[(DataFrame, Boolean)] = None
      try {
        if (workload == "olap_read" && op.kind == "read") {
          val df = SparkEntry.queries(op.text)(spark, data)
          r.callS = now() - t0
          r.callEndMs = System.currentTimeMillis()
          sink match {
            case Some(dir) => df.write.mode("overwrite").parquet(dir)
            case None => df.write.format("noop").mode("overwrite").save()
          }
          // SparkEntry.queries analysed the query; the write planned and ran it
          // under its own QueryExecution, which the listener reports
          planned = Some(df -> false)
        } else if (op.kind == "setup" && TempView.matches(op.text)) {
          // Views go through the DataFrame API, which keeps the analysed
          // plan: a SQL-text temp view is re-analysed at every reference,
          // and the index probes that resolve a column against a second
          // reference of the same view then fail (MISSING_ATTRIBUTES).
          val TempView(name, query) = op.text
          Engine.sql(spark, data, query).createOrReplaceTempView(name)
          r.callS = now() - t0
          r.callEndMs = System.currentTimeMillis()
        } else if (op.kind == "stream") {
          val Array(pipeline, dir) = op.text.split(" ", 2)
          val df = Pipelines(pipeline)(spark, dir)
          r.callS = now() - t0
          r.callEndMs = System.currentTimeMillis()
          r.rows = df.collect().toSeq
        } else {
          val df = Engine.sql(spark, data, op.text)
          r.callS = now() - t0
          r.callEndMs = System.currentTimeMillis()
          // a write's Engine.sql call is the commit; its returned snapshot
          // is not materialised
          if (Rows(op.kind)) {
            r.rows = df.collect().toSeq
            planned = Some(df -> true)
          }
        }
      } catch {
        case e: Throwable =>
          r.ok = false
          r.err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
          System.err.println(s"[benchmark] op ${op.idx} failed: ${r.err}")
      }
      r.wallS = now() - t0
      r.endMs = System.currentTimeMillis()
      System.err.println(f"[benchmark] $phase op ${op.idx} ${op.kind} ${r.wallS}%.3f s")
      r.codegenNs =
        org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime - cg0
      sc.setLocalProperty(Trace.StmtKey, null)
      if (tr.isDefined) r.tracked = planned.map { case (df, executed) =>
        Trace.Query.of(df.queryExecution, executed) }
      if (before != null) {
        val after = storeState(workload, root, op)
        r.newFiles = math.max(0L, after._1 - before._1)
        r.newBytes = math.max(0L, after._2 - before._2)
        r.deltaDirs = after._3
      }
      recs += r
      r
    }

    // -- prepare, untimed: the stream's leading DDL, then one warm pass (the
    // first run of a statement kind pays class loading and codegen, up to
    // three times its later cost)
    val tPrep = now()
    var pos = 0
    if (workload == "olap_read") {
      // the warm pass writes each query's result for the oracle check
      ops.map(_.text).distinct.foreach(q =>
        run(Op(-1, "read", q), "prepare", None, Some(s"$root/results/$q")))
    } else {
      while (pos < ops.size && Set("setup", "maint")(ops(pos).kind)) {
        run(ops(pos), "prepare", None); pos += 1
      }
    }

    /** Run `n` whole passes of `len` statements from `start`: every seed
      * and every host times the same composition, and counters repeat for
      * a seed. Returns the
      * position after them and each pass's time, the sum of its
      * statements' wall times (store listings of the traced run fall
      * outside those). */
    def passesFrom(start: Int, n: Int, phase: String, tr: Option[Trace],
        len: Int = pass): (Int, Seq[Double]) = {
      var at = start
      val times = (1 to n).map { _ =>
        var done = 0
        var s = 0.0
        while (done < len && at < ops.size) {
          val r = run(ops(at), phase, tr)
          if (r.op.kind != "setup") done += 1
          s += r.wallS
          at += 1
        }
        s
      }
      (at, times)
    }
    if (workload != "olap_read") pos = passesFrom(pos, 1, "prepare", None,
      a("warm").toInt)._1
    val prepareS = now() - tPrep
    val heap = ManagementFactory.getMemoryMXBean
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    System.gc()
    pools.foreach(_.resetPeakUsage())
    val gc0 = gcMs
    val windowStart = pos
    val (afterWindow, passTimes) = passesFrom(pos, passes, "timed", None)
    pos = afterWindow
    val gcS = (gcMs - gc0) / 1e3
    val peakMb = pools.filter(_.getType.name == "HEAP")
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    // full GCs with pauses between them, so Spark's cleaner can drop the
    // blocks of broadcasts and shuffles whose references the first freed
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val retainedMb = heap.getHeapMemoryUsage.getUsed / 1048576.0

    // The traced window: olap_read re-runs the passes of the untraced
    // window, and runs them untraced once more after it, so that the traced
    // passes sit between two untraced runs of the same statements (a run
    // still speeds up pass by pass). txn_dml cannot repeat its statements
    // and runs the next passes.
    val trace = if (traced) Some(new Trace) else None
    var tracedTimes, againTimes = Seq.empty[Double]
    trace.foreach { tr =>
      sc.addSparkListener(tr)
      spark.listenerManager.register(tr)
      spark.streams.addListener(tr.streams)
      val from = if (workload == "olap_read") windowStart else pos
      val (after, times) = passesFrom(from, tracedPasses, "traced", Some(tr))
      pos = math.max(pos, after)
      tracedTimes = times
      // listener events arrive asynchronously; let the buses drain
      val deadline = now() + 10
      while (tr.synchronized(tr.jobs.exists(_.end < 0)) && now() < deadline)
        Thread.sleep(50)
      Thread.sleep(500)
      sc.removeSparkListener(tr)
      spark.listenerManager.unregister(tr)
      spark.streams.removeListener(tr.streams)
      if (workload == "olap_read")
        againTimes = passesFrom(windowStart, passes, "again", None)._2
    }

    // before the checks, which drop an index
    val traceJson = trace.map(tr => Layers(tr,
      recs.toSeq.filter(_.phase == "traced"), workload, root, cores).json)

    // -- outputs the correctness checks read (outside the timed windows)
    val tChecks = now()
    val checks = Checks(spark, data, workload, root, recs.toSeq).run()
    val checksS = now() - tChecks

    val diskBytes = if (workload == "olap_read") 0L
      else du(new File(root, "store/acct"))

    val out = new StringBuilder
    out ++= "{"
    out ++= s""""setup":${Json.arr(setup.map(s => Json.arr(Seq(
      Json.num(s._1), Json.num(s._2), Json.num(s._3)))).toSeq)},"""
    out ++= s""""prepare_s":${Json.num(prepareS)},"checks_s":${Json.num(checksS)},"""
    out ++= s""""window":{"pass":$pass,"pass_s":${Json.arr(passTimes.map(Json.num))},"traced_pass_s":${Json.arr(tracedTimes.map(Json.num))},"again_pass_s":${Json.arr(againTimes.map(Json.num))}},"""
    out ++= s""""jvm":{"gc_s":${Json.num(gcS)},"peak_heap_mb":${Json.num(peakMb)},"retained_heap_mb":${Json.num(retainedMb)},"xmx_mb":${Runtime.getRuntime.maxMemory / 1048576},"""
    out ++= s""""java":${Json.str(sys.props("java.version"))},"spark":${Json.str(spark.version)}},"""
    out ++= s""""store_bytes":$diskBytes,"""
    out ++= s""""checks":$checks,"""
    out ++= s""""stmts":${Json.arr(recs.toSeq.map(recJson(_, workload != "olap_read")))}"""
    traceJson.foreach(t => out ++= s""","trace":$t""")
    out ++= "}"
    Files.write(Paths.get(a("out")), out.toString.getBytes(UTF_8))
    stop(spark)
  }

  /** Statement kinds whose results are collected and checked. */
  private val Rows = Set("read", "probe")

  /** The StreamOps pipelines a `stream` statement can name; each replays
    * `<dir>/events.parquet` and keeps its scratch under `<dir>`. */
  private val Pipelines: Map[String, (SparkSession, String) => DataFrame] =
    Map("dedup_within_watermark" -> ((spark, dir) =>
      StreamOps.dedupWithinWatermarkCounts(spark, dir, s"$dir/scratch")))

  private def stop(spark: SparkSession): Unit = {
    spark.streams.active.foreach(q => scala.util.Try(q.stop()))
    scala.util.Try(
      org.apache.spark.sql.execution.streaming.state.StateStore.stop())
    spark.stop()
  }

  private def recJson(r: Rec, withRows: Boolean): String = {
    val rows = if (withRows && (Rows(r.op.kind) || r.op.kind == "stream") && r.ok)
      Json.arr(r.rows.map(row => Json.arr(row.toSeq.map(Json.any))))
    else "null"
    s"""{"i":${r.op.idx},"kind":${Json.str(r.op.kind)},"phase":${Json.str(r.phase)},""" +
      s""""text":${Json.str(r.op.text.take(80))},"wall_s":${Json.num(r.wallS)},""" +
      s""""call_s":${Json.num(r.callS)},"ok":${r.ok},"err":${Json.str(r.err)},"rows":$rows}"""
  }

  /** (files, bytes, delta dirs) under the store a statement touches —
    * listed only in the traced window, outside the statement's timing. */
  def storeState(workload: String, root: String, op: Op): (Long, Long, Long) = {
    val dir = if (workload != "txn_dml") None
      else Some(new File(s"$root/store/" + "\\b(\\w+_idx)\\b".r
        .findFirstMatchIn(op.text).map(_.group(1)).getOrElse("acct")))
    dir.filter(_.exists()).map { d =>
      val files = walk(d).filter(_.isFile)
      val deltas = Option(d.listFiles()).map(_.count(_.getName.startsWith("delta_")))
        .getOrElse(0)
      (files.size.toLong, files.map(_.length).sum, deltas.toLong)
    }.getOrElse((0L, 0L, 0L))
  }

  def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) :+ f
    else Seq(f)

  def du(f: File): Long = walk(f).filter(_.isFile).map(_.length).sum
}

/** Minimal JSON rendering for the run record. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else java.math.BigDecimal.valueOf(d).toPlainString
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def any(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case s: Short => s.toString
    case f: Float => num(f.toDouble)
    case d: Double => num(d)
    case d: java.math.BigDecimal => d.toPlainString
    case s: scala.collection.Seq[_] => arr(s.toSeq.map(any))
    case other => str(other.toString)
  }
}
