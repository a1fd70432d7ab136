package graft

import java.io.File
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.util.{Failure, Success, Try}

import graft.operators.{DataSkipping, MetaCache, Stores, TxnMergeOnRead}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Concurrency contract of the optimistic transaction log
  * ([[graft.operators.TxnMergeOnRead]]) — the reference's committed-txn-list
  * semantics (`metastore/.../txn/TxnHandler.java:104`,
  * `ql/.../io/AcidUtils.java:226`) re-expressed as a lakehouse-style log:
  *
  *  - N racing INSERT writers: every delta survives (the single-writer
  *    implementation loses deltas to txn-id collisions — this is the defect
  *    the log closes), each gets a distinct log ordinal;
  *  - racing overlapping UPDATEs serialize first-committer-wins: the final
  *    value equals SOME serial order of the increments (here: all applied,
  *    since an increment recomputed on the winner's snapshot still matches);
  *  - a reader never observes a torn UPDATE (delete half visible, insert
  *    half not): row count is invariant under concurrent update load;
  *  - snapshot pinning: a version handle re-read after later commits still
  *    returns the old state (repeatable read);
  *  - compaction concurrent with a mutation loses nothing: the mutation's
  *    delta stays live on top of the new base (`folds` claims only the
  *    prefix the fold actually read);
  *  - abandoned stages (conflict losers) are unreferenced by the log and
  *    invisible to readers;
  *  - layout: a mutation appends a delta of O(changed rows) and never
  *    rewrites the base, a minor fold is one net delta over the same base,
  *    a major fold drops the snapshot's anti-join, and only vacuum deletes
  *    folded dirs (`ql/.../io/AcidUtils.java:226-228`,
  *    `ql/.../txn/compactor/Worker.java:53`).
  */
class TxnMorSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 8, appName = "graft-txnmor")

  override def afterAll(): Unit = spark.stop()

  private val base = s"${Engine.scratchRoot}/txnmorspec"

  private def mk(root: String, n: Int = 200): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
    TxnMergeOnRead.create(spark, root,
      spark.range(0, n).select(col("id").as("k"), (col("id") * 10).as("v")))
  }

  /** Run the thunks concurrently (all released together), propagate the
    * first failure. */
  private def racing(thunks: Seq[() => Unit]): Unit = {
    val pool = Executors.newFixedThreadPool(thunks.size)
    val gate = new CountDownLatch(1)
    val results = thunks.map { t =>
      pool.submit(new java.util.concurrent.Callable[Try[Unit]] {
        def call(): Try[Unit] = { gate.await(); Try(t()) }
      })
    }
    gate.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(300, TimeUnit.SECONDS), "writers hung")
    results.map(_.get()).collect { case Failure(e) => throw e }
    ()
  }

  test("racing inserts: no delta lost, distinct ordinals") {
    val root = s"$base/ins"
    mk(root)
    val writers = (0 until 8).map { w => () =>
      TxnMergeOnRead.insert(spark, root,
        spark.range(0, 10).select((col("id") + 1000 + w * 100).as("k"),
          lit(-1L).as("v")))
    }
    racing(writers)
    val got = TxnMergeOnRead.read(spark, root)
    assert(got.count() === 200 + 8 * 10)
    // every writer's batch is fully present
    assert(got.filter(col("k") >= 1000).count() === 80)
    assert(TxnMergeOnRead.currentVersion(spark, root) === 1 + 8)
  }

  test("racing overlapping updates serialize (no lost update)") {
    val root = s"$base/upd"
    mk(root)
    // 4 writers each add 1 to v of the SAME row set; a lost update would
    // leave some row with fewer than 4 increments, a torn one a duplicate
    val writers = (0 until 4).map { _ => () => {
      TxnMergeOnRead.update(spark, root, Seq("v" -> "v + 1"), "k < 50"); ()
    } }
    racing(writers)
    val got = TxnMergeOnRead.read(spark, root)
    assert(got.count() === 200)
    assert(got.filter(col("k") < 50).filter(col("v") =!= col("k") * 10 + 4)
      .count() === 0, "every touched row has exactly 4 increments")
    assert(got.filter(col("k") >= 50).filter(col("v") =!= col("k") * 10)
      .count() === 0, "untouched rows unchanged")
  }

  test("reader never sees a torn update; pinned version is repeatable") {
    val root = s"$base/torn"
    mk(root)
    val pinned = TxnMergeOnRead.currentVersion(spark, root)
    @volatile var stop = false
    @volatile var torn: Option[Long] = None
    val reader = new Thread(() => {
      while (!stop && torn.isEmpty) {
        val c = TxnMergeOnRead.read(spark, root).count()
        if (c != 200) torn = Some(c)
      }
    })
    reader.start()
    try (0 until 5).foreach { i =>
      TxnMergeOnRead.update(spark, root, Seq("v" -> s"v + 1"), s"k % 5 = $i")
    } finally { stop = true; reader.join(120000) }
    assert(torn.isEmpty, s"reader saw a torn snapshot: count $torn")
    // repeatable read at the pinned pre-update version
    val old = TxnMergeOnRead.readAt(spark, root, pinned)
    assert(old.filter(col("v") =!= col("k") * 10).count() === 0)
    // and the head now has every update applied
    assert(TxnMergeOnRead.read(spark, root)
      .filter(col("v") =!= col("k") * 10 + 1).count() === 0)
  }

  test("compaction concurrent with a mutation loses neither") {
    val root = s"$base/cmp"
    mk(root)
    TxnMergeOnRead.update(spark, root, Seq("v" -> "v + 1"), "k < 10")
    racing(Seq(
      () => TxnMergeOnRead.compact(spark, root),
      () => TxnMergeOnRead.insert(spark, root,
        spark.range(0, 5).select((col("id") + 5000).as("k"), lit(0L).as("v")))))
    val got = TxnMergeOnRead.read(spark, root)
    assert(got.count() === 205)
    assert(got.filter(col("k") < 10).filter(col("v") =!= col("k") * 10 + 1)
      .count() === 0, "pre-compaction update survives the fold")
    assert(got.filter(col("k") >= 5000).count() === 5,
      "insert racing the compactor survives")
  }

  test("delete vs update race on the same rows is serial (3VL delete)") {
    val root = s"$base/dvu"
    mk(root)
    racing(Seq(
      () => TxnMergeOnRead.delete(spark, root, "k >= 100 AND k < 150"),
      () => TxnMergeOnRead.update(spark, root, Seq("v" -> "v + 1"),
        "k >= 100 AND k < 150")))
    val got = TxnMergeOnRead.read(spark, root)
    // either serial order deletes the 50 rows: upd;del deletes the new
    // versions, del;upd updates nothing (no rows match)
    assert(got.count() === 150)
    assert(got.filter(col("k") >= 100 && col("k") < 150).count() === 0)
    assert(got.filter(col("v") =!= col("k") * 10).count() === 0)
  }

  test("CDC: born-and-deleted inside the range nets out; updates split") {
    val root = s"$base/cdc"
    mk(root, n = 10)                                                   // v1
    TxnMergeOnRead.insert(spark, root,
      spark.range(100, 103).select(col("id").as("k"),
        (col("id") * 10).as("v")))                                     // v2
    TxnMergeOnRead.update(spark, root, Seq("v" -> "v + 1"), "k = 5")   // v3
    TxnMergeOnRead.delete(spark, root, "k >= 100")                     // v4
    // full range: the v2 rows died at v4 → net zero; k=5 is one
    // delete (old version) + one insert (new version)
    val full = TxnMergeOnRead.changesBetween(spark, root, 1L, 4L)
    assert(full.filter(col("k") >= 100).count() === 0,
      "rows born and deleted inside the range must net out")
    assert(full.filter(col("k") === 5 && col("change") === "delete")
      .select("v").head().getLong(0) === 50)
    assert(full.filter(col("k") === 5 && col("change") === "insert")
      .select("v").head().getLong(0) === 51)
    assert(full.count() === 2)
    // sub-ranges see the birth and the death individually
    assert(TxnMergeOnRead.changesBetween(spark, root, 1L, 2L)
      .agg(count(lit(1)), sum(when(col("change") === "insert", 1).otherwise(0)))
      .head().toSeq === Seq(3L, 3L))
    assert(TxnMergeOnRead.changesBetween(spark, root, 3L, 4L)
      .agg(count(lit(1)), sum(when(col("change") === "delete", 1).otherwise(0)))
      .head().toSeq === Seq(3L, 3L))
    // empty range → empty frame with the table schema + change column
    assert(TxnMergeOnRead.changesBetween(spark, root, 4L, 4L).count() === 0)
  }

  /** Run `gated` on a worker thread with its snapshot pinned BEFORE `first`
    * commits: the [[TxnMergeOnRead.pauseAfterSnapshot]] seam parks gated's
    * DRIVER thread right after it reads the log (thread-matched, so `first`
    * sails through; first attempt only, so a recompute proceeds), `first`
    * runs to completion, the latch opens, and the pair of attempt counts
    * comes back. Deterministic on every scheduling. */
  private def interleave(first: () => Int, gated: () => Int): (Int, Int) = {
    val latch = new CountDownLatch(1)
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    @volatile var gatedThread: Thread = null
    TxnMergeOnRead.pauseAfterSnapshot = () => {
      if ((Thread.currentThread eq gatedThread) &&
          armed.compareAndSet(true, false))
        assert(latch.await(120, TimeUnit.SECONDS), "interleave latch never opened")
    }
    try {
      val pool = Executors.newSingleThreadExecutor()
      val fut = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = { gatedThread = Thread.currentThread; gated() }
      })
      pool.shutdown()
      Thread.sleep(500) // gated() pins its snapshot and parks at the seam
      val a = first()
      latch.countDown()
      val b = fut.get(120, TimeUnit.SECONDS)
      (a, b)
    } finally TxnMergeOnRead.pauseAfterSnapshot = () => ()
  }

  test("disjoint concurrent updates commit WITHOUT recompute (row-grain conflict)") {
    val root = s"$base/disj"
    mk(root)
    // B's snapshot is certainly pre-A (gate), yet its footprint (k in
    // [100,150)) is row-disjoint from A's (k < 50): the conflict check must
    // clear A's committed entry and commit B's first computation as-is.
    val (a, b) = interleave(
      first = () => TxnMergeOnRead.update(spark, root,
        Seq("v" -> "v + 1"), "k < 50"),
      gated = () => TxnMergeOnRead.update(spark, root,
        Seq("v" -> "v + 7"), "k >= 100 AND k < 150"))
    assert(a === 1, "uncontended writer commits on the first computation")
    assert(b === 1, "row-disjoint writer must NOT recompute")
    val got = TxnMergeOnRead.read(spark, root)
    assert(got.filter(col("k") < 50).filter(col("v") =!= col("k") * 10 + 1)
      .count() === 0, "first update applied")
    assert(got.filter(col("k") >= 100 && col("k") < 150)
      .filter(col("v") =!= col("k") * 10 + 7).count() === 0,
      "disjoint update applied")
    assert(got.count() === 200)
  }

  test("overlapping concurrent update recomputes exactly once") {
    val root = s"$base/ovl"
    mk(root)
    // B (k < 30) overlaps A (k < 50): B's pre-A snapshot must be detected
    // as a row-overlap conflict and recomputed on A's committed state.
    val (a, b) = interleave(
      first = () => TxnMergeOnRead.update(spark, root,
        Seq("v" -> "v + 1"), "k < 50"),
      gated = () => TxnMergeOnRead.update(spark, root,
        Seq("v" -> "v + 100"), "k < 30"))
    assert(a === 1)
    assert(b === 2, "overlapping writer recomputes exactly once")
    val got = TxnMergeOnRead.read(spark, root)
    assert(got.filter(col("k") < 30).filter(col("v") =!= col("k") * 10 + 101)
      .count() === 0, "both increments applied to the overlap")
    assert(got.filter(col("k") >= 30 && col("k") < 50)
      .filter(col("v") =!= col("k") * 10 + 1).count() === 0)
  }

  test("MERGE: clause precedence, cardinality check, insert-only commits conflict-free") {
    val root = s"$base/mrg"
    mk(root, 100) // k 0..99, v = k*10
    val src = spark.range(50, 150).select(col("id").as("sk"), lit(7L).as("nv"))
    val att = TxnMergeOnRead.merge(spark, root, src,
      onCond = "t.k = s.sk",
      matchedSet = Seq("v" -> "s.nv"),
      matchedDelete = Some("s.sk % 10 = 0"), // 50,60,70,80,90 deleted
      notMatchedInsert = Some(Seq("k" -> "s.sk", "v" -> "-1")))
    assert(att === 1)
    val got = TxnMergeOnRead.read(spark, root)
    assert(got.count() === 100 - 5 + 50)
    assert(got.filter(col("k") >= 50 && col("k") < 100 && col("k") % 10 === 0)
      .count() === 0, "matched-delete wins over matched-update")
    assert(got.filter(col("k") >= 50 && col("k") < 100)
      .filter(col("v") =!= 7L).count() === 0, "matched rows updated")
    assert(got.filter(col("k") >= 100).filter(col("v") =!= -1L).count() === 0,
      "not-matched rows inserted")
    assert(got.filter(col("k") < 50).filter(col("v") =!= col("k") * 10)
      .count() === 0, "unmatched target rows untouched (no spurious events)")
    // a target row matching two source rows is a cardinality violation
    val dupSrc = spark.range(0, 2).select(lit(10L).as("sk"), col("id").as("nv"))
    val e = intercept[Exception](TxnMergeOnRead.merge(spark, root, dupSrc,
      "t.k = s.sk", matchedSet = Seq("v" -> "s.nv")))
    assert(e.getMessage.contains("cardinality"))
    // insert-only merge: empty footprint, commits without conflict checks
    val ins = spark.range(9000, 9010).select(col("id").as("sk"), lit(0L).as("nv"))
    assert(TxnMergeOnRead.merge(spark, root, ins, "t.k = s.sk",
      notMatchedInsert = Some(Seq("k" -> "s.sk", "v" -> "s.nv"))) === 1)
    assert(TxnMergeOnRead.read(spark, root).filter(col("k") >= 9000)
      .count() === 10)
  }

  test("MERGE racing a row-disjoint update commits without recompute") {
    val root = s"$base/mrg_race"
    mk(root)
    val src = spark.range(150, 180).select(col("id").as("sk"), lit(5L).as("nv"))
    val (a, b) = interleave(
      first = () => TxnMergeOnRead.update(spark, root,
        Seq("v" -> "v + 1"), "k < 50"),
      gated = () => TxnMergeOnRead.merge(spark, root, src, "t.k = s.sk",
        matchedSet = Seq("v" -> "s.nv")))
    assert(a === 1 && b === 1,
      "merge footprint disjoint from the update: neither recomputes")
    val got = TxnMergeOnRead.read(spark, root)
    assert(got.filter(col("k") >= 150 && col("k") < 180)
      .filter(col("v") =!= 5L).count() === 0)
    assert(got.filter(col("k") < 50)
      .filter(col("v") =!= col("k") * 10 + 1).count() === 0)
  }

  test("minor compaction folds deltas without changing content; history survives") {
    val root = s"$base/minor"
    mk(root, n = 100)                                                   // v1
    TxnMergeOnRead.update(spark, root, Seq("v" -> "v + 1"), "k < 10")   // v2
    TxnMergeOnRead.insert(spark, root,
      spark.range(500, 510).select(col("id").as("k"), lit(0L).as("v"))) // v3
    TxnMergeOnRead.delete(spark, root, "k >= 505")                      // v4
    val before = TxnMergeOnRead.read(spark, root).orderBy("k").collect()
    assert(TxnMergeOnRead.compactMinor(spark, root), "fold committed")  // v5
    assert(TxnMergeOnRead.currentVersion(spark, root) === 5)
    // content identical after the fold
    assert(TxnMergeOnRead.read(spark, root).orderBy("k").collect()
      .toSeq === before.toSeq)
    // born-at-v3, killed-at-v4 rows netted out of the folded delta: the
    // minor version itself carries no changes
    assert(TxnMergeOnRead.changesBetween(spark, root, 4L, 5L).count() === 0)
    // CDC and time travel BELOW the fold still work (no GC happened)
    assert(TxnMergeOnRead.readAt(spark, root, 2L).count() === 100)
    assert(TxnMergeOnRead.changesBetween(spark, root, 2L, 4L)
      .filter(col("change") === "insert").count() === 5)
    // new deltas stack on the folded one
    TxnMergeOnRead.update(spark, root, Seq("v" -> "v + 2"), "k = 500")  // v6
    val after = TxnMergeOnRead.read(spark, root)
    assert(after.filter(col("k") === 500).select("v").head().getLong(0) === 2)
    assert(after.count() === 105)
  }

  test("minor compaction folds deltas into one, base untouched") {
    // the fold is ONE delta over an untouched base: a delete of a
    // delta-born row annihilates with its insert event, a delete of a
    // base row survives as a delete event
    val root2 = s"$base/minor_net"
    mkKvp(root2)
    TxnMergeOnRead.update(spark, root2, Seq("v" -> "concat(v, '!')"), "k % 10 = 0")
    TxnMergeOnRead.insert(spark, root2,
      spark.range(1000, 1010).select(col("id").as("k"),
        lit("late").as("v"), lit("z").as("p")))
    TxnMergeOnRead.delete(spark, root2, "k = 1005 OR k = 7")
    val preRows = TxnMergeOnRead.read(spark, root2).orderBy("k").collect()
    val (b2, _) = TxnMergeOnRead.liveBase(spark, root2)
    val baseBefore = parquetFiles(s"$root2/$b2")
    assert(TxnMergeOnRead.compactMinor(spark, root2))
    assert(TxnMergeOnRead.liveBase(spark, root2)._1 === b2)
    assert(parquetFiles(s"$root2/$b2") == baseBefore,
      "minor compaction must not touch the base")
    val live = TxnMergeOnRead.liveBase(spark, root2)._2
    assert(live.size === 1, s"expected one folded delta, got $live")
    val (action, folded, _) = logEntries(root2).last
    assert(action === "minor" && live.head === s"$folded/insert")
    assert(TxnMergeOnRead.read(spark, root2).orderBy("k").collect()
      .sameElements(preRows), "minor compaction must not change the snapshot")
    val ins = spark.read.parquet(s"$root2/$folded/insert")
    val del = spark.read.parquet(s"$root2/$folded/delete")
    assert(ins.filter(col("k") === 1005).count() == 0)
    assert(ins.count() == 30 + 9) // 30 updated versions + 9 surviving late rows
    assert(del.count() == 30 + 1) // 30 update-deletes (base rids) + k=7
  }

  test("racing compactions never double-apply (loser aborts)") {
    val root = s"$base/race_fold"
    mk(root, n = 100)
    TxnMergeOnRead.update(spark, root, Seq("v" -> "v + 1"), "k < 20")
    TxnMergeOnRead.insert(spark, root,
      spark.range(900, 910).select(col("id").as("k"), lit(3L).as("v")))
    racing(Seq(
      () => { TxnMergeOnRead.compact(spark, root); () },
      () => { TxnMergeOnRead.compactMinor(spark, root); () }))
    val got = TxnMergeOnRead.read(spark, root)
    assert(got.count() === 110, "no duplicated fold content")
    assert(got.filter(col("k") < 20).filter(col("v") =!= col("k") * 10 + 1)
      .count() === 0)
  }

  test("vacuum retains the window, retires superseded dirs, spares in-flight stages") {
    val root = s"$base/vac"
    mk(root, n = 50)                                                    // v1
    TxnMergeOnRead.update(spark, root, Seq("v" -> "v + 1"), "k < 5")    // v2
    TxnMergeOnRead.insert(spark, root,
      spark.range(600, 605).select(col("id").as("k"), lit(1L).as("v"))) // v3
    assert(TxnMergeOnRead.compact(spark, root))                         // v4
    // a metadata-only entry carries NO dir — vacuum must never turn that
    // empty string into a delete of the table root
    TxnMergeOnRead.addColumns(spark, root, Seq("z" -> "BIGINT"))        // v5
    // an unreferenced dir = an in-flight writer's stage; vacuum must not touch it
    val inflight = new File(s"$root/delta_inflight_test/delete")
    inflight.mkdirs()
    // pre-vacuum: pinned reads below the compaction all work
    assert(TxnMergeOnRead.readAt(spark, root, 2L).count() === 50)
    TxnMergeOnRead.vacuum(spark, root, retainVersions = 1)
    // head still reads (and through a fresh log replay)
    assert(TxnMergeOnRead.read(spark, root).count() === 55)
    assert(TxnMergeOnRead.readAt(spark, root, 4L).count() === 55)
    // below the window the dirs are gone → pinned read fails
    intercept[Exception] {
      TxnMergeOnRead.readAt(spark, root, 2L).count()
    }
    assert(inflight.exists(), "vacuum spared the unreferenced in-flight stage")
  }

  test("insertBatch is exactly-once; a rerun stream replays every key and adds nothing") {
    val root = s"$base/ing"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
    TxnMergeOnRead.create(spark, root,
      spark.range(0, 5).select(col("id").as("k"), (col("id") * 2).as("v")))
    assert(TxnMergeOnRead.insertBatch(spark, root, "b0",
      spark.range(10, 20).select(col("id").as("k"), (col("id") * 2).as("v"))))
    assert(!TxnMergeOnRead.insertBatch(spark, root, "b0",
      spark.range(10, 20).select(col("id").as("k"), (col("id") * 2).as("v"))),
      "replay of a committed batch key must no-op")
    assert(TxnMergeOnRead.read(spark, root).count() === 15)

    // a REAL micro-batch stream into the log, run twice from scratch
    // checkpoints: batch ids restart at 0, so the second run re-delivers
    // every (id, content) pair — the exactly-once contract must absorb it
    val feed = s"$base/ing_feed"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(feed))
    spark.range(100, 120).select(col("id").as("k"), (col("id") * 2).as("v"))
      .coalesce(1).write.parquet(feed)
    spark.range(200, 210).select(col("id").as("k"), (col("id") * 2).as("v"))
      .coalesce(1).write.mode("append").parquet(feed)
    // pin file→batch assignment across runs (mtime order, like q175's replay)
    val parts = new File(feed).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.length)
    parts.zipWithIndex.foreach { case (p, i) =>
      assert(p.setLastModified(1700000000000L + i * 60000L)) }
    def runStream(): Unit = {
      val sdf = spark.readStream.schema("k LONG, v LONG")
        .option("maxFilesPerTrigger", "1").parquet(feed)
      val q = sdf.writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          TxnMergeOnRead.insertBatch(spark, root, s"stream:$id", df); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runStream()
    assert(TxnMergeOnRead.read(spark, root).count() === 45)
    runStream() // full redelivery
    assert(TxnMergeOnRead.read(spark, root).count() === 45,
      "rerun stream must not duplicate a single row")
  }

  test("same-key insertBatch double-commit is neutralized by reader-side first-wins") {
    val root = s"$base/ing_race"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
    TxnMergeOnRead.create(spark, root,
      spark.range(0, 5).select(col("id").as("k"), lit(0L).as("v")))
    // writer A passes the committed-check, parks in the check-to-commit
    // window; writer B commits the SAME key; A resumes and also commits —
    // the race the log cannot prevent (check-then-act spans two writers)
    val latch = new CountDownLatch(1)
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    TxnMergeOnRead.pauseBeforeBatchCommit = () =>
      if (armed.compareAndSet(true, false))
        assert(latch.await(120, TimeUnit.SECONDS), "race latch never opened")
    try {
      val pool = Executors.newSingleThreadExecutor()
      val futA = pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = TxnMergeOnRead.insertBatch(spark, root, "dupkey",
          spark.range(100, 110).select(col("id").as("k"), lit(1L).as("v")))
      })
      pool.shutdown()
      Thread.sleep(500) // A reaches the seam and parks
      assert(TxnMergeOnRead.insertBatch(spark, root, "dupkey",
        spark.range(100, 110).select(col("id").as("k"), lit(1L).as("v"))))
      latch.countDown()
      futA.get(120, TimeUnit.SECONDS)
      ()
    } finally TxnMergeOnRead.pauseBeforeBatchCommit = () => ()
    // two log entries may exist; exactly ONE copy of the batch is visible
    assert(TxnMergeOnRead.read(spark, root).count() === 15,
      "first-wins dedup must hide the duplicate entry")
    assert(TxnMergeOnRead.changesBetween(spark, root, 1L,
      TxnMergeOnRead.currentVersion(spark, root))
      .filter(col("k") >= 100).count() === 10,
      "CDC counts the batch at its canonical version only")
  }

  test("ADD COLUMNS is metadata-only: old files read NULL, time travel keeps the old schema") {
    val root = s"$base/schema"
    mk(root, 50) // v1: (k, v)
    val v1 = TxnMergeOnRead.currentVersion(spark, root)
    TxnMergeOnRead.addColumns(spark, root,
      Seq("tag" -> "STRING", "w" -> "BIGINT")) // v2, no data touched
    val snap = TxnMergeOnRead.read(spark, root)
    assert(snap.columns.toSeq === Seq("k", "v", "tag", "w"))
    assert(snap.filter(col("tag").isNotNull || col("w").isNotNull)
      .count() === 0, "pre-evolution rows read NULL for the new columns")
    // new DML sees and writes the evolved schema
    TxnMergeOnRead.update(spark, root,
      Seq("tag" -> "'hot'", "w" -> "v * 2"), "k < 10") // v3
    TxnMergeOnRead.insert(spark, root,
      spark.range(100, 105).select(col("id").as("k"), lit(0L).as("v"),
        lit("new").as("tag"), col("id").as("w"))) // v4
    val got = TxnMergeOnRead.read(spark, root)
    assert(got.count() === 55)
    assert(got.filter(col("k") < 10)
      .filter(col("tag") =!= "hot" || col("w") =!= col("v") * 2)
      .count() === 0)
    assert(got.filter(col("k") >= 100).filter(col("tag") =!= "new")
      .count() === 0)
    // time travel below the schema entry shows the OLD schema
    assert(TxnMergeOnRead.readAt(spark, root, v1).columns.toSeq === Seq("k", "v"))
    // duplicate name rejected case-insensitively
    intercept[Exception](
      TxnMergeOnRead.addColumns(spark, root, Seq("TAG" -> "STRING")))
    // a fold across the schema boundary unions tolerant and keeps content
    val before = got.orderBy("k").collect().toSeq
    assert(TxnMergeOnRead.compactMinor(spark, root))
    assert(TxnMergeOnRead.read(spark, root).orderBy("k").collect()
      .toSeq === before)
  }

  test("RESTORE is metadata-only: undone commits vanish from the head, stay readable") {
    val root = s"$base/restore"
    mk(root, 50)                                                        // v1
    TxnMergeOnRead.update(spark, root, Seq("v" -> "v + 1"), "k < 10")   // v2
    TxnMergeOnRead.insert(spark, root,
      spark.range(500, 510).select(col("id").as("k"), lit(0L).as("v"))) // v3
    TxnMergeOnRead.delete(spark, root, "k >= 40")                       // v4
    TxnMergeOnRead.restore(spark, root, 2L)                             // v5
    val got = TxnMergeOnRead.read(spark, root)
    assert(got.count() === 50, "insert and delete above the target undone")
    assert(got.filter(col("k") < 10).filter(col("v") =!= col("k") * 10 + 1)
      .count() === 0, "the update below the target survives")
    // undone versions remain time-travel-readable (no GC happened)
    assert(TxnMergeOnRead.readAt(spark, root, 4L).count() === 50 + 10 - 20)
    // post-restore DML stacks on the restored state
    TxnMergeOnRead.update(spark, root, Seq("v" -> "v + 100"), "k >= 45") // v6
    assert(TxnMergeOnRead.read(spark, root)
      .filter(col("k") >= 45).filter(col("v") =!= col("k") * 10 + 100)
      .count() === 0, "post-restore update sees the resurrected rows")
    // schema rolls back with the data
    TxnMergeOnRead.addColumns(spark, root, Seq("z" -> "BIGINT"))        // v7
    assert(TxnMergeOnRead.read(spark, root).columns.contains("z"))
    TxnMergeOnRead.restore(spark, root, 6L)                             // v8
    assert(!TxnMergeOnRead.read(spark, root).columns.contains("z"),
      "a column added after the restore target vanishes from the head")
  }

  test("a mutation racing a RESTORE recomputes on the restored state") {
    val root = s"$base/restore_race"
    mk(root)
    TxnMergeOnRead.insert(spark, root,
      spark.range(300, 310).select(col("id").as("k"), lit(1L).as("v"))) // v2
    val (a, b) = interleave(
      first = () => { TxnMergeOnRead.restore(spark, root, 1L); 1 },     // v3
      gated = () => TxnMergeOnRead.update(spark, root,
        Seq("v" -> "v + 7"), "k >= 300"))
    assert(a === 1)
    assert(b === 2, "update pinned pre-restore must recompute after it")
    // the recompute ran on the restored state: no k>=300 rows exist, so
    // the update no-opped and the table is exactly the v1 state
    val got = TxnMergeOnRead.read(spark, root)
    assert(got.count() === 200)
    assert(got.filter(col("k") >= 300).count() === 0)
  }

  test("empty-match mutation no-ops without consuming an ordinal") {
    val root = s"$base/noop"
    mk(root)
    val v0 = TxnMergeOnRead.currentVersion(spark, root)
    TxnMergeOnRead.update(spark, root, Seq("v" -> "v + 1"), "k < 0")
    TxnMergeOnRead.delete(spark, root, "k < 0")
    assert(TxnMergeOnRead.currentVersion(spark, root) === v0)
    assert(TxnMergeOnRead.read(spark, root)
      .filter(col("v") =!= col("k") * 10).count() === 0)
  }

  /** Run a thunk with the auto-checkpoint interval lowered so a short
    * commit history crosses several checkpoint boundaries. */
  private def withCkptInterval[A](n: Long)(body: => A): A = {
    val old = TxnMergeOnRead.checkpointInterval
    TxnMergeOnRead.checkpointInterval = n
    try body finally TxnMergeOnRead.checkpointInterval = old
  }

  test("checkpoint + tail replay is equivalent to full replay everywhere") {
    val root = s"$base/ckpt"
    withCkptInterval(4) {
      mk(root, 50)                                                        // v1
      TxnMergeOnRead.update(spark, root, Seq("v" -> "v + 1"), "k < 10")   // v2
      assert(TxnMergeOnRead.insertBatch(spark, root, "early",
        spark.range(500, 505).select(col("id").as("k"), lit(1L).as("v"))))// v3
      TxnMergeOnRead.delete(spark, root, "k >= 45 AND k < 50")            // v4 → ckpt
      TxnMergeOnRead.addColumns(spark, root, Seq("z" -> "BIGINT"))        // v5
      TxnMergeOnRead.insert(spark, root,
        spark.range(600, 610).select(col("id").as("k"), lit(2L).as("v"),
          col("id").as("z")))                                             // v6
      TxnMergeOnRead.update(spark, root, Seq("z" -> "v * 3"), "k < 5")    // v7
      assert(TxnMergeOnRead.compactMinor(spark, root))                    // v8 → ckpt
      TxnMergeOnRead.update(spark, root, Seq("v" -> "v + 100"), "k = 20") // v9
      // a checkpoint file exists at a multiple of the interval
      val logDir = new File(s"$root/_txnlog")
      assert(logDir.listFiles().exists(_.getName.endsWith(".ckpt")),
        "auto-checkpoint written at the interval")
      // head state (fast path: latest ckpt + tail)
      val head = TxnMergeOnRead.read(spark, root)
      assert(head.count() === 50 - 5 + 5 + 10)
      assert(head.filter(col("k") === 20).select("v").head().getLong(0) === 300)
      assert(head.filter(col("k") < 5)
        .filter(col("z") =!= col("v") * 3).count() === 0)
      // time travel BELOW the checkpoint floor (full replay over old entries)
      assert(TxnMergeOnRead.readAt(spark, root, 2L).count() === 50)
      assert(TxnMergeOnRead.readAt(spark, root, 2L).columns.toSeq === Seq("k", "v"))
      // AT a checkpoint version and just above it
      assert(TxnMergeOnRead.readAt(spark, root, 4L).count() === 50)
      assert(TxnMergeOnRead.readAt(spark, root, 5L).columns.contains("z"))
      // CDC crossing the checkpoint boundary (no restore in range)
      val cdc = TxnMergeOnRead.changesBetween(spark, root, 1L, 9L)
      assert(cdc.filter(col("k") === 20 && col("change") === "insert")
        .select("v").head().getLong(0) === 300)
      assert(cdc.filter(col("k") >= 45 && col("k") < 50 &&
        col("change") === "delete").count() === 5)
      // burned batch key BELOW the floor still dedups (keys ride the ckpt)
      assert(!TxnMergeOnRead.insertBatch(spark, root, "early",
        spark.range(0, 3).select(col("id").as("k"), lit(9L).as("v"),
          lit(0L).as("z"))), "pre-checkpoint batch key must stay burned")
      // RESTORE to a version below the floor (slow path) and keep going
      TxnMergeOnRead.restore(spark, root, 2L)                             // v10
      val restored = TxnMergeOnRead.read(spark, root)
      assert(restored.count() === 50)
      assert(!restored.columns.contains("z"), "schema rolled back with the data")
      assert(restored.filter(col("k") < 10)
        .filter(col("v") =!= col("k") * 10 + 1).count() === 0)
      // post-restore commits cross the next boundary cleanly
      TxnMergeOnRead.insert(spark, root,
        spark.range(700, 703).select(col("id").as("k"), lit(5L).as("v"))) // v11
      TxnMergeOnRead.update(spark, root, Seq("v" -> "v - 1"), "k >= 700") // v12 → ckpt
      val after = TxnMergeOnRead.read(spark, root)
      assert(after.count() === 53)
      assert(after.filter(col("k") >= 700).filter(col("v") =!= 4L).count() === 0)
    }
  }

  test("a writer dying mid-commit never burns an ordinal (temp-then-rename)") {
    val root = s"$base/crash"
    mk(root, 20)
    // simulate a writer that died between staging its body and the rename:
    // all it leaves is an invisible temp file in the log dir
    val tmp = new File(s"$root/_txnlog/.tmp_deadwriter")
    java.nio.file.Files.write(tmp.toPath, "half-written garbage".getBytes)
    // co-writers commit at the next ordinal without livelock, readers are
    // unaffected, and the temp never parses as an entry
    TxnMergeOnRead.insert(spark, root,
      spark.range(900, 905).select(col("id").as("k"), lit(0L).as("v")))
    assert(TxnMergeOnRead.currentVersion(spark, root) === 2)
    assert(TxnMergeOnRead.read(spark, root).count() === 25)
    assert(tmp.exists(), "only vacuum sweeps dead temp files")
    TxnMergeOnRead.vacuum(spark, root, retainVersions = 10)
    assert(!tmp.exists(), "vacuum sweeps dead writers' temp files")
    assert(TxnMergeOnRead.read(spark, root).count() === 25)
  }

  test("a commit whose temp file a sweep took loses that publish; the retry commits") {
    // on `file:` the publish is a hard link from the temp file: another
    // process's sweep (vacuum, a cursor commit) can delete the temp first
    val fs = new SweptTempFs
    fs.initialize(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(s"$base/swept/_txnlog")
    fs.delete(dir, true)
    val dst = new org.apache.hadoop.fs.Path(dir, "00000000000000000001.json")
    fs.sweepNext = true
    assert(!Stores.commitOnce(fs, dst, "lost"), "a swept temp loses the publish")
    assert(!fs.exists(dst))
    assert(Stores.commitOnce(fs, dst, "won"), "the retry commits")
    val in = fs.open(dst)
    try assert(scala.io.Source.fromInputStream(in, "UTF-8").mkString === "won")
    finally in.close()
    Stores.sweepTemps(fs, dir)
    assert(fs.listStatus(dir).map(_.getPath.getName).toSeq === Seq(dst.getName))
  }

  test("pre-round-10 4-field log entries still parse (fp defaults empty)") {
    val root = s"$base/legacy"
    mk(root, 10)
    // hand-stage a delta dir and reference it from a legacy-format entry
    spark.range(50, 53).select(col("id").as("k"), lit(7L).as("v"))
      .withColumn("__row_id", struct(lit(99L).as("txn"),
        monotonically_increasing_id().as("seq")))
      .write.parquet(s"$root/delta_legacy/insert")
    val p = new File(f"$root/_txnlog/${2L}%020d.json")
    java.nio.file.Files.write(p.toPath,
      """{"version":2,"action":"insert","dir":"delta_legacy","folds":0}"""
        .getBytes("UTF-8"))
    assert(TxnMergeOnRead.read(spark, root).count() === 13,
      "legacy entry readable with fp defaulted")
    // and a mutation over it conflicts conservatively, not corruptly
    TxnMergeOnRead.update(spark, root, Seq("v" -> "v + 1"), "k >= 50")
    assert(TxnMergeOnRead.read(spark, root)
      .filter(col("k") >= 50).filter(col("v") =!= 8L).count() === 0)
  }

  test("CDC range spanning a RESTORE is rejected loudly") {
    val root = s"$base/cdc_restore"
    mk(root, 20)                                                         // v1
    TxnMergeOnRead.insert(spark, root,
      spark.range(100, 105).select(col("id").as("k"), lit(1L).as("v")))  // v2
    TxnMergeOnRead.restore(spark, root, 1L)                              // v3
    TxnMergeOnRead.update(spark, root, Seq("v" -> "v + 1"), "k < 5")     // v4
    val e = intercept[IllegalStateException](
      TxnMergeOnRead.changesBetween(spark, root, 1L, 4L))
    assert(e.getMessage.contains("RESTORE") && e.getMessage.contains("resync"))
    // ranges strictly below and strictly above the restore still work
    assert(TxnMergeOnRead.changesBetween(spark, root, 1L, 2L).count() === 5)
    assert(TxnMergeOnRead.changesBetween(spark, root, 3L, 4L).count() === 10)
  }

  test("restore below the retention window fails loudly, before committing") {
    val root = s"$base/restore_vac"
    mk(root, 30)                                                         // v1
    TxnMergeOnRead.update(spark, root, Seq("v" -> "v + 1"), "k < 10")    // v2
    assert(TxnMergeOnRead.compact(spark, root))                          // v3
    TxnMergeOnRead.vacuum(spark, root, retainVersions = 1)
    val before = TxnMergeOnRead.currentVersion(spark, root)
    val e = intercept[IllegalArgumentException](
      TxnMergeOnRead.restore(spark, root, 2L))
    assert(e.getMessage.contains("vacuum") ||
      e.getMessage.contains("retention"), s"unexpected: ${e.getMessage}")
    assert(TxnMergeOnRead.currentVersion(spark, root) === before,
      "a rejected restore must not consume an ordinal")
    assert(TxnMergeOnRead.read(spark, root).count() === 30)
  }

  test("vacuum(pruneLog): history below the window errors clearly, above intact") {
    val root = s"$base/prune"
    mk(root, 40)                                                         // v1
    TxnMergeOnRead.update(spark, root, Seq("v" -> "v + 1"), "k < 10")    // v2
    assert(TxnMergeOnRead.insertBatch(spark, root, "oldkey",
      spark.range(200, 205).select(col("id").as("k"), lit(1L).as("v")))) // v3
    TxnMergeOnRead.delete(spark, root, "k >= 35 AND k < 40")             // v4
    TxnMergeOnRead.insert(spark, root,
      spark.range(300, 310).select(col("id").as("k"), lit(2L).as("v")))  // v5
    TxnMergeOnRead.update(spark, root, Seq("v" -> "v * 2"), "k = 300")   // v6
    TxnMergeOnRead.vacuum(spark, root, retainVersions = 2, pruneLog = true)
    // entries ≤ keepFrom (= 5) are gone; a checkpoint at 5 replaces them
    val names = new File(s"$root/_txnlog").listFiles().map(_.getName).sorted
    assert(!names.exists(n => n.endsWith(".json") && n.stripSuffix(".json").toLong <= 5L),
      s"entries at or below the window edge pruned, got ${names.mkString(",")}")
    assert(names.exists(_.endsWith(".ckpt")), "window-edge checkpoint written")
    // head and window intact
    assert(TxnMergeOnRead.read(spark, root).count() === 40 - 5 + 5 + 10)
    assert(TxnMergeOnRead.readAt(spark, root, 5L)
      .filter(col("k") === 300).select("v").head().getLong(0) === 2L)
    assert(TxnMergeOnRead.changesBetween(spark, root, 5L, 6L).count() === 2)
    // below the window: explicit pruned-history error, not a parquet error
    val e = intercept[IllegalStateException](
      TxnMergeOnRead.readAt(spark, root, 3L).count())
    assert(e.getMessage.contains("pruned by vacuum"), s"got: ${e.getMessage}")
    intercept[IllegalStateException](
      TxnMergeOnRead.changesBetween(spark, root, 2L, 6L))
    // burned batch keys survive the prune (they ride the checkpoint)
    assert(!TxnMergeOnRead.insertBatch(spark, root, "oldkey",
      spark.range(0, 2).select(col("id").as("k"), lit(0L).as("v"))),
      "pruned-away batch key must stay burned")
    // the table keeps working: new DML, compaction, another prune
    TxnMergeOnRead.update(spark, root, Seq("v" -> "v + 5"), "k = 301")   // v7
    assert(TxnMergeOnRead.compact(spark, root))                          // v8
    TxnMergeOnRead.vacuum(spark, root, retainVersions = 1, pruneLog = true)
    assert(TxnMergeOnRead.read(spark, root)
      .filter(col("k") === 301).select("v").head().getLong(0) === 7L)
  }

  test("vacuum(pruneLog): a restore chain reaching below the window leaves the window readable") {
    val root = s"$base/prune_restores"
    mk(root, 10)                                                         // v1
    TxnMergeOnRead.insert(spark, root,
      spark.range(100, 105).select(col("id").as("k"), lit(0L).as("v")))  // v2
    // each restore targets head − 1, so every later version is v1's or
    // v2's state through a restore chain down to v1; the auto-checkpoint
    // at 16 folds none of the chain above it
    while (TxnMergeOnRead.currentVersion(spark, root) < 24)
      TxnMergeOnRead.restore(spark, root, TxnMergeOnRead.currentVersion(spark, root) - 1)
    def counts = (9L to 24L).map(v => v -> TxnMergeOnRead.readAt(spark, root, v).count())
    val before = counts
    assert(before.forall { case (v, n) => n === (if (v % 2 == 0) 15 else 10) })
    // the window is versions 9..24; entries at or below 9 are retired
    TxnMergeOnRead.vacuum(spark, root, retainVersions = 16, pruneLog = true)
    assert(TxnMergeOnRead.read(spark, root).count() === 15)
    assert(counts === before)
    val e = intercept[IllegalStateException](
      TxnMergeOnRead.readAt(spark, root, 8L).count())
    assert(e.getMessage.contains("pruned by vacuum"), s"got: ${e.getMessage}")
    TxnMergeOnRead.restore(spark, root, 21L)                            // v25
    assert(TxnMergeOnRead.read(spark, root).count() === 10)
  }

  test("a competing mutate whose dir was vacuumed counts as conflict, not clearance") {
    val root = s"$base/vac_conflict"
    mk(root)
    // B pins its snapshot at v1 and parks; A then updates the SAME rows
    // (v2), minor-folds (v3: base untouched, so B's pinned base survives)
    // and vacuums — the fold supersedes A's v2 delta, so the window
    // retires exactly that dir. B resumes — its footprint may overlap
    // A's, the exact check finds A's dir gone, and the only safe answer
    // is conflict → recompute on the fresh head. (Silently clearing would
    // double-apply k<50 rows and lose A's +1.)
    val (a, b) = interleave(
      first = () => {
        val att = TxnMergeOnRead.update(spark, root,
          Seq("v" -> "v + 1"), "k < 50")
        assert(TxnMergeOnRead.compactMinor(spark, root))
        TxnMergeOnRead.vacuum(spark, root, retainVersions = 1)
        att
      },
      gated = () => TxnMergeOnRead.update(spark, root,
        Seq("v" -> "v + 7"), "k < 50"))
    assert(a === 1)
    assert(b === 2, "vacuumed competing dir must force a recompute")
    val got = TxnMergeOnRead.read(spark, root)
    assert(got.count() === 200, "no duplicated rows from a stale-snapshot commit")
    assert(got.filter(col("k") < 50)
      .filter(col("v") =!= col("k") * 10 + 8).count() === 0,
      "both increments applied exactly once")
  }

  test("vacuum drops this root's cached relations only — no global clear") {
    val rootA = s"$base/cacheA"
    val rootB = s"$base/cacheB"
    // shares A's path prefix but not its directory
    val rootA2 = s"$base/cacheA2"
    for (r <- Seq(rootA, rootB, rootA2)) {
      org.apache.commons.io.FileUtils.deleteQuietly(new File(r))
      TxnMergeOnRead.create(spark, r,
        spark.range(0, 50).select(col("id").as("k"), lit(0L).as("v")))
      TxnMergeOnRead.insert(spark, r,
        spark.range(50, 60).select(col("id").as("k"), lit(1L).as("v")))
      TxnMergeOnRead.read(spark, r).count() // populate the relation cache
    }
    assert(MetaCache.cachedPathsUnder(rootB).nonEmpty,
      "reads must have populated B's cache entries")
    // retire A's history (compact folds, vacuum deletes the retired dirs)
    TxnMergeOnRead.compact(spark, rootA)
    TxnMergeOnRead.vacuum(spark, rootA, retainVersions = 1)
    assert(MetaCache.cachedPathsUnder(rootA).isEmpty,
      "vacuum must drop the vacuumed root's cached relations eagerly")
    assert(MetaCache.cachedPathsUnder(rootB).nonEmpty,
      "vacuuming A must NOT clear B's entries (the r17 full-clear papercut)")
    assert(MetaCache.cachedPathsUnder(rootA2).nonEmpty,
      "vacuuming A must NOT clear a root that merely shares its prefix")
    // and the vacuumed table still reads correctly (entries repopulate)
    assert(TxnMergeOnRead.read(spark, rootA).count() === 60)
  }

  // ---- layout: base, deltas and folds, read through the log ----

  /** 300 rows (k, v = "v<k>", p = a|b|c by k % 3): the layout tests' table. */
  private def mkKvp(root: String): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
    TxnMergeOnRead.create(spark, root, spark.range(0, 300).select(
      col("id").as("k"), concat(lit("v"), col("id")).as("v"),
      when(col("id") % 3 === 0, "a").when(col("id") % 3 === 1, "b")
        .otherwise("c").as("p")))
  }

  /** Every parquet file under `dir` with its modification time. */
  private def parquetFiles(dir: String): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(new File(dir)).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.lastModified()).toMap
  }

  /** The log's entries as (action, dir, detail), in version order. */
  private def logEntries(root: String): Seq[(String, String, String)] =
    TxnMergeOnRead.history(spark, root).filter(col("action") =!= "checkpoint")
      .orderBy("version").select("action", "dir", "detail").collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))

  /** The `delta_*` dirs on disk that no log entry references. */
  private def unreferencedDeltas(root: String): Set[String] =
    Option(new File(root).listFiles()).getOrElse(Array.empty).map(_.getName)
      .filter(_.startsWith("delta_")).toSet -- logEntries(root).map(_._2)

  test("update/delete leave base files physically untouched") {
    val root = s"$base/mor_base"
    mkKvp(root)
    val (b, _) = TxnMergeOnRead.liveBase(spark, root)
    val before = parquetFiles(s"$root/$b")
    TxnMergeOnRead.update(spark, root, Seq("v" -> "concat(v, '!')"), "k % 10 = 0")
    TxnMergeOnRead.delete(spark, root, "k >= 290")
    assert(TxnMergeOnRead.liveBase(spark, root)._1 === b, "the base stays live")
    assert(parquetFiles(s"$root/$b") == before,
      "merge-on-read mutations must append deltas, not rewrite the base")
    val got = TxnMergeOnRead.read(spark, root)
    assert(got.count() == 290)
    assert(got.filter(col("v") === "v0!").count() == 1)
    assert(got.filter(col("k") === 295).count() == 0)
  }

  test("delta volume is O(changed rows)") {
    val root = s"$base/mor_volume"
    mkKvp(root)
    TxnMergeOnRead.update(spark, root, Seq("v" -> "upper(v)"), "k < 7")
    val (action, dir, _) = logEntries(root).last
    assert(action === "mutate")
    val del = spark.read.parquet(s"$root/$dir/delete")
    val ins = spark.read.parquet(s"$root/$dir/insert")
    assert(del.count() == 7 && ins.count() == 7)
  }

  test("delete events reach rows born in insert-deltas") {
    val root = s"$base/mor_born"
    mkKvp(root)
    TxnMergeOnRead.insert(spark, root,
      spark.range(1000, 1010).select(col("id").as("k"),
        lit("late").as("v"), lit("z").as("p")))
    TxnMergeOnRead.delete(spark, root, "k = 1005")
    val got = TxnMergeOnRead.read(spark, root).filter(col("p") === "z")
    assert(got.count() == 9)
    assert(got.filter(col("k") === 1005).count() == 0)
  }

  test("NULL predicate keeps the row (3VL)") {
    val root = s"$base/mor_3vl"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
    TxnMergeOnRead.create(spark, root, spark.sql(
      "SELECT * FROM VALUES (1, CAST(NULL AS INT)), (2, 5) AS t(k, x)"))
    TxnMergeOnRead.delete(spark, root, "x > 3") // NULL > 3 -> NULL -> keep
    assert(TxnMergeOnRead.read(spark, root).count() == 1)
    assert(TxnMergeOnRead.read(spark, root).head.getInt(0) == 1)
  }

  test("unreferenced delta dirs are invisible to readers; a retried batch key adds nothing") {
    val root = s"$base/mor_staging"
    mkKvp(root)
    // a torn/in-flight stage (its writer died before the log entry) must
    // not be read: only the log names data
    val f = new File(s"$root/delta_torn/delete"); f.mkdirs()
    spark.range(0, 5).select(col("id").as("__row_id"))
      .write.mode("overwrite").parquet(f.getPath)
    assert(TxnMergeOnRead.read(spark, root).count() == 300,
      "uncommitted staging must be invisible")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(s"$root/delta_torn"))
    // a retried batch: the same key committed twice = one delta, no dup rows
    val rows = spark.range(1000, 1010).select(col("id").as("k"),
      lit("late").as("v"), lit("z").as("p"))
    assert(TxnMergeOnRead.insertBatch(spark, root, "b7", rows))
    assert(!TxnMergeOnRead.insertBatch(spark, root, "b7", rows)) // the retry
    assert(TxnMergeOnRead.read(spark, root).count() == 310,
      "a retried batch must not duplicate its rows")
    assert(logEntries(root).count(_._3 == "b:b7") === 1)
  }

  test("streaming ingest commits one insert-delta per micro-batch") {
    val root = s"$base/mor_stream"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
    val feed = spark.range(0, 1000).select(col("id").as("k"),
      (col("id") % 7).as("v"))
    val folded = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    graft.streaming.StreamOps.replayIntoTxn(spark, feed, "k", root,
      nFiles = 4, keyPrefix = "mb")((from, to) => folded += (from -> to))
    // every batch was delivered twice; each committed once
    val inserts = logEntries(root).filter(_._1 == "insert")
    assert(inserts.size === 4, s"one txn per micro-batch: got $inserts")
    assert(inserts.map(_._3).toSet === (0 until 4).map(i => s"b:mb$i").toSet)
    assert(folded.toSeq === Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L),
      "the consumer folds each batch's versions once, in order")
    assert(TxnMergeOnRead.read(spark, root).count() == 1000,
      "exactly-once: table state must equal the replayed feed")
    assert(TxnMergeOnRead.compactMinor(spark, root))
    assert(TxnMergeOnRead.read(spark, root).count() == 1000)
  }

  test("major compaction drops the anti-join; vacuum removes the folded deltas; new deltas stack") {
    val root = s"$base/mor_major"
    mkKvp(root)
    TxnMergeOnRead.update(spark, root, Seq("v" -> "concat(v, '!')"), "k % 10 = 0")
    TxnMergeOnRead.delete(spark, root, "k >= 290")
    val preRows = TxnMergeOnRead.read(spark, root).orderBy("k").collect()
    val prePlan = TxnMergeOnRead.read(spark, root).queryExecution.executedPlan.toString
    assert(prePlan.contains(TxnMergeOnRead.LIVE_RID),
      "pre-compaction read must apply delete events")
    val foldedDeltas = logEntries(root).filter(_._1 == "mutate").map(_._2)
    assert(TxnMergeOnRead.compact(spark, root))
    val postRows = TxnMergeOnRead.read(spark, root).orderBy("k").collect()
    assert(postRows.sameElements(preRows), "compaction must not change the snapshot")
    val postPlan = TxnMergeOnRead.read(spark, root).queryExecution.executedPlan.toString
    assert(!postPlan.contains("Anti") && !postPlan.contains(TxnMergeOnRead.LIVE_RID),
      "post-compaction read must be a plain scan")
    assert(TxnMergeOnRead.liveBase(spark, root)._2.isEmpty,
      "no delta is live on the new base")
    TxnMergeOnRead.vacuum(spark, root, retainVersions = 1)
    assert(foldedDeltas.forall(d => !new File(s"$root/$d").exists),
      "folded deltas must be deleted")
    // and new deltas stack on the compacted base
    TxnMergeOnRead.delete(spark, root, "k = 1")
    assert(TxnMergeOnRead.read(spark, root).count() == preRows.length - 1)
  }

  test("a batch key burned before a major compaction still no-ops after it; a fresh key lands") {
    val root = s"$base/mor_burned"
    mkKvp(root)
    TxnMergeOnRead.delete(spark, root, "k = 0")
    val rows = spark.range(900, 903).select(
      col("id").as("k"), concat(lit("v"), col("id")).as("v"), lit("a").as("p"))
    assert(TxnMergeOnRead.insertBatch(spark, root, "early", rows))
    assert(TxnMergeOnRead.compact(spark, root)) // the base folds the batch
    assert(!TxnMergeOnRead.insertBatch(spark, root, "early", rows),
      "a key the new base folded must stay burned (not silent duplication)")
    assert(TxnMergeOnRead.read(spark, root).filter("k >= 900").count() == 3)
    // a fresh key above the new base still lands
    assert(TxnMergeOnRead.insertBatch(spark, root, "late",
      rows.withColumn("k", col("k") + 3)))
    assert(TxnMergeOnRead.read(spark, root).filter("k >= 900").count() == 6)
  }

  test("a minor fold whose log entry never lands leaves the snapshot unchanged and its dir unreferenced") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.crashfs.impl", classOf[CrashFs].getName)
    val local = s"$base/mor_fold_crash"
    val root = s"crashfs://$local"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(local))
    TxnMergeOnRead.create(spark, root, spark.range(0, 300).select(
      col("id").as("k"), concat(lit("v"), col("id")).as("v")))
    TxnMergeOnRead.update(spark, root, Seq("v" -> "concat(v, '!')"), "k < 5")
    val sources = logEntries(root).filter(_._1 == "mutate").map(_._2)
    val pre = TxnMergeOnRead.read(spark, root).orderBy("k").collect()
    val preV = TxnMergeOnRead.currentVersion(spark, root)
    // the fold stages its delta, then every log-entry publish fails
    CrashFs.failRename = p => p.getParent.getName == "_txnlog" &&
      p.getName.endsWith(".json")
    try intercept[IllegalArgumentException](TxnMergeOnRead.compactMinor(spark, root))
    finally CrashFs.failRename = _ => false
    assert(TxnMergeOnRead.currentVersion(spark, root) === preV)
    val healed = TxnMergeOnRead.read(spark, root)
    assert(healed.orderBy("k").collect().sameElements(pre),
      "an unpublished fold must not change the snapshot")
    assert(healed.count() == 300)
    assert(healed.filter("k < 5").count() == 5)
    val orphan = unreferencedDeltas(local)
    assert(orphan.size === 1, s"the staged fold is one unreferenced dir: $orphan")
    // a fold that lands leaves its sources on disk; only vacuum deletes them
    assert(TxnMergeOnRead.compactMinor(spark, root))
    assert(sources.forall(d => new File(s"$local/$d").exists),
      "compactMinor never deletes the deltas it folded")
    TxnMergeOnRead.vacuum(spark, root, retainVersions = 1)
    assert(sources.forall(d => !new File(s"$local/$d").exists),
      "vacuum deletes the folded sources")
    assert(orphan.forall(d => new File(s"$local/$d").exists),
      "vacuum spares a dir no entry references")
    assert(TxnMergeOnRead.read(spark, root).orderBy("k").collect().sameElements(pre))
  }

  // ---- reads: one parquet scan per half, whatever the live-dir count ----

  /** The rows of `df`, each rendered as its comma-joined values, sorted. */
  private def rendered(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf).mkString(",")).sorted

  test("40 live delta dirs read as one parquet scan per half; building the read runs no job") {
    val root = s"$base/scan40"
    mk(root, 100)
    val model = scala.collection.mutable.Map((0L until 100L).map(k => k -> k * 10): _*)
    // 40 statements, one live delta dir each — above Spark's 32-path
    // parallel-listing threshold
    for (i <- 0 until 40) {
      val born = 1000L + i * 10
      i % 4 match {
        case 0 =>
          TxnMergeOnRead.insert(spark, root, spark.range(born, born + 3)
            .select(col("id").as("k"), lit(i.toLong).as("v")))
          (born until born + 3).foreach(model(_) = i.toLong)
        case 1 =>
          TxnMergeOnRead.update(spark, root, Seq("v" -> "v + 1"), s"k % 9 = ${i % 9}")
          model.keys.toSeq.filter(_ % 9 == i % 9).foreach(k => model(k) += 1)
        case 2 =>
          TxnMergeOnRead.delete(spark, root, s"k = $i OR k = ${born - 20}")
          model -= i.toLong
          model -= born - 20
        case 3 =>
          assert(TxnMergeOnRead.insertBatch(spark, root, s"b$i",
            spark.range(born, born + 2).select(col("id").as("k"), lit(-1L).as("v"))))
          (born until born + 2).foreach(model(_) = -1L)
      }
    }
    val deltas = TxnMergeOnRead.liveBase(spark, root)._2.map(_.stripSuffix("/insert"))
    assert(deltas.size === 40)
    val (df, buildJobs) = JobCounter.during(spark)(TxnMergeOnRead.read(spark, root))
    assert(buildJobs.count === 0, "building the snapshot lists in no job")
    val (rows, readJobs) = JobCounter.during(spark)(df.collect())
    assert(readJobs.count === 1, "the result, nothing before")
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(plan).size === 1, plan)
    assert(plan.contains(TxnMergeOnRead.LIVE_RID), plan)
    assert(!plan.contains("BroadcastExchange") && !plan.contains("LeftAnti"), plan)
    assert(rows.length === model.size)
    assert(rows.map(r => r.getLong(0) -> r.getLong(1)).toMap === model.toMap)
    // cold file lists and rid sets (a fresh JVM) are read on the driver:
    // still no job to build, one to collect
    deltas.foreach(d => MetaCache.purge(s"$root/$d"))
    val (cold, coldJobs) = JobCounter.during(spark)(TxnMergeOnRead.read(spark, root))
    assert(coldJobs.count === 0)
    val (coldRows, coldReadJobs) = JobCounter.during(spark)(rendered(cold))
    assert(coldReadJobs.count === 1)
    assert(coldRows === rendered(df))
  }

  test("a delete set above ID_CAP reads through the broadcast anti-join") {
    val root = s"$base/bigdelete"
    val n = Stores.ID_CAP + 5000
    mk(root, n)
    // a Spark-written delete half of more than ID_CAP rows, then small
    // driver-written ones beside it
    TxnMergeOnRead.delete(spark, root, "k >= 3000")
    TxnMergeOnRead.update(spark, root, Seq("v" -> "v + 1"), "k % 7 = 0")
    TxnMergeOnRead.delete(spark, root, "k < 10")
    val model = (10L until 3000L).map(k => k -> (k * 10 + (if (k % 7 == 0) 1 else 0)))
    val df = TxnMergeOnRead.read(spark, root)
    val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.sorted.toSeq === model)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastExchange") && plan.contains("LeftAnti"), plan)
    assert(!plan.contains(TxnMergeOnRead.LIVE_RID), plan)
    assert("FileScan parquet".r.findAllIn(plan).size === 2, plan)
  }

  test("a mixed INSERT/UPDATE/DELETE/MERGE/RESTORE sequence and readAt read the model's rows") {
    val root = s"$base/mixed"
    mk(root, 300)
    var model = (0L until 300L).map(k => k -> k * 10).toMap
    val at = scala.collection.mutable.Map(1L -> model)
    def step(run: => Unit)(next: Map[Long, Long] => Map[Long, Long]): Unit = {
      run
      model = next(model)
      at(TxnMergeOnRead.currentVersion(spark, root)) = model
    }
    def rowsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
      val rs = df.collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(rs.map(_._1).distinct.length === rs.length, "a key read twice")
      rs.toMap
    }
    step(TxnMergeOnRead.insert(spark, root, spark.range(300, 320)
      .select(col("id").as("k"), lit(-1L).as("v"))))(
      _ ++ (300L until 320L).map(_ -> -1L))
    step(TxnMergeOnRead.update(spark, root, Seq("v" -> "v + 5"), "k % 4 = 1"))(
      _.map { case (k, v) => k -> (if (k % 4 == 1) v + 5 else v) })
    step(TxnMergeOnRead.delete(spark, root, "k % 5 = 0"))(_.filter(_._1 % 5 != 0))
    val src = spark.range(290, 330).select(col("id").as("k"),
      (col("id") * 100).as("nv"))
    step(TxnMergeOnRead.merge(spark, root, src, "t.k = s.k",
      matchedSet = Seq("v" -> "s.nv"), matchedDelete = Some("s.k % 3 = 0"),
      notMatchedInsert = Some(Seq("k" -> "s.k", "v" -> "s.nv")))) { m =>
      val srcKeys = (290L until 330L)
      m.filter { case (k, _) => !(srcKeys.contains(k) && k % 3 == 0) }
        .map { case (k, v) => k -> (if (srcKeys.contains(k)) k * 100 else v) } ++
        srcKeys.filter(k => !m.contains(k)).map(k => k -> k * 100)
    }
    step(TxnMergeOnRead.delete(spark, root, "k < 50"))(_.filter(_._1 >= 50))
    step(TxnMergeOnRead.restore(spark, root, 3))(_ => at(3))
    step(TxnMergeOnRead.update(spark, root, Seq("v" -> "0"), "k BETWEEN 100 AND 120"))(
      _.map { case (k, v) => k -> (if (k >= 100 && k <= 120) 0L else v) })
    step(TxnMergeOnRead.delete(spark, root, "k % 11 = 0"))(_.filter(_._1 % 11 != 0))
    assert(rowsOf(TxnMergeOnRead.read(spark, root)) === model)
    at.foreach { case (v, m) =>
      assert(rowsOf(TxnMergeOnRead.readAt(spark, root, v)) === m, s"at version $v")
    }
  }

  test("schema epochs, RESTORE, time travel around a checkpoint, pruned reads, CDC and a minor fold read the expected rows") {
    val root = s"$base/scan_epochs"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
    TxnMergeOnRead.create(spark, root,
      spark.range(0, 30).select(col("id").as("k"), (col("id") * 10).as("v"))) // v1
    TxnMergeOnRead.insert(spark, root,
      spark.range(100, 105).select(col("id").as("k"), lit(1L).as("v")))        // v2
    TxnMergeOnRead.addColumns(spark, root, Seq("tag" -> "STRING"))             // v3
    TxnMergeOnRead.update(spark, root,
      Seq("v" -> "v + 1", "tag" -> "'u'"), "k < 5")                            // v4
    TxnMergeOnRead.insert(spark, root, spark.range(200, 202).select(
      col("id").as("k"), lit(2L).as("v"), lit("m").as("tag"),
      lit(7).as("w")), mergeSchema = true)                                     // v5
    TxnMergeOnRead.delete(spark, root, "k = 1 OR k = 100")                     // v6
    TxnMergeOnRead.checkpoint(spark, root)
    TxnMergeOnRead.update(spark, root, Seq("w" -> "9"), "k = 200")             // v7
    def row(k: Long, v: Long, tag: String, w: Any): String = s"$k,$v,$tag,$w"
    val at2 = ((0L until 30L).map(k => s"$k,${k * 10}") ++
      (100L until 105L).map(k => s"$k,1")).sorted
    val at5 = ((0L until 30L).map(k =>
        if (k < 5) row(k, k * 10 + 1, "u", null) else row(k, k * 10, null, null)) ++
      (100L until 105L).map(row(_, 1, null, null)) ++
      Seq(row(200, 2, "m", 7), row(201, 2, "m", 7))).sorted
    val head = at5.filterNot(r => r.startsWith("1,") || r.startsWith("100,"))
      .map(r => if (r.startsWith("200,")) row(200, 2, "m", 9) else r).sorted
    assert(rendered(TxnMergeOnRead.readAt(spark, root, 2L)) === at2)
    assert(rendered(TxnMergeOnRead.readAt(spark, root, 5L)) === at5,
      "below the checkpoint")
    assert(rendered(TxnMergeOnRead.readAt(spark, root, 7L)) === head,
      "above the checkpoint")
    assert(rendered(TxnMergeOnRead.read(spark, root)) === head)
    // CDC over (3, 7]: k = 1's and k = 200's first new versions were born
    // and killed inside the range and net out of both sides
    assert(rendered(TxnMergeOnRead.changesBetween(spark, root, 3L, 7L)) === (
      Seq(0L, 2L, 3L, 4L).map(k => row(k, k * 10 + 1, "u", null) + ",insert") ++
      Seq(row(200, 2, "m", 9), row(201, 2, "m", 7)).map(_ + ",insert") ++
      (0L until 5L).map(k => row(k, k * 10, null, null) + ",delete") :+
      (row(100, 1, null, null) + ",delete")).sorted)
    TxnMergeOnRead.analyze(spark, root)
    assert(rendered(TxnMergeOnRead.readPruned(spark, root,
      Seq(DataSkipping.Band("k", 0L, 3L)))) ===
      Seq(row(0, 1, "u", null), row(2, 21, "u", null), row(3, 31, "u", null)))
    assert(TxnMergeOnRead.compactMinor(spark, root))                          // v8
    assert(rendered(TxnMergeOnRead.read(spark, root)) === head)
    TxnMergeOnRead.restore(spark, root, 5L)                                   // v9
    assert(rendered(TxnMergeOnRead.read(spark, root)) === at5)
  }
}

/** A local filesystem whose next `.tmp_` file, once `sweepNext` is set, is
  * deleted as soon as it is closed: a sweep in another process running
  * between a commit's temp write and its publish. */
class SweptTempFs extends org.apache.hadoop.fs.LocalFileSystem {
  @volatile var sweepNext = false

  override def create(f: org.apache.hadoop.fs.Path,
      overwrite: Boolean): org.apache.hadoop.fs.FSDataOutputStream = {
    val out = super.create(f, overwrite)
    if (!sweepNext || !f.getName.startsWith(".tmp_")) out
    else {
      sweepNext = false
      val self = this
      new org.apache.hadoop.fs.FSDataOutputStream(out, null) {
        override def close(): Unit = { super.close(); self.delete(f, false) }
      }
    }
  }
}
