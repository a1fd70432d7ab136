package graft

import java.io.File

import scala.util.Try

import graft.operators.{ChangeFeed, TxnMergeOnRead}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** CDC replication ([[graft.operators.ChangeFeed]]): replica-equals-source
  * across every DML shape, one-action-per-key netting, value-idempotent
  * crash replay, cursor no-ops, a cursor commit that survives a crash at
  * any filesystem mutation, schema evolution, and the loud
  * restore-breaks-replication contract. */
class ChangeFeedSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession =
    Engine.session(cores = 4, appName = "graft-changefeed")
  import spark.implicits._

  override def afterAll(): Unit = spark.stop()

  private val base = s"${Engine.scratchRoot}/cfspec"

  private def mk(tag: String): (String, String, String) = {
    val (src, dst, ckpt) = (s"$base/$tag/src", s"$base/$tag/dst",
      s"$base/$tag/ckpt")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(s"$base/$tag"))
    TxnMergeOnRead.create(spark, src,
      spark.range(0, 100).select(col("id").as("k"), (col("id") % 5).as("g"),
        (col("id") * 10).cast("double").as("v")))
    (src, dst, ckpt)
  }

  private def content(root: String): Set[(Long, Long, Double)] =
    TxnMergeOnRead.read(spark, root).select("k", "g", "v")
      .as[(Long, Long, Double)].collect().toSet

  test("replica follows the source through update/delete/insert/churn — equal after every sync") {
    val (src, dst, ckpt) = mk("follow")
    ChangeFeed.init(spark, src, dst, ckpt)
    assert(content(dst) === content(src), "bootstrap copies the snapshot")

    TxnMergeOnRead.update(spark, src, Seq("v" -> "v + 1"), "k < 10")
    TxnMergeOnRead.delete(spark, src, "k >= 90")
    val r1 = ChangeFeed.sync(spark, src, dst, ckpt, Seq("k"))
    assert(r1 === Some((1L, 3L)))
    assert(content(dst) === content(src), "update + delete replicated")

    // churn: delete then re-insert the same key in ONE range (nets to the
    // final upsert), and a new key born then killed (nets to nothing)
    TxnMergeOnRead.delete(spark, src, "k = 5")
    TxnMergeOnRead.insert(spark, src,
      Seq((5L, 0L, 555.0)).toDF("k", "g", "v"))
    TxnMergeOnRead.insert(spark, src,
      Seq((777L, 0L, 1.0)).toDF("k", "g", "v"))
    TxnMergeOnRead.delete(spark, src, "k = 777")
    assert(ChangeFeed.sync(spark, src, dst, ckpt, Seq("k")).isDefined)
    assert(content(dst) === content(src))
    assert(content(dst).exists(r => r._1 == 5L && r._3 == 555.0))
    assert(!content(dst).exists(_._1 == 777L), "born-then-killed nets out")
  }

  test("crash replay: re-applying the last range is value-idempotent") {
    val (src, dst, ckpt) = mk("replay")
    ChangeFeed.init(spark, src, dst, ckpt)
    TxnMergeOnRead.update(spark, src, Seq("v" -> "v * 2"), "g = 3")
    TxnMergeOnRead.delete(spark, src, "g = 4")
    val changes = TxnMergeOnRead.changesBetween(spark, src, 1L, 3L)
    ChangeFeed.applyNet(spark, dst, changes, Seq("k"))
    val once = content(dst)
    // the crash window: merge landed, cursor write lost — redelivery
    ChangeFeed.applyNet(spark, dst, changes, Seq("k"))
    assert(content(dst) === once, "second delivery changes no values")
    assert(once === content(src))
  }

  test("cursor: caught-up sync is None; ranges chain without gaps") {
    val (src, dst, ckpt) = mk("cursor")
    ChangeFeed.init(spark, src, dst, ckpt)
    assert(ChangeFeed.sync(spark, src, dst, ckpt, Seq("k")).isEmpty)
    TxnMergeOnRead.update(spark, src, Seq("v" -> "v + 1"), "k = 1")
    assert(ChangeFeed.sync(spark, src, dst, ckpt, Seq("k")) === Some((1L, 2L)))
    TxnMergeOnRead.update(spark, src, Seq("v" -> "v + 1"), "k = 2")
    TxnMergeOnRead.update(spark, src, Seq("v" -> "v + 1"), "k = 3")
    assert(ChangeFeed.sync(spark, src, dst, ckpt, Seq("k")) === Some((2L, 4L)))
    assert(ChangeFeed.cursor(spark, ckpt) === Some(4L))
  }

  test("schema evolution replicates: ADD COLUMNS + backfill arrive in one sync") {
    val (src, dst, ckpt) = mk("schema")
    ChangeFeed.init(spark, src, dst, ckpt)
    TxnMergeOnRead.addColumns(spark, src, Seq("note" -> "string"))
    TxnMergeOnRead.update(spark, src, Seq("note" -> "'hot'"), "g = 0")
    assert(ChangeFeed.sync(spark, src, dst, ckpt, Seq("k")).isDefined)
    val d = TxnMergeOnRead.read(spark, dst)
    assert(d.columns.contains("note"))
    assert(d.filter(col("note") === "hot").count() === 20)
    assert(d.filter(col("g") =!= 0 && col("note").isNotNull).count() === 0,
      "untouched rows carry NULL in the evolved column")
  }

  test("a RESTORE on the source fails the sync loudly, naming re-init") {
    val (src, dst, ckpt) = mk("restore")
    ChangeFeed.init(spark, src, dst, ckpt)
    TxnMergeOnRead.delete(spark, src, "k < 50")
    TxnMergeOnRead.restore(spark, src, 1L)
    val e = intercept[IllegalStateException](
      ChangeFeed.sync(spark, src, dst, ckpt, Seq("k")))
    assert(e.getMessage.contains("re-bootstrap"))
    // the documented recovery works
    ChangeFeed.init(spark, src, dst, ckpt)
    assert(content(dst) === content(src))
  }

  test("a crash at any mutation of the cursor commit leaves the old or the new cursor; the next sync resumes") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.crashfs.impl", classOf[CrashFs].getName)
    val (src, dst, _) = mk("crash")
    // only the cursor lives on the crashing filesystem, whose renames never
    // replace a file (HDFS's rename)
    val ckpt = s"crashfs://$base/crash/ckpt"
    CrashFs.noClobber = true
    try crashCursor(src, dst, ckpt) finally CrashFs.noClobber = false
  }

  private def crashCursor(src: String, dst: String, ckpt: String): Unit = {
    ChangeFeed.init(spark, src, dst, ckpt)
    TxnMergeOnRead.update(spark, src, Seq("v" -> "v + 1"), "k = 0")
    CrashFs.arm(Long.MaxValue) // count, never fail
    val first = ChangeFeed.sync(spark, src, dst, ckpt, Seq("k"))
    val n = CrashFs.disarm()
    assert(first === Some((1L, 2L)))
    assert(n >= 3, s"a cursor commit writes, publishes and retires: $n mutations")
    for (i <- 0L until n) {
      val old = ChangeFeed.cursor(spark, ckpt).get
      TxnMergeOnRead.update(spark, src, Seq("v" -> "v + 1"), s"k = ${i + 1}")
      val head = TxnMergeOnRead.currentVersion(spark, src)
      CrashFs.arm(i)
      val crashed = try Try(ChangeFeed.sync(spark, src, dst, ckpt, Seq("k")))
        finally CrashFs.disarm()
      assert(crashed.isFailure, s"mutation $i of $n did not fail the sync")
      val got = ChangeFeed.cursor(spark, ckpt)
      assert(got === Some(old) || got === Some(head),
        s"crash at mutation $i of $n: cursor $got, neither $old nor $head")
      ChangeFeed.sync(spark, src, dst, ckpt, Seq("k"))
      assert(ChangeFeed.cursor(spark, ckpt) === Some(head))
      assert(content(dst) === content(src), s"crash at mutation $i of $n")
      val temps = new java.io.File(new org.apache.hadoop.fs.Path(ckpt).toUri.getPath)
        .list().filter(_.startsWith(".tmp_"))
      assert(temps.isEmpty, s"crash at mutation $i of $n left ${temps.mkString(", ")}")
    }
  }
}
