package graft

import graft.operators.TxnMergeOnRead
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** CROSS-PROCESS writer race for the txn log: the in-JVM racing-thread
  * specs (TxnMorSpec) share one FileSystem client and one JVM's memory
  * model, so they cannot falsify the claim the log actually rests on —
  * that `FileSystem.create(overwrite=false)` on the entry file is atomic
  * BETWEEN PROCESSES. This spec launches two genuinely separate JVMs
  * ([[graft.tools.TxnRaceRunner]]) racing single-row inserts against one
  * shared root and then checks the merged history: every batch from both
  * writers present exactly once, contiguous version ordinals, no torn or
  * duplicated commits.
  */
class TxnCrossProcessSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 4, appName = "graft-xproc")

  override def afterAll(): Unit = spark.stop()

  test("two separate JVMs racing inserts: all commits land exactly once" +
      " with contiguous versions") {
    val root = s"${Engine.scratchRoot}/xprocspec/t1"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    import spark.implicits._
    TxnMergeOnRead.create(spark, root,
      Seq((-1L, "base", -1L)).toDF("k", "writer", "seq"))

    val n = 6
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val cp = sys.props("java.class.path")
    def launch(tag: String): Process =
      new ProcessBuilder(javaBin, "-Xmx1g", "-cp", cp,
          "graft.tools.TxnRaceRunner", root, tag, n.toString)
        .redirectErrorStream(true)
        .redirectOutput(new java.io.File(s"$root-$tag.log"))
        .start()
    val (pa, pb) = (launch("a"), launch("b"))
    assert(pa.waitFor(10, java.util.concurrent.TimeUnit.MINUTES) &&
      pa.exitValue() == 0,
      s"writer A failed — see $root-a.log")
    assert(pb.waitFor(10, java.util.concurrent.TimeUnit.MINUTES) &&
      pb.exitValue() == 0,
      s"writer B failed — see $root-b.log")

    // every row from both writers exactly once, nothing torn or doubled
    val rows = TxnMergeOnRead.read(spark, root)
      .select("k", "writer", "seq").as[(Long, String, Long)].collect()
    val want = (Seq((-1L, "base", -1L)) ++
      (0 until n).map(i => (i * 2L, "a", i.toLong)) ++
      (0 until n).map(i => (i * 2L + 1, "b", i.toLong))).toSet
    assert(rows.length == want.size, s"expected ${want.size} rows, got " +
      s"${rows.length} — a commit tore or double-applied")
    assert(rows.toSet == want)

    // contiguous ordinals: create + 2n inserts, no gaps, no duplicates
    val versions = TxnMergeOnRead.history(spark, root)
      .select("version").as[Long].collect().sorted.toSeq
    assert(versions == (1L to (1 + 2 * n)).toSeq,
      s"versions not contiguous: $versions")
  }
}
