package graft

import graft.operators.{BitmapIndex, TxnMergeOnRead, TxnSql}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** BITMAP index ([[graft.operators.BitmapIndex]] — the reference's
  * `BitmapIndexHandler.java:64` EWAH posting lists, per-file sidecar):
  * exact pruning (no false-positive files), posting cardinalities equal
  * true counts, canonicalization across probe types, degradation paths,
  * and the registry-level contracts the ADVICE items named — two
  * same-kind indexes on one table must not clobber each other's
  * filters, and a failed CREATE must not leave a phantom registry
  * entry. */
class BitmapIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 4, appName = "graft-bitmap")

  override def afterAll(): Unit = spark.stop()

  private val base = s"${Engine.scratchRoot}/bitmapspec"

  /** 4000 rows, `cat` has 5 values range-clustered across 10 files so a
    * single-value probe must prune; `flag` 2 values scattered. */
  private def mkDir(name: String): String = {
    val out = s"$base/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    spark.range(0, 4000).select(col("id").as("k"),
        concat(lit("c"), col("id") % 5).as("cat"),
        (col("id") % 2 === 0).as("flag"))
      .repartitionByRange(10, col("cat"), col("k"))
      .write.parquet(out)
    out
  }

  private def files(dir: String): Int =
    new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))

  test("pruned point lookup equals full filtered scan; pruning is exact") {
    val dir = mkDir("t1")
    BitmapIndex.collect(spark, dir, Seq("cat"))
    val got = BitmapIndex.readPruned(spark, dir, "cat", Seq("c3"))
      .orderBy("k").collect().toSeq
    val want = spark.read.parquet(dir).filter(col("cat") === "c3")
      .orderBy("k").collect().toSeq
    assert(got == want && want.size == 800)
    // exactness: every surviving file truly contains the value — the
    // survivor set equals the set of files holding c3 rows
    val surv = BitmapIndex.survivors(spark, dir, "cat", Seq("c3")).get.toSet
    val truth = spark.read.parquet(dir).filter(col("cat") === "c3")
      .select(input_file_name()).distinct().collect()
      .map(_.getString(0).stripPrefix("file://")).toSet
    assert(surv.map(p => p.substring(p.lastIndexOf('/') + 1)) ==
      truth.map(p => p.substring(p.lastIndexOf('/') + 1)))
    assert(surv.size < files(dir), "value-clustered probe must prune")
  }

  test("posting cardinalities equal true per-value row counts") {
    val dir = mkDir("t2")
    BitmapIndex.collect(spark, dir, Seq("cat", "flag"))
    val pc = BitmapIndex.postingCounts(spark, dir, "cat", Seq("c0", "c4"))
    assert(pc == Map("c0" -> 800L, "c4" -> 800L))
    // boolean column canonicalizes through the same cast on both sides
    val fc = BitmapIndex.postingCounts(spark, dir, "flag", Seq(true))
    assert(fc == Map("true" -> 2000L))
  }

  test("absent value prunes everything; uncovered column degrades to None") {
    val dir = mkDir("t3")
    BitmapIndex.collect(spark, dir, Seq("cat"))
    assert(BitmapIndex.survivors(spark, dir, "cat", Seq("nope")).get.isEmpty)
    assert(BitmapIndex.readPruned(spark, dir, "cat", Seq("nope")).count() == 0)
    assert(BitmapIndex.survivors(spark, dir, "k", Seq(7L)).isEmpty)
    // no sidecar at all
    val bare = s"$base/bare"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(bare))
    spark.range(10).write.parquet(bare)
    assert(BitmapIndex.survivors(spark, bare, "id", Seq(1L)).isEmpty)
  }

  test("two same-kind indexes on one txn table do not clobber each other") {
    val root = s"$base/txn2"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    TxnMergeOnRead.create(spark, root,
      spark.range(0, 2000).select(col("id").as("k"),
          concat(lit("c"), col("id") % 4).as("cat"),
          concat(lit("r"), col("id") % 3).as("reg"))
        .repartitionByRange(8, col("cat"), col("k")))
    TxnSql.register("bm_two", root)
    TxnSql.execDdl(spark, "CREATE INDEX i_cat ON bm_two (cat) AS 'BITMAP'")
    TxnSql.execDdl(spark, "CREATE INDEX i_reg ON bm_two (reg) AS 'BITMAP'")
    // building i_reg must NOT erase i_cat's postings: both probes prune
    val pCat = TxnMergeOnRead.scanProfilePoint(spark, root, "cat", Seq("c1"))
    assert(pCat._1 < pCat._2, s"cat probe must still prune after i_reg: $pCat")
    // reg is scattered (not clustered) so no file pruning is expected,
    // but the postings must COVER the column (survivors defined, exact)
    val (b, _) = TxnMergeOnRead.liveBase(spark, root)
    val sReg = BitmapIndex.survivors(spark, s"$root/$b", "reg", Seq("r2"))
    assert(sReg.isDefined, "reg must stay covered after i_cat existed first")
    // same contract for BLOOM — the originally-reported clobber pair
    TxnSql.execDdl(spark, "CREATE INDEX b_k ON bm_two (k) AS 'BLOOM'")
    TxnSql.execDdl(spark, "CREATE INDEX b_cat ON bm_two (cat) AS 'BLOOM'")
    val sK = graft.operators.BloomIndex.survivors(
      spark, s"$root/$b", "k", Seq(77L))
    assert(sK.isDefined, "first BLOOM index must survive the second's build")
  }

  test("failed CREATE INDEX leaves no phantom registry entry") {
    val root = s"$base/txn3"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    TxnMergeOnRead.create(spark, root,
      spark.range(0, 100).select(col("id").as("k")))
    TxnSql.register("bm_three", root)
    intercept[IllegalArgumentException] {
      TxnSql.execDdl(spark,
        "CREATE INDEX bad ON bm_three (no_such_col) AS 'BITMAP'")
    }
    assert(TxnSql.query(spark, "SHOW INDEXES ON bm_three").count() == 0,
      "failed CREATE must not register")
    // the corrected re-CREATE under the same name must succeed
    TxnSql.execDdl(spark, "CREATE INDEX bad ON bm_three (k) AS 'BITMAP'")
    assert(TxnSql.query(spark, "SHOW INDEXES ON bm_three").count() == 1)
  }
}
