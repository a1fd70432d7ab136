package graft

import graft.operators.BloomIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Per-file Bloom index ([[graft.operators.BloomIndex]]): build/probe
  * hash agreement (the Scala build arithmetic vs the SQL probe
  * arithmetic — the pair that must change together), exact results under
  * pruning, absent-key pruning, degradation paths, string escaping, and
  * correctness under deliberate false positives (tiny filters).
  */
class BloomIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 4, appName = "graft-bloom")

  override def afterAll(): Unit = spark.stop()

  private val base = s"${Engine.scratchRoot}/bloomspec"

  private def mkDir(name: String, nFiles: Int = 16): String = {
    val out = s"$base/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    spark.range(0, 4000).select(col("id").as("k"),
        (col("id") % 97).as("grp"),
        concat(lit("name_"), col("id")).as("s"))
      .repartition(nFiles, col("grp")) // ids scatter across all files
      .write.parquet(out)
    out
  }

  private def files(dir: String): Int =
    new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))

  test("pruned point lookup equals the full filtered scan; present keys prune") {
    val dir = mkDir("t1")
    BloomIndex.collect(spark, dir, Seq("k"))
    val keys = Seq(5L, 777L, 3999L)
    val got = BloomIndex.readPruned(spark, dir, "k", keys)
      .orderBy("k").collect().toSeq
    val want = spark.read.parquet(dir).filter(col("k").isin(keys: _*))
      .orderBy("k").collect().toSeq
    assert(got == want)
    assert(want.size == 3)
    val kept = BloomIndex.survivors(spark, dir, "k", keys).get.size
    assert(kept < files(dir), s"expected pruning, kept $kept of ${files(dir)}")
    assert(kept >= 1)
  }

  test("an absent key prunes (nearly) everything and returns no rows") {
    val dir = mkDir("t2")
    BloomIndex.collect(spark, dir, Seq("k"))
    val kept = BloomIndex.survivors(spark, dir, "k", Seq(-123456L)).get.size
    assert(kept <= files(dir) / 2, s"absent key kept $kept files")
    assert(BloomIndex.readPruned(spark, dir, "k", Seq(-123456L)).count() == 0)
  }

  test("string columns probe correctly, including quote escaping") {
    val dir = s"$base/t3"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    import spark.implicits._
    (Seq("it's a value", "plain", "back\\slash") ++
      (0 until 2000).map(i => s"v_$i"))
      .toDF("s").repartition(8).write.parquet(dir)
    BloomIndex.collect(spark, dir, Seq("s"))
    for (v <- Seq("it's a value", "back\\slash", "plain")) {
      val got = BloomIndex.readPruned(spark, dir, "s", Seq(v)).count()
      assert(got == 1, s"probe for '$v' returned $got rows")
    }
    assert(BloomIndex.readPruned(spark, dir, "s", Seq("absent")).count() == 0)
  }

  test("no sidecar / unknown column degrade to a full scan, never wrong") {
    val dir = mkDir("t4")
    assert(BloomIndex.survivors(spark, dir, "k", Seq(1L)).isEmpty)
    assert(BloomIndex.readPruned(spark, dir, "k", Seq(1L)).count() == 1)
    BloomIndex.collect(spark, dir, Seq("k"))
    assert(BloomIndex.survivors(spark, dir, "grp", Seq(1L)).isEmpty)
    assert(BloomIndex.readPruned(spark, dir, "grp", Seq(1L)).count() ==
      spark.read.parquet(dir).filter(col("grp") === 1L).count())
  }

  test("deliberate false positives (tiny filter) never change the answer") {
    val dir = mkDir("t5")
    BloomIndex.collect(spark, dir, Seq("k"), mBits = 64, k = 2) // saturated
    val keys = Seq(17L, -40000L)
    val got = BloomIndex.readPruned(spark, dir, "k", keys)
      .orderBy("k").collect().toSeq
    val want = spark.read.parquet(dir).filter(col("k").isin(keys: _*))
      .orderBy("k").collect().toSeq
    assert(got == want)
    // (near-)saturated bits: almost everything survives — degradation is
    // toward a full scan, never a wrong answer
    assert(BloomIndex.survivors(spark, dir, "k", Seq(-1L)).get.size >=
      files(dir) - 1)
  }

  test("collectAuto sizes the filter to the largest file and restores" +
      " pruning where the fixed default saturates") {
    val dir = s"$base/t7"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    spark.range(0, 200000).select(col("id").as("k"), (col("id") % 7).as("grp"))
      .repartition(4, col("grp")).write.parquet(dir)
    // fixed default: 50k rows/file vs 2^17 bits ≈ 2.6 bits/key — heavily
    // loaded; auto sizing must pick a bigger m and prune a point probe
    val m = BloomIndex.collectAuto(spark, dir, Seq("k"), bitsPerKey = 12)
    assert(m >= (1 << 19), s"auto sizing picked m=$m for ~50k rows/file")
    val kept = BloomIndex.survivors(spark, dir, "k", Seq(31337L)).get.size
    assert(kept <= 2, s"auto-sized probe kept $kept of 4 files")
    assert(BloomIndex.readPruned(spark, dir, "k", Seq(31337L)).count() == 1)
  }

  test("collectAuto tolerates a missing dir and a zero-row dir (no NPE)," +
      " falling back to the 2^17 floor") {
    val missing = s"$base/t8_missing"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(missing))
    assert(BloomIndex.collectAuto(spark, missing, Seq("k")) == (1 << 17))
    val empty = s"$base/t8_empty"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(empty))
    spark.range(0, 10).select(col("id").as("k")).filter(col("k") < 0)
      .coalesce(1).write.parquet(empty) // schema-only parquet, zero rows
    assert(BloomIndex.collectAuto(spark, empty, Seq("k")) == (1 << 17))
    assert(BloomIndex.readPruned(spark, empty, "k", Seq(1L)).count() == 0)
  }

  test("probe arithmetic is wrap-safe: identical pruning under ANSI mode") {
    val dir = mkDir("t9")
    BloomIndex.collect(spark, dir, Seq("k"))
    val off = BloomIndex.survivors(spark, dir, "k", Seq(5L, 3999L)).get
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val on = BloomIndex.survivors(spark, dir, "k", Seq(5L, 3999L)).get
      assert(on == off, "ANSI probe diverged from the non-ANSI probe")
      val got = BloomIndex.readPruned(spark, dir, "k", Seq(5L, 3999L))
        .orderBy("k").collect().map(_.getLong(0)).toSeq
      assert(got == Seq(5L, 3999L))
      assert(BloomIndex.readPruned(spark, dir, "k", Seq(-123456L)).count() == 0)
    } finally spark.conf.set("spark.sql.ansi.enabled", "false")
  }

  test("BloomAgg bit positions match the SQL probe arithmetic") {
    // build a one-value filter in Scala, then check the SQL-side probe
    // finds it and rejects a near-miss — pins the shared double-hash spec
    val agg = new BloomIndex.BloomAgg(1 << 10, 7)
    import spark.implicits._
    val dir = s"$base/t6"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    Seq(42L).toDF("k").coalesce(1).write.parquet(dir)
    BloomIndex.collect(spark, dir, Seq("k"), mBits = 1 << 10, k = 7)
    assert(BloomIndex.survivors(spark, dir, "k", Seq(42L)).get.size == 1)
    assert(BloomIndex.survivors(spark, dir, "k", Seq(43L)).get.isEmpty)
  }
}
