package graft

import java.io.File

import graft.operators.{TxnMergeOnRead, ZOrder}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Z-order clustering contracts ([[graft.operators.ZOrder]]): content
  * preservation, and the data-skipping geometry itself — measured from the
  * written files' ACTUAL per-file min/max (the same stats parquet footers
  * expose to the reader), not assumed: under z-order a selective slice on
  * EITHER dimension intersects a small fraction of files, where a
  * single-column sort leaves the non-leading dimension at full domain in
  * every file (zero skipping). */
class ZOrderSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 8, appName = "graft-zorder")

  override def afterAll(): Unit = spark.stop()

  private val base = s"${Engine.scratchRoot}/zorderspec"

  // two independent pseudo-random dimensions over [0, 100000).
  // numSlices is PINNED: range() otherwise inherits defaultParallelism
  // from whichever shared session got built first (local[8] in isolation
  // vs local[32] in the full suite), and a different upstream slicing
  // changes RangePartitioner's deterministic per-partition sample seeds —
  // the r14 full-suite flake (file-count/geometry drift) came from that,
  // not from the z-order math.
  private def data(): DataFrame =
    spark.range(0, 100000, 1, 16).select(col("id").as("k"),
      (col("id") * 2654435761L % 100000L).as("x"),
      (hash(col("id")).cast("long").bitwiseAND(0x7fffffffL) % 100000L).as("y"))

  /** Per-file [min,max] of a column, from the files actually written —
    * the information a parquet footer gives the scan. */
  private def fileRanges(path: String, c: String): Seq[(Long, Long)] =
    spark.read.parquet(path).groupBy(input_file_name())
      .agg(min(col(c)).as("lo"), max(col(c)).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq

  /** Fraction of files whose stats range intersects [lo, hi] — exactly
    * the fraction a stats-pruning reader must touch. */
  private def hitFraction(ranges: Seq[(Long, Long)], lo: Long, hi: Long): Double =
    ranges.count { case (a, b) => a <= hi && lo <= b }.toDouble / ranges.size

  test("z-order: a slice on EITHER dimension skips most files; plain sort cannot") {
    val zdir = s"$base/z"
    val xdir = s"$base/xsort"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(base))
    ZOrder.cluster(data(), Seq("x", "y"), numFiles = 64)
      .write.parquet(zdir)
    // the comparison layout: same data, same file count, sorted by x only
    data().repartitionByRange(64, col("x")).sortWithinPartitions("x")
      .write.parquet(xdir)

    // content preserved exactly
    assert(spark.read.parquet(zdir).orderBy("k").collect().toSeq ===
      data().orderBy("k").collect().toSeq)

    // a 2% slice on each dimension
    val (lo, hi) = (40000L, 42000L)
    val zx = hitFraction(fileRanges(zdir, "x"), lo, hi)
    val zy = hitFraction(fileRanges(zdir, "y"), lo, hi)
    val sx = hitFraction(fileRanges(xdir, "x"), lo, hi)
    val sy = hitFraction(fileRanges(xdir, "y"), lo, hi)
    assert(zx <= 0.30, f"z-order x-slice should skip most files, hit $zx%.2f")
    assert(zy <= 0.30, f"z-order y-slice should skip most files, hit $zy%.2f")
    assert(sx <= 0.10, f"x-sort is optimal on its own column, hit $sx%.2f")
    assert(sy >= 0.95,
      f"x-sort leaves y at full domain per file (hit $sy%.2f) — the gap " +
      "z-order exists to close")
  }

  test("compact(clusterBy) z-orders the new base; snapshot content unchanged") {
    val root = s"$base/txn"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
    TxnMergeOnRead.create(spark, root, data())
    TxnMergeOnRead.update(spark, root, Seq("x" -> "x + 1"), "k % 1000 = 0")
    val before = TxnMergeOnRead.read(spark, root).orderBy("k").collect().toSeq
    def baseDirs(): Set[String] = new File(root).listFiles()
      .filter(f => f.getName.startsWith("base_") && f.isDirectory)
      .map(_.getAbsolutePath).toSet
    val pre = baseDirs()
    assert(TxnMergeOnRead.compact(spark, root,
      clusterBy = Seq("x", "y"), clusterFiles = 32))
    assert(TxnMergeOnRead.read(spark, root).orderBy("k").collect()
      .toSeq === before, "clustered compaction must not change content")
    // the new base's layout has the z property on both dimensions.
    // Identify it by set difference, not mtime (mtime ties under load).
    val baseDir = (baseDirs() -- pre).head
    val fx = hitFraction(fileRanges(baseDir, "x"), 40000L, 42000L)
    val fy = hitFraction(fileRanges(baseDir, "y"), 40000L, 42000L)
    // Threshold has slack for sampling variance: RangePartitioner seeds
    // its per-partition reservoir from the RDD ID (byteswap32(idx ^
    // (rdd.id << 16))), which depends on how many RDDs the shared session
    // created before this test — so the exact file geometry drifts a few
    // files across suite orderings (r14's flake; reproduced r17 at
    // 0.40625 vs the old 0.40 gate). The CONTRACT is the structural gap:
    // both dimensions skip most files where a single-column sort leaves
    // the non-leading dimension at 1.0 (asserted by the sibling test).
    assert(fx <= 0.45 && fy <= 0.45,
      f"clustered base should skip on both dims, hit x=$fx%.2f y=$fy%.2f")
    // and deltas stack on it as usual
    TxnMergeOnRead.delete(spark, root, "k < 10")
    assert(TxnMergeOnRead.read(spark, root).count() === 100000 - 10)
  }

  test("negative domains and heavy skew preserve content exactly") {
    val df = spark.range(0, 5000, 1, 8).select(col("id").as("k"),
      (col("id") * 37 % 1000 - 500).as("x"), // negative range
      when(col("id") % 100 === 0, col("id") * 1000000L)
        .otherwise(lit(1L)).as("y"))         // 99% of mass in one bucket
    val out = s"$base/negskew"
    ZOrder.cluster(df, Seq("x", "y"), numFiles = 8).write.parquet(out)
    assert(spark.read.parquet(out).orderBy("k").collect().toSeq ===
      df.orderBy("k").collect().toSeq,
      "clustering is a physical reorder only, for any domain shape")
  }

  test("NULLs, constant columns, and skew do not break the build") {
    val df = spark.range(0, 1000, 1, 4).select(col("id").as("k"),
      when(col("id") % 10 === 0, lit(null)).otherwise(col("id")).as("x"),
      lit(7L).as("c"))
    val out = s"$base/nulls"
    ZOrder.cluster(df, Seq("x", "c"), numFiles = 4).write.parquet(out)
    assert(spark.read.parquet(out).count() === 1000)
    assert(spark.read.parquet(out).filter(col("x").isNull).count() === 100)
  }

  test("DATE columns cluster as a real dimension (regression: date→double" +
      " casts NULL, which silently collapsed the dimension)") {
    val df = spark.range(0, 3000, 1, 8).select(col("id").as("k"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("id") % 30).cast("int")).as("d"),
      (col("id") * 13 % 997).as("u"))
    val out = s"$base/dates"
    ZOrder.cluster(df, Seq("d", "u"), numFiles = 16).write.parquet(out)
    // a 5-of-30-day slice must leave whole files untouched: per-file date
    // ranges are narrow iff the date dimension really took part
    val files = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min("d").as("lo"), max("d").as("hi")).collect()
    val band = (java.sql.Date.valueOf("2024-01-10"),
      java.sql.Date.valueOf("2024-01-14"))
    val overlapping = files.count(r =>
      !r.getDate(1).after(band._2) && !r.getDate(2).before(band._1))
    // range-partitioned writes guarantee AT MOST numFiles non-empty files,
    // never an exact count (an empty range slot writes nothing) — assert
    // the contract, not one run's geometry
    assert(files.length >= 8 && files.length <= 16,
      s"expected 8..16 z-ordered files, got ${files.length}")
    assert(overlapping < files.length,
      s"date band overlaps all $overlapping/${files.length} files — " +
        "the date dimension did not participate in the z-order")
    assert(spark.read.parquet(out).count() === 3000)
  }
}
