package graft

import java.io.File

import graft.operators.{DataSkipping, TxnMergeOnRead}
import graft.operators.DataSkipping.Band
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** File-level min/max data skipping ([[graft.operators.DataSkipping]] and
  * its [[graft.operators.TxnMergeOnRead]] integration). The invariant under
  * test everywhere: a pruned read EQUALS the unpruned filtered read — stats
  * may only skip files that provably cannot match — while `survivors` /
  * `scanProfile` prove that skipping actually happened. Degradation paths
  * (no sidecar, band column unknown to the sidecar, all-NULL bounds,
  * columns added after a file was written) must fall back to scanning,
  * never to a wrong answer.
  */
class DataSkippingSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 8, appName = "graft-skip")

  override def afterAll(): Unit = spark.stop()

  private val base = s"${Engine.scratchRoot}/skipspec"

  private def fresh(name: String): String = {
    val p = s"$base/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(p))
    p
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** 1000 rows written as 10 range-partitioned files: file i holds keys
    * [100i, 100i+100), so per-file key stats are tight and disjoint. */
  private def writeClustered(path: String): Unit = {
    spark.range(0, 1000)
      .select(col("id").as("k"), (col("id") % 7).as("m"),
        concat(lit("s"), col("id")).as("s"))
      .repartitionByRange(10, col("k"))
      .write.parquet(path)
    DataSkipping.collect(spark, path)
  }

  test("survivors prunes disjoint files; pruned read equals filtered scan") {
    val p = fresh("plain")
    writeClustered(p)
    val bands = Seq(Band("k", 250L, 349L))
    val surv = DataSkipping.survivors(spark, p, bands)
    assert(surv.isDefined && surv.get.size <= 2,
      s"10 range-partitioned files, band spans 2: got $surv")
    assert(rows(DataSkipping.readPruned(spark, p, bands)) ==
      rows(spark.read.parquet(p).filter(col("k").between(250, 349))))
  }

  test("multi-band AND tightens pruning; residual filter still applies") {
    val p = fresh("multi")
    writeClustered(p)
    // m's per-file range is the full domain [0,6] (id % 7 everywhere), so
    // the m band prunes nothing by itself — but rows failing it must STILL
    // be filtered out of the surviving k files
    val bands = Seq(Band("k", 0L, 99L), Band("m", 2L, 3L))
    assert(rows(DataSkipping.readPruned(spark, p, bands)) ==
      rows(spark.read.parquet(p)
        .filter(col("k").between(0, 99) && col("m").between(2, 3))))
  }

  test("no sidecar or unknown band column degrade to full scan, not error") {
    val p = fresh("nosc")
    spark.range(0, 100).select(col("id").as("k"))
      .write.parquet(p) // no collect()
    assert(DataSkipping.survivors(spark, p, Seq(Band("k", 1L, 2L))).isEmpty)
    assert(DataSkipping.readPruned(spark, p, Seq(Band("k", 10L, 19L)))
      .count() == 10L)
    DataSkipping.collect(spark, p)
    // sidecar exists but knows no column named "zz" -> no usable constraint
    assert(DataSkipping.survivors(spark, p, Seq(Band("zz", 1L, 2L))).isEmpty)
  }

  test("an all-NULL file is skipped for a range band (range rejects NULL)") {
    val p = fresh("nulls")
    spark.range(0, 50).select(col("id").as("k"), col("id").as("v"))
      .coalesce(1).write.parquet(p)
    spark.range(0, 50).select(col("id").as("k"),
      lit(null).cast("bigint").as("v"))
      .coalesce(1).write.mode("append").parquet(p)
    DataSkipping.collect(spark, p)
    val surv = DataSkipping.survivors(spark, p, Seq(Band("v", 10L, 20L)))
    assert(surv.get.size == 1, s"the all-NULL-v file must be skipped: $surv")
    assert(DataSkipping.readPruned(spark, p, Seq(Band("v", 10L, 20L)))
      .count() == 11L)
  }

  test("txn table: pruned snapshot equals filtered read across deltas and deletes") {
    val root = fresh("txn")
    val src = spark.range(0, 900)
      .select(col("id").as("k"), (col("id") * 2).as("v"))
    TxnMergeOnRead.create(spark, root, src.filter(col("k") < 300))
    TxnMergeOnRead.insert(spark, root, src.filter(col("k").between(300, 599)))
    TxnMergeOnRead.insert(spark, root, src.filter(col("k") >= 600))
    TxnMergeOnRead.delete(spark, root, "k % 10 = 0")
    TxnMergeOnRead.analyze(spark, root)
    val bands = Seq(Band("k", 350L, 449L))
    val (kept, total) = TxnMergeOnRead.scanProfile(spark, root, bands)
    assert(kept < total, s"band inside one delta must skip files: $kept/$total")
    assert(rows(TxnMergeOnRead.readPruned(spark, root, bands)) ==
      rows(TxnMergeOnRead.read(spark, root).filter(col("k").between(350, 449))))
  }

  test("txn table: Bloom point lookup prunes files, deletes still erase," +
      " updates visible, no-sidecar degrades") {
    val root = fresh("txnbloom")
    val src = spark.range(0, 900)
      .select(col("id").as("k"), (col("id") * 2).as("v"))
    TxnMergeOnRead.create(spark, root, src.filter(col("k") < 300))
    TxnMergeOnRead.insert(spark, root, src.filter(col("k") >= 300))
    TxnMergeOnRead.update(spark, root, Seq("v" -> "v + 1"), "k = 42")
    TxnMergeOnRead.delete(spark, root, "k = 77")
    // degradation first: no sidecars anywhere → full scan, right answer
    val keys = Seq(42L, 77L, 650L)
    assert(rows(TxnMergeOnRead.readPrunedPoint(spark, root, "k", keys)) ==
      rows(TxnMergeOnRead.read(spark, root).filter(col("k").isin(keys: _*))))
    TxnMergeOnRead.analyzeBloom(spark, root, Seq("k"))
    val (kept, total) = TxnMergeOnRead.scanProfilePoint(spark, root, "k", keys)
    assert(kept < total, s"point probe must prune: $kept/$total")
    val got = TxnMergeOnRead.readPrunedPoint(spark, root, "k", keys)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(42L -> 85L, 650L -> 1300L)) // 77 deleted; 42 updated
  }

  test("txn table: band on a column added after old files were written") {
    val root = fresh("addcol")
    TxnMergeOnRead.create(spark, root,
      spark.range(0, 100).select(col("id").as("k")))
    TxnMergeOnRead.addColumns(spark, root, Seq("w" -> "bigint"))
    TxnMergeOnRead.insert(spark, root,
      spark.range(100, 200).select(col("id").as("k"), (col("id") * 3).as("w")))
    TxnMergeOnRead.analyze(spark, root)
    // old base files have no w: NULL-filled rows are rejected by the band,
    // and the base (whose sidecar predates w) is scanned, not mis-pruned
    assert(rows(TxnMergeOnRead.readPruned(spark, root, Seq(Band("w", 300L, 360L)))) ==
      rows(TxnMergeOnRead.read(spark, root).filter(col("w").between(300, 360))))
  }

  test("z-order compaction: 2-D band prunes the rewritten base's files") {
    val root = fresh("zorder")
    TxnMergeOnRead.create(spark, root,
      spark.range(0, 20000).select(col("id").as("k"),
        (col("id") % 141).as("x"), ((col("id") * 7919) % 997).as("y")))
    assert(TxnMergeOnRead.compact(spark, root,
      clusterBy = Seq("x", "y"), clusterFiles = 16))
    val bands = Seq(Band("x", 10L, 30L), Band("y", 100L, 200L))
    val (kept, total) = TxnMergeOnRead.scanProfile(spark, root, bands)
    assert(total == 16 && kept < total,
      s"2-D band over a z-ordered base must skip files: $kept/$total")
    assert(rows(TxnMergeOnRead.readPruned(spark, root, bands)) ==
      rows(TxnMergeOnRead.read(spark, root)
        .filter(col("x").between(10, 30) && col("y").between(100, 200))))
  }

  test("footer fast path fires and writes the SAME sidecar as the aggregate") {
    val p = fresh("footer")
    import java.sql.Timestamp
    val df = spark.range(0, 400)
      .select(col("id").as("k"), // bigint
        col("id").cast("int").as("i"),
        (col("id") * 1.5).as("d"),
        concat(lit("s"), lpad(col("id").cast("string"), 4, "0")).as("s"),
        when(col("id") % 5 === 0, lit(null).cast("double"))
          .otherwise(col("id") * 0.1).as("dn"), // mixed nulls
        lit(null).cast("string").as("an"), // all-NULL column
        date_add(lit("2024-01-01").cast("date"),
          col("id").cast("int")).as("dt"),
        timestamp_micros(
          lit(1704067200000000L) + col("id") * 1000000L).as("ts"),
        (col("id") % 2 === 0).as("b"))
      .repartitionByRange(4, col("k"))
    df.write.parquet(p)
    DataSkipping.collect(spark, p)
    assert(DataSkipping.lastCollectUsedFooters,
      "footer fast path must fire for int/long/double/string/date/ts/bool")
    val fromFooters = rows(spark.read.parquet(s"$p/${DataSkipping.STATS_DIR}"))
    // recompute via the exact fallback aggregate and compare VALUES
    val cols = spark.read.parquet(p).schema.fields
    val aggs = count(lit(1)).as("cnt") +: cols.toSeq.flatMap(c => Seq(
      min(col(s"`${c.name}`")).as(s"min_${c.name}"),
      max(col(s"`${c.name}`")).as(s"max_${c.name}")))
    val agg = spark.read.parquet(p)
      .groupBy(element_at(split(input_file_name(), "/"), -1).as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .select(fromFooters.headOption.map(_ => col("*")).getOrElse(col("*")))
    val sidecarCols = spark.read.parquet(s"$p/${DataSkipping.STATS_DIR}").columns
    assert(rows(agg.select(sidecarCols.map(col): _*)) == fromFooters,
      "footer-derived sidecar must be value-identical to the aggregate's")
    // and pruning over it behaves: band inside one range file + string band
    assert(rows(DataSkipping.readPruned(spark, p, Seq(Band("k", 150L, 180L)))) ==
      rows(spark.read.parquet(p).filter(col("k").between(150, 180))))
    assert(rows(DataSkipping.readPruned(spark, p,
        Seq(Band("s", "s0150", "s0180")))) ==
      rows(spark.read.parquet(p)
        .filter(col("s").between("s0150", "s0180"))))
    val surv = DataSkipping.survivors(spark, p, Seq(Band("k", 150L, 180L)))
    assert(surv.get.size == 1, s"one range file must survive: $surv")
  }

  test("footer path covers decimal (all three physical forms), value-identical") {
    val p = fresh("footerdec")
    // decimal(8,2) → INT32, decimal(12,2) → INT64, decimal(22,4) → FLBA:
    // all three parquet physical encodings of DECIMAL in one file set,
    // plus a mixed-null lane — the footer path must decode every one
    // exactly or abandon the whole dir (it must NOT fall back here)
    spark.range(0, 100)
      .select(col("id").as("k"),
        (col("id") * 10).cast("decimal(8,2)").as("d32"),
        (col("id") * 10).cast("decimal(12,2)").as("d64"),
        ((col("id") - 50) * 10000000000L).cast("decimal(22,4)").as("dfx"),
        when(col("id") % 3 === 0, lit(null).cast("decimal(10,2)"))
          .otherwise((col("id") - 50).cast("decimal(10,2)")).as("dn"))
      .repartitionByRange(2, col("k"))
      .write.parquet(p)
    DataSkipping.collect(spark, p)
    assert(DataSkipping.lastCollectUsedFooters,
      "decimal columns must ride the footer fast path (r18)")
    val fromFooters = rows(spark.read.parquet(s"$p/${DataSkipping.STATS_DIR}"))
    val cols = spark.read.parquet(p).schema.fields
    val aggs = count(lit(1)).as("cnt") +: cols.toSeq.flatMap(c => Seq(
      min(col(s"`${c.name}`")).as(s"min_${c.name}"),
      max(col(s"`${c.name}`")).as(s"max_${c.name}")))
    val sidecarCols = spark.read.parquet(s"$p/${DataSkipping.STATS_DIR}").columns
    val agg = spark.read.parquet(p)
      .groupBy(element_at(split(input_file_name(), "/"), -1).as("file"))
      .agg(aggs.head, aggs.tail: _*)
    assert(rows(agg.select(sidecarCols.map(col): _*)) == fromFooters,
      "footer-derived decimal sidecar must be value-identical to the aggregate's")
    // pruning on the decimal band itself (negative FLBA bounds included)
    assert(rows(DataSkipping.readPruned(spark, p,
        Seq(Band("d64", new java.math.BigDecimal("100.00"),
          new java.math.BigDecimal("200.00"))))) ==
      rows(spark.read.parquet(p)
        .filter(col("d64").between(100, 200))))
    val surv = DataSkipping.survivors(spark, p,
      Seq(Band("d64", new java.math.BigDecimal("100.00"),
        new java.math.BigDecimal("200.00"))))
    assert(surv.get.size == 1, s"one range file must survive: $surv")
  }

  test("minor compaction writes stats for its folded delta") {
    val root = fresh("minor")
    TxnMergeOnRead.create(spark, root,
      spark.range(0, 100).select(col("id").as("k"), lit(0L).as("v")))
    TxnMergeOnRead.insert(spark, root,
      spark.range(100, 200).select(col("id").as("k"), lit(1L).as("v")))
    TxnMergeOnRead.insert(spark, root,
      spark.range(200, 300).select(col("id").as("k"), lit(2L).as("v")))
    assert(TxnMergeOnRead.compactMinor(spark, root))
    // base stats written by create; folded-delta stats by compactMinor —
    // no analyze() call anywhere, yet the whole snapshot is stats-covered:
    // a band outside the fold's k range prunes it
    val (kept, total) = TxnMergeOnRead.scanProfile(spark, root, Seq(Band("k", 0L, 50L)))
    assert(kept < total, s"folded delta must be stats-pruned: $kept/$total")
    assert(TxnMergeOnRead.readPruned(spark, root, Seq(Band("k", 0L, 50L)))
      .count() == 51L)
  }
}
