package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{ColumnBridge => CB}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{KvDecodeFixed, KvEncodeFixed}
import graft.sources.KvStorageHandler
import graft.sources.KvStorageHandler._

/** KV storage-handler semantics (the reference's HBase/Accumulo handler
  * surface): column-mapping parse rules against `ColumnMappings.java`,
  * fixed-width binary codec round-trips (HBase `Bytes.toBytes` widths),
  * predicate decomposition (`HBaseStorageHandler.decomposePredicate` /
  * `HBaseScanRange`), LSM Put/Delete visibility at cell/family/row
  * granularity, family-map columns with qualifier prefixes
  * (`LazyHBaseCellMap`), manifest-driven region pruning, and major-compaction
  * invariance. */
class KvHandlerSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 4, appName = "graft-kv")

  override def afterAll(): Unit = spark.stop()

  private def tmp(name: String): String = {
    val d = s"${Engine.scratchRoot}/kvspec/$name"
    val p = new org.apache.hadoop.fs.Path(d)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (f.exists(p)) f.delete(p, true)
    d
  }

  // ------------------------------------------------------------ byte codecs

  test("fixed-width binary codec round-trips every supported type, negatives included") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, -42L, 7, -7, 3.25, -0.125f, true, (-2: Short)))
      .toDF("a", "b", "c", "d", "e", "f", "g", "h")
    def rt(c: String, t: DataType) = CB.column(KvDecodeFixed(
      CB.expression(CB.column(KvEncodeFixed(CB.expression(col(c))))), t))
    val r = df.select(rt("a", LongType), rt("b", LongType), rt("c", IntegerType),
      rt("d", IntegerType), rt("e", DoubleType), rt("f", FloatType),
      rt("g", BooleanType), rt("h", ShortType)).head()
    assert(r.getLong(0) == 1L && r.getLong(1) == -42L)
    assert(r.getInt(2) == 7 && r.getInt(3) == -7)
    assert(r.getDouble(4) == 3.25 && r.getFloat(5) == -0.125f)
    assert(r.getBoolean(6) && r.getShort(7) == (-2: Short))
  }

  test("binary codec widths match HBase Bytes.toBytes; width mismatch raises") {
    val s = spark
    import s.implicits._
    val widths = Seq(1L).toDF("v").select(
      length(CB.column(KvEncodeFixed(CB.expression(col("v"))))).as("l8"),
      length(CB.column(KvEncodeFixed(CB.expression(col("v").cast("int"))))).as("l4"),
      length(CB.column(KvEncodeFixed(CB.expression(col("v").cast("short"))))).as("l2"),
      length(CB.column(KvEncodeFixed(CB.expression(col("v").cast("boolean"))))).as("l1"))
      .head()
    assert(widths.getInt(0) == 8 && widths.getInt(1) == 4 &&
      widths.getInt(2) == 2 && widths.getInt(3) == 1)
    val ex = intercept[Exception] {
      Seq(Array[Byte](1, 2, 3)).toDF("v")
        .select(CB.column(KvDecodeFixed(CB.expression(col("v")), LongType))).collect()
    }
    assert(ex.getMessage.contains("expected 8 bytes") ||
      Option(ex.getCause).exists(_.getMessage.contains("expected 8 bytes")))
  }

  // ---------------------------------------------------------- mapping parse

  private val schema3 = StructType(Seq(StructField("k", StringType),
    StructField("a", LongType), StructField("m", MapType(StringType, StringType))))

  test("mapping parse: key/cell/family-map/prefix/storage specifiers") {
    val m = parseMapping(schema3, ":key,f:a#b,f:pre.*")
    assert(m.keyCol == "k")
    assert(m.scalars == Seq(ScalarCell("a", "f", "a", binary = true, LongType)))
    assert(m.maps == Seq(FamilyMap("m", "f", "pre.", binary = false, StringType)))
    val m2 = parseMapping(schema3, ":key,f:a,f:*")
    assert(!m2.scalars.head.binary && m2.maps.head.qualPrefix == "")
  }

  test("mapping parse rejects what ColumnMappings rejects") {
    // entry-count mismatch
    assertThrows[IllegalArgumentException](parseMapping(schema3, ":key,f:a"))
    // duplicate :key
    assertThrows[IllegalArgumentException](parseMapping(schema3, ":key,:key,f:*"))
    // family map over a non-map column
    assertThrows[IllegalArgumentException](parseMapping(schema3, ":key,f:*,m:*"))
    // #b on a string scalar
    val s2 = StructType(Seq(StructField("k", StringType), StructField("s", StringType),
      StructField("m", MapType(StringType, StringType))))
    assertThrows[IllegalArgumentException](parseMapping(s2, ":key,f:s#b,f:*"))
    // :timestamp must be BIGINT
    assertThrows[IllegalArgumentException](parseMapping(
      StructType(Seq(StructField("k", StringType), StructField("t", StringType),
        StructField("a", LongType))), ":key,:timestamp,f:a"))
    // no :key at all
    assertThrows[IllegalArgumentException](parseMapping(
      StructType(schema3.fields.take(2)), "f:x,f:a"))
  }

  // ------------------------------------------------------- decompose

  test("decomposePredicate: range, points, mirrored literals, residual, OR stays residual") {
    // range + residual
    val (kf1, r1) = decomposeKeyPredicate(
      col("k") >= "b" && col("k") < "m" && col("x") === 1, "k")
    assert(kf1.lower.contains(("b", true)) && kf1.upper.contains(("m", false)))
    assert(kf1.points.isEmpty && r1.isDefined)
    // IN -> points; intersected with a range
    val (kf2, _) = decomposeKeyPredicate(
      col("k").isin("a", "c", "x") && col("k") <= "d", "k")
    assert(kf2.points.contains(Seq("a", "c", "x")))
    assert(!kf2.admitsKey("x") && kf2.admitsKey("c"))
    // mirrored literal-first bound: lit <= key is a lower bound
    val (kf3, r3) = decomposeKeyPredicate(lit("g") <= col("k"), "k")
    assert(kf3.lower.contains(("g", true)) && r3.isEmpty)
    // OR goes residual whole (IndexPredicateAnalyzer sends disjunctions back)
    val (kf4, r4) = decomposeKeyPredicate(col("k") === "a" || col("x") === 1, "k")
    assert(kf4.isFullScan && r4.isDefined)
    // non-key predicate: full scan, all residual
    val (kf5, _) = decomposeKeyPredicate(col("x") =!= 2, "k")
    assert(kf5.isFullScan)
    // BETWEEN desugars to >= AND <= and decomposes to the closed range
    val (kf6, r6) = decomposeKeyPredicate(col("k").between("c", "f"), "k")
    assert(kf6.lower.contains(("c", true)) && kf6.upper.contains(("f", true)))
    assert(r6.isEmpty)
    // OR of key points stays residual WHOLE — the reference sends every
    // disjunction back (IndexPredicateAnalyzer), relying on the re-check
    val (kf7, r7) = decomposeKeyPredicate(col("k") === "a" || col("k") === "b", "k")
    assert(kf7.isFullScan && r7.isDefined)
    // a :timestamp-mapped (version) conjunct is residual; the key bound
    // still decomposes beside it
    val (kf8, r8) = decomposeKeyPredicate(col("k") >= "b" && col("ver") > 1L, "k")
    assert(kf8.lower.contains(("b", true)) && r8.isDefined)
    // intersect tightening: two lower bounds keep the byte-wise max; at an
    // equal bound the exclusive one wins
    val (kf9, _) = decomposeKeyPredicate(col("k") >= "b" && col("k") > "b", "k")
    assert(kf9.lower.contains(("b", false)))
  }

  test("OR-of-ranges: union decomposition prunes per disjunct, gap files skipped") {
    // decompose shape: two clean ranges, no residual (both branches captured)
    val (kfs, r) = decomposeKeyDisjuncts(
      col("k").between("b", "d") || col("k").between("p", "r"), "k")
    assert(kfs.size == 2 && r.isEmpty)
    assert(kfs.exists(f => f.lower.contains(("b", true)) && f.upper.contains(("d", true))))
    assert(kfs.exists(f => f.lower.contains(("p", true)) && f.upper.contains(("r", true))))
    // OR with an uncaptured branch: that branch's filter is full (sound),
    // and the whole OR stays residual for the re-check
    val (kfs2, r2) = decomposeKeyDisjuncts(col("k") === "a" || col("x") === 1, "k")
    assert(kfs2.exists(_.isFullScan) && r2.isDefined)
    // AND distributes pairwise over the union; the conjunct stays residual
    val (kfs3, r3) = decomposeKeyDisjuncts(
      (col("k") < "c" || col("k").isin("x", "y")) && col("v") > 5, "k")
    assert(kfs3.size == 2 && r3.isDefined)
    // the single-filter surface keeps the reference's exact contract
    val (kfOld, rOld) = decomposeKeyPredicate(
      col("k").between("b", "d") || col("k").between("p", "r"), "k")
    assert(kfOld.isFullScan && rOld.isDefined)
    // a NON-KEY disjunction beside a key bound must not cost the bound:
    // both OR branches decompose to the full filter, which dedups away in
    // the AND cross product — the r13 single-filter behavior is preserved
    // (the bound prunes, the OR re-checks as residual)
    val (kfMix, rMix) = decomposeKeyPredicate(
      col("k") >= "g" && (col("x") === 1 || col("y") === 2), "k")
    assert(kfMix.lower.contains(("g", true)) && rMix.isDefined,
      s"key bound must survive a non-key OR conjunct, got $kfMix")
    val (kfsMix, _) = decomposeKeyDisjuncts(
      col("k") >= "g" && (col("x") === 1 || col("y") === 2), "k")
    assert(kfsMix.size == 1, "duplicate disjuncts must dedup")

    // store level: a 2-range OR scans ≤ the sum of the two covering file
    // sets and strictly less than the store (the gap is never read)
    val s = spark
    import s.implicits._
    val root = tmp("orprune")
    val m = parseMapping(
      StructType(Seq(StructField("k", StringType), StructField("a", LongType))),
      ":key,f:a#b")
    put(spark, root, (1 to 400).map(i => (f"$i%06d", i.toLong)).toDF("k", "a"),
      m, regions = 8)
    val ra = col("k").between(f"${20}%06d", f"${70}%06d")
    val rb = col("k").between(f"${300}%06d", f"${350}%06d")
    val (u, ur) = decomposeKeyDisjuncts(ra || rb, "k")
    assert(u.size == 2 && ur.isEmpty)
    val pu = scanProfileUnion(spark, root, u)
    val pa = scanProfile(spark, root, decomposeKeyPredicate(ra, "k")._1)
    val pb = scanProfile(spark, root, decomposeKeyPredicate(rb, "k")._1)
    assert(pu._1 <= pa._1 + pb._1,
      s"union scanned ${pu._1} > covering sets ${pa._1}+${pb._1}")
    assert(pu._1 < pu._2, s"gap files must be skipped, scanned $pu")
    // the pruned scan returns exactly the union's rows
    assert(scan(spark, root, m, ra || rb).count() == 51 + 51)
  }

  test("KeyFilter file admission matches interval intersection") {
    val range = KeyFilter(None, Some(("c", true)), Some(("f", false)))
    assert(range.admitsFile("a", "d")) // overlaps [c, f)
    assert(!range.admitsFile("a", "b")) // below
    assert(!range.admitsFile("f", "z")) // at the exclusive stop
    val pts = KeyFilter.points(Seq("e"))
    assert(pts.admitsFile("d", "f") && !pts.admitsFile("a", "c"))
  }

  // ----------------------------------------------- LSM visibility semantics

  private def mkTable(name: String): (String, KvMapping) = {
    val s = spark
    import s.implicits._
    val root = tmp(name)
    val m = parseMapping(
      StructType(Seq(StructField("k", StringType), StructField("ver", LongType),
        StructField("a", LongType), StructField("b", StringType))),
      ":key,:timestamp,f:a#b,g:b")
    val g1 = Seq(("k1", 0L, 1L, "one"), ("k2", 0L, 2L, "two"), ("k3", 0L, 3L, "three"))
      .toDF("k", "ver", "a", "b")
    put(spark, root, g1, m, regions = 2)
    (root, m)
  }

  test("put/overwrite: latest generation wins per cell; :timestamp is the winning version") {
    val s = spark
    import s.implicits._
    val (root, m) = mkTable("lsm1")
    val partial = parseMapping(
      StructType(Seq(StructField("k", StringType), StructField("a", LongType))),
      ":key,f:a#b")
    put(spark, root, Seq(("k2", 20L)).toDF("k", "a"), partial, regions = 2)
    val got = read(spark, root, m).orderBy("k").collect()
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq ==
      Seq(("k1", 1L, 1L, "one"), ("k2", 2L, 20L, "two"), ("k3", 1L, 3L, "three")))
  }

  test("null scalar writes no cell; the column reads back NULL; all-null row does not exist") {
    val s = spark
    import s.implicits._
    val root = tmp("lsm-null")
    val m = parseMapping(
      StructType(Seq(StructField("k", StringType), StructField("a", LongType),
        StructField("b", StringType))), ":key,f:a#b,g:b")
    put(spark, root,
      Seq(("k1", Some(1L), Option("x")), ("k2", None, Option("y")),
        ("k3", Option.empty[Long], Option.empty[String]))
        .toDF("k", "a", "b"), m, regions = 1)
    val got = read(spark, root, m).orderBy("k").collect()
    // k3 wrote zero cells -> no row (HBase row existence = has a cell)
    assert(got.length == 2)
    assert(got(1).getString(0) == "k2" && got(1).isNullAt(1) && got(1).getString(2) == "y")
  }

  test("delete granularity: cell masks one column, family masks its columns, row masks all") {
    val s = spark
    import s.implicits._
    val (root, m) = mkTable("lsm2")
    deleteCells(spark, root, Seq("k1").toDF("k"), "k", "f", "a", regions = 1)
    deleteFamily(spark, root, Seq("k2").toDF("k"), "k", "g", regions = 1)
    deleteRows(spark, root, Seq("k3").toDF("k"), "k", regions = 1)
    val got = read(spark, root, m).orderBy("k").collect()
    assert(got.length == 2)
    assert(got(0).getString(0) == "k1" && got(0).isNullAt(2) && got(0).getString(3) == "one")
    assert(got(1).getString(0) == "k2" && got(1).getLong(2) == 2L && got(1).isNullAt(3))
  }

  test("a put NEWER than the tombstone resurrects the cell (ts > marker.ts survives)") {
    val s = spark
    import s.implicits._
    val (root, m) = mkTable("lsm3")
    deleteRows(spark, root, Seq("k1").toDF("k"), "k", regions = 1)
    val partial = parseMapping(
      StructType(Seq(StructField("k", StringType), StructField("a", LongType))),
      ":key,f:a#b")
    put(spark, root, Seq(("k1", 11L)).toDF("k", "a"), partial, regions = 1)
    val got = read(spark, root, m).filter(col("k") === "k1").collect()
    // resurrected with only the re-put cell; the masked g:b stays dead
    assert(got.length == 1 && got(0).getLong(2) == 11L && got(0).isNullAt(3))
  }

  // ------------------------------------------------- time-range scans

  test("decomposeTsRange mirrors setupTimeRange: =, <, <=, >, >=, mirrored, conjunct intersection") {
    def d(c: org.apache.spark.sql.Column) = decomposeTsRange(c, "ver")
    assert(d(col("ver") === 2L) == TsRange(2L, 3L))
    assert(d(col("ver") < 5L) == TsRange(Long.MinValue, 5L))
    assert(d(col("ver") <= 2) == TsRange(Long.MinValue, 3L)) // int literal widens
    assert(d(col("ver") > 1L) == TsRange(2L, Long.MaxValue))
    assert(d(col("ver") >= 2L) == TsRange(2L, Long.MaxValue))
    assert(d(lit(2L) <= col("ver")) == TsRange(2L, Long.MaxValue)) // mirrored lower
    assert(d(col("ver") >= 2L && col("ver") < 4L) == TsRange(2L, 4L))
    // key conjuncts contribute nothing; ts conjuncts under OR stay residual
    assert(d(col("k") >= "a" && col("ver") >= 2L) == TsRange(2L, Long.MaxValue))
    assert(d(col("ver") === 2L || col("ver") === 3L) == TsRange.full)
    assert(d(col("other") === 2L) == TsRange.full)
    assert(d(col("ver") === col("other")) == TsRange.full) // non-literal comparand
  }

  test("ts <= T scans as-of T: the pre-rewrite version surfaces, not row disappearance") {
    val s = spark
    import s.implicits._
    val (root, m) = mkTable("tsr1") // gen 1: k1=1/one k2=2/two k3=3/three
    val partial = parseMapping(
      StructType(Seq(StructField("k", StringType), StructField("a", LongType))),
      ":key,f:a#b")
    put(spark, root, Seq(("k2", 20L)).toDF("k", "a"), partial, regions = 1) // gen 2
    put(spark, root, Seq(("k2", 200L), ("k3", 300L)).toDF("k", "a"), partial, regions = 1) // gen 3
    // latest view: k2 -> 200 (ver 3); as-of gen 2: k2 -> 20 (ver 2); as-of gen 1: k2 -> 1?? no: 2
    val asof2 = scan(spark, root, m, col("ver") <= 2L).orderBy("k").collect()
    assert(asof2.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("k1", 1L, 1L), ("k2", 2L, 20L), ("k3", 1L, 3L)))
    val asof1 = scan(spark, root, m, col("ver") === 1L).orderBy("k").collect()
    assert(asof1.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq ==
      Seq(("k1", 1L, 1L, "one"), ("k2", 1L, 2L, "two"), ("k3", 1L, 3L, "three")))
  }

  test("ts >= T hides out-of-range cells (NULL scalars) and drops rows with no in-range cell") {
    val s = spark
    import s.implicits._
    val (root, m) = mkTable("tsr2")
    val partial = parseMapping(
      StructType(Seq(StructField("k", StringType), StructField("a", LongType))),
      ":key,f:a#b")
    put(spark, root, Seq(("k2", 20L)).toDF("k", "a"), partial, regions = 1) // gen 2
    val since2 = scan(spark, root, m, col("ver") >= 2L).collect()
    // only k2 has a cell at gen >= 2; its g:b cell (gen 1) is out of range -> NULL
    assert(since2.length == 1)
    assert(since2(0).getString(0) == "k2" && since2(0).getLong(1) == 2L &&
      since2(0).getLong(2) == 20L && since2(0).isNullAt(3))
  }

  test("a tombstone NEWER than the range end still masks (HBase delete-tracker semantics)") {
    val s = spark
    import s.implicits._
    val (root, m) = mkTable("tsr3")
    deleteRows(spark, root, Seq("k1").toDF("k"), "k", regions = 1) // gen 2 tombstone
    // as-of gen 1 (range [min, 2)): k1's delete at gen 2 is after the range
    // end but still masks — HBase tracks markers withinOrAfterTimeRange
    val asof1 = scan(spark, root, m, col("ver") <= 1L).orderBy("k").collect()
    assert(asof1.map(_.getString(0)).toSeq == Seq("k2", "k3"))
  }

  // ----------------------------------------------- family maps + prefixes

  test("family-map column: full family, prefix slice, binary long values") {
    val s = spark
    import s.implicits._
    val root = tmp("fam")
    val wm = parseMapping(
      StructType(Seq(StructField("k", StringType),
        StructField("m", MapType(StringType, StringType)),
        StructField("z", MapType(StringType, LongType)))),
      ":key,a:*,n:*#b")
    put(spark, root, Seq(
      ("k1", Map("x" -> "1", "pre.y" -> "2"), Map("c" -> 10L)),
      ("k2", Map("pre.z" -> "3"), Map.empty[String, Long]))
      .toDF("k", "m", "z"), wm, regions = 1)
    val rm = parseMapping(
      StructType(Seq(StructField("k", StringType),
        StructField("m", MapType(StringType, StringType)),
        StructField("p", MapType(StringType, StringType)),
        StructField("z", MapType(StringType, LongType)))),
      ":key,a:*,a:pre.*,n:*#b")
    val got = read(spark, root, rm).orderBy("k").collect()
    assert(got(0).getMap[String, String](1).toSeq.sorted ==
      Seq("pre.y" -> "2", "x" -> "1"))
    assert(got(0).getMap[String, String](2).toSeq == Seq("y" -> "2")) // prefix stripped
    assert(got(0).getMap[String, Long](3).toSeq == Seq("c" -> 10L))
    assert(got(1).getMap[String, String](2).toSeq == Seq("z" -> "3"))
    assert(got(1).getMap[String, Long](3).isEmpty)
  }

  // ------------------------------------------------- pruning + compaction

  test("manifest pruning: point probe and range scan both skip region files; full scan does not") {
    val s = spark
    import s.implicits._
    val root = tmp("prune")
    val m = parseMapping(
      StructType(Seq(StructField("k", StringType), StructField("a", LongType))),
      ":key,f:a#b")
    val df = (1 to 400).map(i => (f"$i%06d", i.toLong)).toDF("k", "a")
    put(spark, root, df, m, regions = 8)
    val (kfPt, _) = decomposeKeyPredicate(col("k") === f"${7}%06d", "k")
    val pPt = scanProfile(spark, root, kfPt)
    assert(pPt._1 == 1 && pPt._2 == 8)
    val (kfR, _) = decomposeKeyPredicate(
      col("k") >= f"${100}%06d" && col("k") <= f"${160}%06d", "k")
    val pR = scanProfile(spark, root, kfR)
    assert(pR._1 < pR._2)
    assert(scanProfile(spark, root, KeyFilter.full) == ((8, 8)))
    // pruned scan returns exactly the admitted rows
    assert(scan(spark, root, m, col("k") >= f"${100}%06d" && col("k") <= f"${160}%06d")
      .count() == 61)
  }

  test("major compaction is result-invariant and drops masked data physically") {
    val s = spark
    import s.implicits._
    val root = tmp("compact")
    val m = parseMapping(
      StructType(Seq(StructField("k", StringType), StructField("a", LongType),
        StructField("b", StringType))), ":key,f:a#b,g:b")
    put(spark, root, (1 to 100).map(i => (f"$i%04d", i.toLong, s"v$i"))
      .toDF("k", "a", "b"), m, regions = 4)
    val partial = parseMapping(
      StructType(Seq(StructField("k", StringType), StructField("a", LongType))),
      ":key,f:a#b")
    put(spark, root, (1 to 100 by 3).map(i => (f"$i%04d", i * 100L))
      .toDF("k", "a"), partial, regions = 4)
    deleteRows(spark, root, (1 to 100 by 7).map(i => f"$i%04d").toDF("k"), "k", regions = 2)
    val before = read(spark, root, m).orderBy("k").collect().toSeq
    compact(spark, root, regions = 4)
    val after = read(spark, root, m).orderBy("k").collect().toSeq
    assert(before == after)
    // single live generation: a full scan now touches only the base files
    assert(scanProfile(spark, root, KeyFilter.full)._2 == 4)
    // masked data is physically gone from the base: the newest generation
    // (compaction output) holds only winner puts — no tombstones, no
    // superseded versions, exactly one cell per visible (k, f, q)
    val baseDir = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("gen-")).map(_.getName).sorted.last
    val base = spark.read.parquet(s"$root/$baseDir")
    assert(base.filter(col("del") =!= 0).count() == 0)
    assert(base.groupBy("k", "f", "q").count().filter(col("count") > 1).count() == 0)
    // deleted rows (1,8,...,92 then resurrect-free) are not in the base at all
    val deletedKeys = (1 to 100 by 7).map(i => f"$i%04d").toSet
    assert(base.filter(col("k").isin(deletedKeys.toSeq: _*)).count() == 0)
  }

  test("put into a claimed generation ordinal cannot double-commit (atomic manifest create)") {
    val s = spark
    import s.implicits._
    val root = tmp("race")
    val m = parseMapping(
      StructType(Seq(StructField("k", StringType), StructField("a", LongType))),
      ":key,f:a#b")
    put(spark, root, Seq(("k1", 1L)).toDF("k", "a"), m, regions = 1)
    // simulate the loser of a manifest race: creating gen 1's manifest again
    val p = new org.apache.hadoop.fs.Path(s"$root/_kv_manifest/00001.tsv")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assertThrows[java.io.IOException](f.create(p, false).close())
  }

  test("a crash at any filesystem mutation of an INSERT leaves the table at the old or the new generation") {
    val s = spark
    import s.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.crashfs.impl", classOf[CrashFs].getName)
    val m = parseMapping(
      StructType(Seq(StructField("k", StringType), StructField("a", LongType))),
      ":key,f:a#b")
    val before = Seq(("k1", 1L))
    val after = Seq(("k1", 1L), ("k2", 2L))
    /** A one-generation table on the crashing filesystem. */
    def fresh(): String = {
      val root = s"crashfs://${tmp("crash")}"
      put(spark, root, before.toDF("k", "a"), m, regions = 1)
      root
    }
    def insert(root: String): Unit =
      put(spark, root, Seq(("k2", 2L)).toDF("k", "a"), m, regions = 1)
    // a fresh session opens the table from its manifests alone
    def content(root: String): Seq[(String, Long)] =
      read(spark.newSession(), root, m).select("k", "a").as[(String, Long)]
        .collect().sorted.toSeq
    CrashFs.stepWrites = true
    try {
      val root = fresh()
      CrashFs.arm(Long.MaxValue) // count, never fail
      insert(root)
      val n = CrashFs.disarm()
      assert(content(root) === after)
      for (i <- 0L until n) {
        val root = fresh()
        CrashFs.arm(i)
        val crashed = try scala.util.Try(insert(root)) finally CrashFs.disarm()
        assert(crashed.isFailure, s"mutation $i of $n did not fail the INSERT")
        val got = scala.util.Try(content(root))
        assert(got.toOption.exists(r => r == before || r == after),
          s"crash at mutation $i of $n: the table reads $got")
      }
    } finally CrashFs.stepWrites = false
  }

  // ------------------------------------------------- visibility labels

  test("visibility expression grammar: labels, & over |, parens, rejects") {
    import KvStorageHandler.VisibilityExpr.visible
    assert(visible("", Set.empty)) // unlabeled: everyone
    assert(visible("public", Set("public")))
    assert(!visible("public", Set("pii")))
    assert(visible("pii&finance", Set("pii", "finance")))
    assert(!visible("pii&finance", Set("pii")))
    assert(visible("pii|finance", Set("finance")))
    assert(visible("a&(b|c)", Set("a", "c")))
    assert(!visible("a&(b|c)", Set("b", "c")))
    assert(visible("(a|b)&(c|d)", Set("b", "c")))
    intercept[IllegalArgumentException](visible("a&", Set("a")))
    intercept[IllegalArgumentException](visible("(a", Set("a")))
    assert(!visible("a b", Set("a")) && visible("a b", Set("ab"))) // spaces strip
    intercept[IllegalArgumentException](visible("&a", Set("a")))
  }

  test("visibility: auth filter applies AFTER versioning — an invisible newer version hides the cell") {
    val s = spark
    import s.implicits._
    val root = tmp("vis")
    val m = parseMapping(
      StructType(Seq(StructField("k", StringType), StructField("a", LongType),
        StructField("b", StringType))), ":key,f:a#b,f:b")
    put(spark, root, Seq(("k1", 1L, "pub1"), ("k2", 2L, "pub2")).toDF("k", "a", "b"),
      m, regions = 1, visibility = "public")
    // rewrite k1's a-cell under a restricted label (newer version)
    val aOnly = parseMapping(
      StructType(Seq(StructField("k", StringType), StructField("a", LongType))),
      ":key,f:a#b")
    put(spark, root, Seq(("k1", 100L)).toDF("k", "a"), aOnly,
      regions = 1, visibility = "pii&finance")
    // full-auth reader sees the newest version
    val all = read(spark, root, m, Some(Set("public", "pii", "finance")))
      .orderBy("k").collect()
    assert(all.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("k1", 100L), ("k2", 2L)))
    // public-only reader: k1's newest a-version is invisible and HIDES the
    // older public one (VisibilityFilter sits above the VersioningIterator)
    val pub = read(spark, root, m, Some(Set("public"))).orderBy("k").collect()
    assert(pub.map(r => (r.getString(0),
      if (r.isNullAt(1)) null else r.getLong(1), r.getString(2))).toSeq ==
      Seq(("k1", null, "pub1"), ("k2", 2L, "pub2")))
    // no auths at all: labeled cells all invisible; unlabeled-only view
    val none = read(spark, root, m, Some(Set.empty[String]))
    assert(none.count() == 0)
    // None = connector-user default (sees everything)
    assert(read(spark, root, m).count() == 2)
    // bad label expression rejected at write
    intercept[IllegalArgumentException](
      put(spark, root, Seq(("k3", 3L)).toDF("k", "a"), aOnly, visibility = "a&"))
  }

  test("visibility survives compaction (winners keep their labels)") {
    val s = spark
    import s.implicits._
    val root = tmp("viscompact")
    val m = parseMapping(
      StructType(Seq(StructField("k", StringType), StructField("a", LongType))),
      ":key,f:a#b")
    put(spark, root, (1 to 20).map(i => (f"k$i%03d", i.toLong)).toDF("k", "a"),
      m, regions = 2, visibility = "public")
    put(spark, root, (1 to 20 by 2).map(i => (f"k$i%03d", i * 10L)).toDF("k", "a"),
      m, regions = 2, visibility = "pii")
    val before = read(spark, root, m, Some(Set("public"))).orderBy("k").collect().toSeq
    compact(spark, root, regions = 2)
    val after = read(spark, root, m, Some(Set("public"))).orderBy("k").collect().toSeq
    assert(before == after, "auth-filtered view must be compaction-invariant")
    assert(read(spark, root, m, Some(Set("public", "pii"))).count() == 20)
  }

  // ------------------------------------------------- composite row keys

  test("composite struct key: round-trip, typed parts, prefix decomposition prunes") {
    val s = spark
    import s.implicits._
    val root = tmp("composite")
    val keyT = StructType(Seq(StructField("region", StringType),
      StructField("id", LongType)))
    val m = parseMapping(
      StructType(Seq(StructField("rk", keyT), StructField("a", LongType))),
      ":key,f:a#b")
    val rows = for (r <- Seq("east", "west"); i <- 1L to 50L) yield (r, i)
    put(spark, root,
      rows.toDF("region", "id")
        .select(struct(col("region"), lpad(col("id").cast("string"), 4, "0")
          .cast("string").as("id")).as("rk"), col("id").as("a")),
      m, regions = 4)
    // id parts stored zero-padded so string key order == numeric order; the
    // declared LONG field type casts them back on read (the reference has
    // the same caveat: raw-byte row keys sort bytewise, order-preserving
    // encodings are the user's job)
    val got = read(spark, root, m)
    assert(got.count() == 100)
    // struct column reconstructs with declared types
    val one = got.filter(col("rk.region") === "east" && col("rk.id") === 7L)
      .select("a").collect()
    assert(one.map(_.getLong(0)).toSeq == Seq(7L))
    // full equality on all parts -> a point
    val kfPoint = decomposeCompositePredicate(
      col("rk")("region") === "east" && col("rk")("id") === "0007", "rk", keyT)
    assert(kfPoint.points.exists(_ == Seq("east\u00010007")))
    // leading-field equality -> prefix range that prunes region files
    val kfPrefix = decomposeCompositePredicate(
      col("rk")("region") === "east" && col("a") > 10L, "rk", keyT)
    assert(kfPrefix.points.isEmpty && kfPrefix.lower.isDefined && kfPrefix.upper.isDefined)
    val p = scanProfile(spark, root, kfPrefix)
    assert(p._1 < p._2, s"prefix range must prune, scanned $p")
    // trailing-field-only equality decomposes nothing
    val kfTrail = decomposeCompositePredicate(col("rk")("id") === "0007", "rk", keyT)
    assert(kfTrail.isFullScan)
    // dotted form col("rk.region") works too
    val kfDot = decomposeCompositePredicate(col("rk.region") === "west", "rk", keyT)
    assert(kfDot.lower.isDefined)
    // null key part rejected at write
    intercept[Exception](put(spark, root,
      Seq((null.asInstanceOf[String], "x")).toDF("region", "id")
        .select(struct(col("region"), col("id")).as("rk"), lit(1L).as("a")), m))
    // a separator inside a part would shift later fields on read — rejected
    intercept[Exception](put(spark, root,
      Seq(("ea\u0001st", "x")).toDF("region", "id")
        .select(struct(col("region"), col("id")).as("rk"), lit(1L).as("a")), m))
    // a TYPED literal must not prune (parts are raw strings: the prefix
    // range for 7L would miss the zero-padded "0007" files) — it falls to
    // the full-scan + residual path, which stays correct
    val kfTyped = decomposeCompositePredicate(col("rk")("id") === 7L, "rk", keyT)
    assert(kfTyped.isFullScan)
    val kfTypedLead = decomposeCompositePredicate(
      col("rk")("region") === "east" && col("rk")("id") === 7L, "rk", keyT)
    assert(kfTypedLead.points.isEmpty && kfTypedLead.lower.isDefined,
      "the string leading field still decomposes; the typed trailing one is residual")
    // composite deletes: tombstones must encode keys the same way puts do
    deleteRows(spark, root,
      Seq(("east", "0007")).toDF("region", "id")
        .select(struct(col("region"), col("id")).as("rk")), "rk")
    assert(read(spark, root, m)
      .filter(col("rk.region") === "east" && col("rk.id") === 7L).count() == 0,
      "a composite-key row delete must mask the row")
    assert(read(spark, root, m).count() == 99)
  }

  test("mixed pre/post-visibility generations: labels survive, old cells read unlabeled") {
    val s = spark
    import s.implicits._
    val root = tmp("mixedvis")
    val m = parseMapping(
      StructType(Seq(StructField("k", StringType), StructField("a", LongType))),
      ":key,f:a#b")
    put(spark, root, Seq(("k1", 1L), ("k2", 2L)).toDF("k", "a"), m, regions = 1)
    // simulate a pre-visibility generation: physically strip the vis column
    // from gen 1's region files (same file names, manifest untouched)
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen1 = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("gen-")).minBy(_.getName)
    gen1.listFiles().filter(_.getName.endsWith(".parquet")).foreach { pf =>
      val stripped = spark.read.parquet(pf.getPath).drop("vis")
      val tmpDir = pf.getPath + ".strip"
      stripped.coalesce(1).write.parquet(tmpDir)
      val part = new java.io.File(tmpDir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      fsys.delete(new org.apache.hadoop.fs.Path(pf.getPath), false)
      fsys.rename(new org.apache.hadoop.fs.Path(part.getPath),
        new org.apache.hadoop.fs.Path(pf.getPath))
      fsys.delete(new org.apache.hadoop.fs.Path(tmpDir), true)
    }
    // newer labeled generation alongside the stripped one
    put(spark, root, Seq(("k3", 3L)).toDF("k", "a"), m, regions = 1,
      visibility = "pii")
    // full-auth: all three; the labeled cell keeps its label (NOT silently
    // unlabeled by a sampled-schema read)
    assert(read(spark, root, m).count() == 3)
    val noPii = read(spark, root, m, Some(Set("public"))).orderBy("k").collect()
    assert(noPii.map(_.getString(0)).toSeq == Seq("k1", "k2"),
      "pre-visibility cells read as unlabeled; the pii cell stays restricted")
  }
}
