package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Per-file Bloom-filter index — the POINT-LOOKUP complement to
  * [[DataSkipping]]'s min/max stats. Min/max bounds prune BAND predicates
  * but are useless for `key = v` / `key IN (...)` on a high-cardinality
  * column laid out randomly: every file's [min,max] spans nearly the full
  * domain, so nothing skips. A per-file Bloom filter answers exactly that
  * case — Delta's bloom filter index and the reference's ORC bloom
  * filters (`orc/.../BloomFilterIO`, exercised via
  * `orc_ppd_*.q`) are the same idea; the reference must open each ORC
  * reader to consult them, while a sidecar prunes from metadata alone.
  *
  * Spark-first shape, mirroring [[DataSkipping]]: the index for a data
  * directory is ONE aggregate over it grouped by `input_file_name()` —
  * per indexed column, a fixed-size bit array built by a mergeable typed
  * Aggregator (map-side partials OR together) over `xxhash64(col)` —
  * written as a tiny parquet sidecar (`<dir>/_bloom_index/`). Probing
  * evaluates the k double-hashed positions AGAINST THE SIDECAR TABLE as
  * ordinary Spark expressions, with the probe value hashed by the SAME
  * engine function (`xxhash64` after a cast to the column's recorded
  * type), so build-vs-probe hashing can never diverge. Pruning is a
  * performance decision only: callers re-apply the residual predicate, so
  * a missing sidecar degrades to a full scan, never a wrong answer; a
  * Bloom false positive only means one extra file scanned.
  *
  * Sizing: `mBits` bits per file per column (default 2^17 = 16 KiB). At
  * ~1.4 M rows per 128 MB file that is ~0.1 bits/key — size `mBits` to
  * ≥10 bits/key for ~1 % FPP (`k = 7` probes is optimal near that load).
  * At 100 TB / 800k files the whole index is a few GB of sidecar parquet
  * — a metadata-side filter — versus a cluster-wide scan for one key.
  */
object BloomIndex {

  val INDEX_DIR = "_bloom_index"

  /** Mergeable fixed-size Bloom bit array over pre-hashed values.
    * Position i of hash h is `floorMod(h + i*h2, m)` with
    * `h2 = (h >>> 32) | 1` (Kirsch–Mitzenmacher double hashing) — the
    * probe side reproduces this arithmetic as Spark SQL, so the two must
    * change together. */
  final class BloomAgg(mBits: Int, k: Int)
      extends Aggregator[Long, Array[Long], Array[Long]] {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0, "mBits must be a power of two >= 64")
    require(k >= 1 && k <= 16, "k in [1,16]")

    def zero: Array[Long] = new Array[Long](mBits / 64)

    def reduce(b: Array[Long], h: Long): Array[Long] = {
      val h2 = (h >>> 32) | 1L
      var i = 0
      while (i < k) {
        val idx = java.lang.Math.floorMod(h + i * h2, mBits.toLong)
        b((idx >>> 6).toInt) |= (1L << (idx & 63L))
        i += 1
      }
      b
    }

    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }

    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder()
  }

  /** [[collect]] with `mBits` auto-sized from the data: `bitsPerKey` ×
    * the LARGEST file's row count, rounded up to a power of two (floor
    * 2^17 ≈ 16 KiB, cap 2^26 ≈ 8 MiB per file per column). The fixed
    * default saturates the moment files grow — measured at ×64 scale:
    * 267k rows/file against 2^17 bits is 0.5 bits/key, every bit set,
    * zero pruning — so production callers should use this form unless
    * they control file sizes. One cheap count-by-file pass. Returns the
    * chosen `mBits`. */
  def collectAuto(spark: SparkSession, dataPath: String, cols: Seq[String],
      bitsPerKey: Int = 12, k: Int = 7): Int = {
    require(bitsPerKey >= 1, "bitsPerKey >= 1")
    val p = new Path(dataPath)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a missing dir or a zero-row delta (max over zero files = null row)
    // falls back to the 2^17 floor instead of NPE-ing the analyze pass.
    // The largest file's row count comes from the parquet FOOTERS
    // driver-side (the [[DataSkipping]] footer discipline — row counts
    // are exact footer metadata), replacing a two-shuffle Spark
    // aggregate per analyze call; any footer trouble falls back to it.
    def footerMaxRows: Option[Long] = scala.util.Try {
      import scala.jdk.CollectionConverters._
      val conf = spark.sparkContext.hadoopConfiguration
      val counts = f.listStatus(p).toSeq.filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.map { s =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(s, conf))
        try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally r.close()
      }
      if (counts.isEmpty) 0L else counts.max
    }.toOption
    val maxRows: Long =
      if (!f.exists(p)) 0L
      else footerMaxRows.getOrElse(scala.util.Try {
        val r = spark.read.parquet(dataPath)
          .groupBy(input_file_name()).count()
          .agg(max("count")).head()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }.getOrElse(0L))
    var m = 1 << 17
    while (m.toLong < bitsPerKey.toLong * maxRows && m < (1 << 26)) m <<= 1
    collect(spark, dataPath, cols, m, k)
    m
  }

  /** Build and write the index sidecar for one flat parquet directory:
    * one row per file, columns `bits_<c>` + `typ_<c>` per indexed column
    * plus the shared `m`/`k`. Idempotent (overwrite). */
  def collect(spark: SparkSession, dataPath: String, cols: Seq[String],
      mBits: Int = 1 << 17, k: Int = 7): Unit = {
    require(cols.nonEmpty, "index at least one column")
    val p = new Path(dataPath)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) return
    val df = spark.read.parquet(dataPath)
    val types = cols.map(c => c -> df.schema(c).dataType.sql).toMap
    val agg = udaf(new BloomAgg(mBits, k), ExpressionEncoder[Long]())
    val aggs = cols.map(c => agg(xxhash64(col(s"`$c`"))).as(s"bits_$c"))
    df.groupBy(element_at(split(input_file_name(), "/"), -1).as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("file") +: lit(mBits).as("m") +: lit(k).as("k") +:
        cols.flatMap(c => Seq(col(s"`bits_$c`"),
          lit(types(c)).as(s"typ_$c"))): _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dataPath/$INDEX_DIR")
    // a rebuilt sidecar may carry DIFFERENT columns (cols/m are caller
    // choices): purge its schema and probe memos with its relations
    MetaCache.purge(s"$dataPath/$INDEX_DIR")
  }

  /** `mayContain` predicate over a sidecar row for one probe value:
    * all k double-hashed bits set in `bits_<c>`. Pure Spark expressions;
    * the SQL `shiftleft`/`shiftrightunsigned` accept column shifts (the
    * Scala wrappers do not). */
  private def mayContain(c: String, typ: String, v: Any, k: Int): Column = {
    val h = s"xxhash64(CAST(${litSql(v)} AS $typ))"
    val h2 = s"(shiftrightunsigned($h, 32) | 1)"
    (0 until k).map { i =>
      // floorMod(h + i*h2, m) with m a power of two (BloomAgg require()s
      // it) depends only on the low log2(m) bits of each addend, so mask
      // BEFORE the arithmetic: operands stay < 2^26, the sum < 2^31 —
      // no 64-bit overflow, so the probe matches the JVM build side's
      // wrap-around under spark.sql.ansi.enabled=true as well (raw
      // `h + i*h2` would raise ARITHMETIC_OVERFLOW there for large h).
      val mm = "(CAST(m AS BIGINT) - 1L)"
      val idx = s"((($h & $mm) + ${i}L * ($h2 & $mm)) & $mm)"
      expr(s"(element_at(`bits_$c`, CAST(shiftrightunsigned($idx, 6) AS INT) + 1)" +
        s" & shiftleft(1L, CAST($idx & 63 AS INT))) != 0")
    }.reduce(_ && _)
  }

  /** SQL literal for a probe value (numbers and strings — the types a
    * point lookup uses). Strings are quote-escaped. */
  private def litSql(v: Any): String = v match {
    case s: String => "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    case d: java.sql.Date => s"DATE '$d'"
    case t: java.sql.Timestamp => s"TIMESTAMP '$t'"
    case n => n.toString
  }

  /** Files of `dataPath` that may contain ANY of `values` in `column`
    * (the `IN`-list union), as absolute paths. `None` = no usable index. */
  def survivors(spark: SparkSession, dataPath: String, column: String,
      values: Seq[Any]): Option[Seq[String]] = {
    require(values.nonEmpty, "probe at least one value")
    val dir = s"$dataPath/$INDEX_DIR"
    val sp = new Path(dir)
    val f = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(sp)) return None
    // the sidecar stays a DISTRIBUTED filter — at 100 TB it is GBs of bit
    // arrays, a metadata-side table but not a driver-side one
    val st = MetaCache.get(spark, dir)
    if (!st.columns.contains(s"bits_$column")) return None
    // (typ, k) are per-sidecar constants (one literal per row), read once
    val meta = MetaCache.memo(dir, column) {
      val hd = st.select(col(s"typ_$column"), col("k")).limit(1).collect()
      if (hd.isEmpty) None else Some((hd.head.getString(0), hd.head.getInt(1)))
    }
    if (meta.isEmpty) return Some(Nil)
    val (typ, k) = meta.get
    val pred = values.map(v => mayContain(column, typ, v, k)).reduce(_ || _)
    Some(st.filter(pred).select("file")
      .collect().map(r => s"$dataPath/${r.getString(0)}").toSeq)
  }

  /** Pruned point-lookup read: index-surviving files only, residual
    * `IN`-filter applied. Equals the unpruned filtered scan by
    * construction (false positives only cost extra scanned files). */
  def readPruned(spark: SparkSession, dataPath: String, column: String,
      values: Seq[Any]): DataFrame = {
    val base = survivors(spark, dataPath, column, values) match {
      case None => spark.read.parquet(dataPath)
      case Some(Nil) => spark.read.parquet(dataPath).limit(0)
      case Some(files) => spark.read.parquet(files: _*)
    }
    base.filter(col(column).isin(values: _*))
  }
}
