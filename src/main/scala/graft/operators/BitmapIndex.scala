package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{EwahBitmap, EwahBitmapAgg}

/** BITMAP secondary index — the reference's third index handler
  * (`ql/src/java/.../index/bitmap/BitmapIndexHandler.java:64`: an index
  * table keyed by the indexed value holding EWAH-compressed bitmaps of row
  * offsets, consulted before the data is touched) re-expressed Spark-first
  * as a per-file POSTING-LIST sidecar: one parquet row per (file, indexed
  * column, distinct value) carrying the value's EWAH bitmap of per-file
  * row positions ([[graft.functions.EwahBitmapAgg]] — the same compressed
  * format the `ewah_bitmap*` UDAF family exposes) plus its cardinality.
  *
  * Pruning semantics are EXACT, not probabilistic: a point predicate
  * `col IN (v…)` keeps precisely the files with a posting row for some
  * `v` — unlike [[BloomIndex]] there are no false-positive files, which
  * is the right trade for LOW-CARDINALITY columns (the bitmap index's
  * classic domain: flags, categories, enum-ish dims) where the posting
  * count is small and exactness is cheap. High-cardinality point lookups
  * should stay on BLOOM: its sidecar is O(files), a bitmap sidecar is
  * O(files × distinct-values-per-file).
  *
  * Scale: the build is one shuffle (file × value grouping) over the
  * indexed dir — the analog of the reference's index-rebuild MR job; the
  * probe reads only the sidecar (KiBs) on the driver, so at 100 TB a
  * point probe costs one small parquet read before touching any data
  * file. Correctness never depends on the index: a missing sidecar or an
  * uncovered column degrades to a full — still correct — scan, and the
  * residual predicate is always re-applied.
  */
object BitmapIndex {

  val INDEX_DIR = "_bitmap_index"

  private val card = udf((a: Seq[Long]) => EwahBitmap.cardinality(a.toArray))

  /** Build and write the posting sidecar for one flat parquet directory:
    * rows `(file, col, typ, value, card, ewah)`; `value` is the indexed
    * value canonicalized as a string (probes re-canonicalize through the
    * same Spark cast), `ewah` the compressed per-file row-position
    * bitmap. NULL values carry no posting (as in the reference — a NULL
    * never answers a point predicate). Idempotent (overwrite); covers
    * the UNION of `cols` so multiple BITMAP indexes on one table share
    * the sidecar without clobbering each other. */
  def collect(spark: SparkSession, dataPath: String,
      cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "index at least one column")
    val p = new org.apache.hadoop.fs.Path(dataPath)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) return
    val df = spark.read.parquet(dataPath)
    val types = cols.map(c => c -> df.schema(c).dataType.sql).toMap
    val ew = udaf(new EwahBitmapAgg, ExpressionEncoder[java.lang.Long]())
    // per-file row position: the partition-by-file window reproduces a
    // stable intra-file ordinal (position semantics only need per-file
    // uniqueness + determinism for AND/OR algebra over one build)
    val positioned = df
      .select(element_at(split(input_file_name(), "/"), -1).as("file") +:
        cols.map(c => col(s"`$c`")): _*)
      .withColumn("pos",
        (row_number().over(Window.partitionBy("file")
          .orderBy(monotonically_increasing_id())) - 1).cast("long"))
    cols.map { c =>
        positioned.filter(col(s"`$c`").isNotNull)
          .groupBy(col("file"), col(s"`$c`").cast("string").as("value"))
          .agg(ew(col("pos")).as("ewah"))
          .select(col("file"), lit(c).as("col"), lit(types(c)).as("typ"),
            col("value"), card(col("ewah")).as("card"), col("ewah"))
      }
      .reduce(_ unionByName _)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dataPath/$INDEX_DIR")
    // a rebuild may cover different columns: purge the sidecar's schema
    // and probe memos with its relations
    MetaCache.purge(s"$dataPath/$INDEX_DIR")
  }

  /** Some(typ) of `column` in the sidecar, or None when the column is not
    * covered — a per-sidecar constant, read once per sidecar. */
  private def typOf(st: DataFrame, dataPath: String,
      column: String): Option[String] =
    MetaCache.memo(s"$dataPath/$INDEX_DIR", column) {
      val hd = st.select("typ").limit(1).collect()
      if (hd.isEmpty) None else Some(hd.head.getString(0))
    }

  /** SQL literal for a probe value (mirrors [[BloomIndex]]'s rule). */
  private def litSql(v: Any): String = v match {
    case s: String => "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    case d: java.sql.Date => s"DATE '$d'"
    case t: java.sql.Timestamp => s"TIMESTAMP '$t'"
    case n => n.toString
  }

  /** Probe-side canonicalization: the same `CAST(v AS typ) AS STRING`
    * the build side stored, so e.g. a Long probe against a DECIMAL
    * column compares "7.00" = "7.00", not "7" = "7.00". */
  private def probePred(typ: String, values: Seq[Any]): Column =
    values.map(v =>
        col("value") === expr(s"CAST(CAST(${litSql(v)} AS $typ) AS STRING)"))
      .reduce(_ || _)

  /** Files of `dataPath` that contain ANY of `values` in `column` —
    * exact (postings, no false positives). `None` = no usable index
    * (sidecar absent or column not covered). */
  def survivors(spark: SparkSession, dataPath: String, column: String,
      values: Seq[Any]): Option[Seq[String]] = {
    require(values.nonEmpty, "probe at least one value")
    val sp = new org.apache.hadoop.fs.Path(s"$dataPath/$INDEX_DIR")
    val f = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(sp)) return None
    val st = MetaCache.get(spark, s"$dataPath/$INDEX_DIR")
      .filter(col("col") === column)
    val typ = typOf(st, dataPath, column)
    if (typ.isEmpty) return None // column not covered by this sidecar
    Some(st.filter(probePred(typ.get, values))
      .select("file").distinct()
      .collect().map(r => s"$dataPath/${r.getString(0)}").toSeq)
  }

  /** Posting cardinalities for a probe — `(value, rows)` per surviving
    * value, summed across files via the EWAH algebra (observability:
    * specs prove the postings carry the true per-value row counts). */
  def postingCounts(spark: SparkSession, dataPath: String, column: String,
      values: Seq[Any]): Map[String, Long] = {
    val sp = new org.apache.hadoop.fs.Path(s"$dataPath/$INDEX_DIR")
    val f = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(sp)) return Map.empty
    val st = MetaCache.get(spark, s"$dataPath/$INDEX_DIR")
      .filter(col("col") === column)
    val typ = typOf(st, dataPath, column)
    if (typ.isEmpty) return Map.empty
    st.filter(probePred(typ.get, values))
      .groupBy("value").agg(sum("card").as("rows"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Pruned point-lookup read: posting-surviving files only, residual
    * `IN`-filter applied. Equals the unpruned filtered scan by
    * construction (exact file set; the residual only drops rows of
    * co-resident values). */
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
