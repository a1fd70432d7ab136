package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** File-level min/max data skipping — the stats half of the lakehouse
  * skipping story whose layout half is [[ZOrder]]. Delta Lake records
  * per-file column stats in its log and prunes files whose [min,max]
  * interval cannot satisfy the predicate before any parquet footer is
  * opened (Delta Lake paper, VLDB 2020 §4.2 "data skipping"); Iceberg
  * keeps the same bounds in manifest entries. The reference era's nearest
  * ideas are static partition pruning and ORC SARGs
  * (`ql/src/java/org/apache/hadoop/hive/ql/io/sarg/SearchArgumentImpl.java`)
  * — both need either a partitioned layout or an opened reader per file;
  * file-grain stats prune from METADATA alone, which at 100 TB (hundreds
  * of thousands of files) is the difference between a driver-side filter
  * over a stats table and a cluster-wide footer storm.
  *
  * Spark-first shape: stats for a data directory are ONE aggregate over it
  * grouped by `input_file_name()` — min/max per orderable column at the
  * column's native type — written as a tiny parquet sidecar
  * (`<dir>/_file_stats/`, underscore-hidden so data scans never see it).
  * Pruning evaluates the band predicate AGAINST THE STATS TABLE with
  * Spark's own comparison/coercion semantics (`max_c >= lo AND min_c <=
  * hi`), so stats-vs-band typing can never diverge from data-vs-band
  * typing; an all-NULL file has NULL bounds, the conjunct evaluates to
  * NULL, and the file is skipped — correct, because a range predicate
  * rejects NULL anyway. Pruning is a performance decision only: callers
  * re-apply the full predicate to the surviving rows, so a missing or
  * stale-schema sidecar degrades to a full scan, never to a wrong answer.
  */
object DataSkipping {

  /** Sidecar dir name. The underscore prefix makes it invisible to Spark's
    * file discovery on the parent (same convention hiding `_SUCCESS`). */
  val STATS_DIR = "_file_stats"

  /** Spec observability: whether the LAST [[collect]] call served from the
    * footer fast path (true) or the aggregate fallback (false). */
  private[graft] var lastCollectUsedFooters: Boolean = false

  /** A closed-interval predicate `column BETWEEN lo AND hi` (point lookup =
    * `lo == hi`). Bands on several columns AND together. */
  final case class Band(column: String, lo: Any, hi: Any) {
    def predicate: Column = col(column).between(lit(lo), lit(hi))
  }

  /** Residual row filter for a band set (what pruning callers re-apply). */
  def predicateOf(bands: Seq[Band]): Column =
    bands.map(_.predicate).reduce(_ && _)

  private def orderable(t: DataType): Boolean = t match {
    case _: NumericType | StringType | DateType | TimestampType |
         TimestampNTZType | BooleanType => true
    case _ => false
  }

  /** Compute and write the stats sidecar for one flat parquet directory.
    *
    * Fast path: min/max decoded from the PARQUET FOOTERS driver-side — a
    * metadata read, no Spark job over the data. The footer statistics of
    * the supported physical types are exact (parquet-mr drops, rather than
    * approximates, stats it cannot keep exactly — and its optional binary
    * truncation only ever WIDENS bounds, which pruning tolerates), and
    * their orderings match Spark's (int/long/double/boolean natural order;
    * UTF8 binary stats use unsigned byte order, exactly UTF8String's). At
    * 100 TB this is the difference between an O(metadata) stats refresh
    * per commit and a second full read of everything just written — the
    * Delta/Iceberg write-time-stats posture (guide §6). Measured at sf0.1
    * (JobProfile): the aggregate job cost 1.1 s of q217's create alone.
    *
    * Fallback (exact original behavior): ONE narrow aggregate job over the
    * dir grouped by file — taken whenever any file's footer lacks exact
    * stats for any orderable column, or a column's type is outside the
    * proven set. Pruning consumers never notice which path wrote the
    * sidecar; both write the same schema and values. Idempotent
    * (overwrite) — safe to re-run after a rewrite or for a backfill. */
  def collect(spark: SparkSession, dataPath: String): Unit = {
    val p = new Path(dataPath)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) return
    val df = spark.read.parquet(dataPath)
    val cols = df.schema.fields.filter(fd => orderable(fd.dataType)).toSeq
    lastCollectUsedFooters = collectFromFooters(spark, f, dataPath, cols)
    if (!lastCollectUsedFooters) {
      val aggs = count(lit(1)).as("cnt") +: cols.flatMap(c => Seq(
        min(col(s"`${c.name}`")).as(s"min_${c.name}"),
        max(col(s"`${c.name}`")).as(s"max_${c.name}")))
      df.groupBy(element_at(split(input_file_name(), "/"), -1).as("file"))
        .agg(aggs.head, aggs.tail: _*)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dataPath/$STATS_DIR")
    }
  }

  /** Footer-stats fast path. True = sidecar written; false = caller must
    * run the aggregate fallback (never partial: any doubt about any file's
    * stats abandons the whole dir, because a WRONG bound would prune live
    * rows while a missing sidecar only costs a scan). */
  private def collectFromFooters(spark: SparkSession,
      f: org.apache.hadoop.fs.FileSystem, dataPath: String,
      cols: Seq[StructField]): Boolean = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    // types whose footer-stat ordering provably matches Spark comparison.
    // DECIMAL (r18, VERDICT r17 task 4 — the pricing type of the TPC-H
    // schema family, whose absence forced every commit to a decimal-bearing
    // table back onto the full-aggregate stats job): parquet annotates the
    // INT32/INT64/FIXED_LEN_BYTE_ARRAY/BINARY physical forms with
    // DECIMAL(p, s) and orders their statistics as SIGNED integers
    // (parquet-format LogicalTypes: DECIMAL sort order is signed; parquet-mr
    // compares INT32/INT64 numerically and FLBA/BINARY via its
    // signed-big-endian-integer comparator), which at equal scale is
    // exactly numeric order — Spark's Decimal ordering. Decoding is the
    // unscaled integer + the annotation's scale; any scale mismatch or
    // missing annotation falls back (never-partial, as everywhere here).
    def supported(dt: DataType): Boolean = dt match {
      case IntegerType | LongType | DoubleType | FloatType | BooleanType |
           StringType | DateType | TimestampType | TimestampNTZType => true
      case _: DecimalType => true
      case _ => false
    }
    def decAnn(chunk: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData):
        Option[org.apache.parquet.schema.LogicalTypeAnnotation.DecimalLogicalTypeAnnotation] =
      chunk.getPrimitiveType.getLogicalTypeAnnotation match {
        case d: org.apache.parquet.schema.LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          Some(d)
        case _ => None
      }
    if (!cols.forall(c => supported(c.dataType))) return false
    val dataFiles = f.listStatus(new Path(dataPath)).toSeq.filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val rowsOut = new scala.collection.mutable.ArrayBuffer[Row]()
    dataFiles.foreach { st =>
      val footer = try {
        val in = HadoopInputFile.fromStatus(st, conf)
        val r = ParquetFileReader.open(in)
        try r.getFooter finally r.close()
      } catch { case _: Exception => return false }
      val blocks = footer.getBlocks
      import scala.jdk.CollectionConverters._
      val rowCount = blocks.asScala.map(_.getRowCount).sum
      // a zero-row file yields no group in the aggregate path — match it
      if (rowCount > 0) {
        val vals: Seq[Any] = cols.flatMap { c =>
          // fold this column's chunk stats across row groups
          var mn: Any = null
          var mx: Any = null
          blocks.asScala.foreach { b =>
            val chunk = b.getColumns.asScala
              .find(_.getPath.toDotString == c.name)
              .getOrElse(return false) // column missing from this file
            val s = chunk.getStatistics
            if (s == null) return false
            // "no min/max" is only trustworthy as all-NULL when the null
            // count equals the chunk's value count — parquet-mr ALSO omits
            // min/max (keeping null_count) when a value exceeded its stats
            // size cap, and treating that as all-NULL would wrongly prune
            if (!s.hasNonNullValue &&
                !(s.isNumNullsSet && s.getNumNulls == chunk.getValueCount))
              return false
            if (s.hasNonNullValue) {
              val prim = chunk.getPrimitiveType.getPrimitiveTypeName
              val (lo: Any, hi: Any) = (c.dataType, prim) match {
                case (IntegerType, INT32) =>
                  (s.genericGetMin.asInstanceOf[Integer],
                    s.genericGetMax.asInstanceOf[Integer])
                case (LongType, INT64) =>
                  (s.genericGetMin.asInstanceOf[java.lang.Long],
                    s.genericGetMax.asInstanceOf[java.lang.Long])
                case (DoubleType, DOUBLE) =>
                  // parquet widens zero bounds to ±0.0 (PARQUET-1222);
                  // Spark comparison treats -0.0 = 0.0, so normalizing to
                  // the aggregate path's 0.0 changes no pruning decision
                  (normZero(s.genericGetMin.asInstanceOf[java.lang.Double]),
                    normZero(s.genericGetMax.asInstanceOf[java.lang.Double]))
                case (FloatType, FLOAT) =>
                  (normZeroF(s.genericGetMin.asInstanceOf[java.lang.Float]),
                    normZeroF(s.genericGetMax.asInstanceOf[java.lang.Float]))
                case (BooleanType, BOOLEAN) =>
                  (s.genericGetMin.asInstanceOf[java.lang.Boolean],
                    s.genericGetMax.asInstanceOf[java.lang.Boolean])
                case (StringType, BINARY) =>
                  (s.genericGetMin.asInstanceOf[Binary].toStringUsingUTF8,
                    s.genericGetMax.asInstanceOf[Binary].toStringUsingUTF8)
                case (DateType, INT32) =>
                  (java.time.LocalDate.ofEpochDay(
                      s.genericGetMin.asInstanceOf[Integer].longValue),
                    java.time.LocalDate.ofEpochDay(
                      s.genericGetMax.asInstanceOf[Integer].longValue))
                case (TimestampType, INT64) =>
                  val lt = chunk.getPrimitiveType.getLogicalTypeAnnotation
                  lt match {
                    case t: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                      if t.getUnit == org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS =>
                      (microsToInstant(s.genericGetMin.asInstanceOf[java.lang.Long]),
                        microsToInstant(s.genericGetMax.asInstanceOf[java.lang.Long]))
                    case _ => return false // INT96/millis/nanos: fallback
                  }
                case (TimestampNTZType, INT64) =>
                  val lt = chunk.getPrimitiveType.getLogicalTypeAnnotation
                  lt match {
                    case t: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                      if t.getUnit == org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS =>
                      (microsToLocalDateTime(s.genericGetMin.asInstanceOf[java.lang.Long]),
                        microsToLocalDateTime(s.genericGetMax.asInstanceOf[java.lang.Long]))
                    case _ => return false
                  }
                case (dt: DecimalType, INT32) =>
                  decAnn(chunk) match {
                    case Some(d) if d.getScale == dt.scale =>
                      (new java.math.BigDecimal(java.math.BigInteger.valueOf(
                          s.genericGetMin.asInstanceOf[Integer].longValue), dt.scale),
                        new java.math.BigDecimal(java.math.BigInteger.valueOf(
                          s.genericGetMax.asInstanceOf[Integer].longValue), dt.scale))
                    case _ => return false
                  }
                case (dt: DecimalType, INT64) =>
                  decAnn(chunk) match {
                    case Some(d) if d.getScale == dt.scale =>
                      (new java.math.BigDecimal(java.math.BigInteger.valueOf(
                          s.genericGetMin.asInstanceOf[java.lang.Long]), dt.scale),
                        new java.math.BigDecimal(java.math.BigInteger.valueOf(
                          s.genericGetMax.asInstanceOf[java.lang.Long]), dt.scale))
                    case _ => return false
                  }
                case (dt: DecimalType, FIXED_LEN_BYTE_ARRAY | BINARY) =>
                  // unscaled two's-complement big-endian bytes — the
                  // parquet DECIMAL binary form; its stats comparator is
                  // the signed-big-endian-integer order, i.e. numeric
                  decAnn(chunk) match {
                    case Some(d) if d.getScale == dt.scale =>
                      (new java.math.BigDecimal(new java.math.BigInteger(
                          s.genericGetMin.asInstanceOf[Binary].getBytes), dt.scale),
                        new java.math.BigDecimal(new java.math.BigInteger(
                          s.genericGetMax.asInstanceOf[Binary].getBytes), dt.scale))
                    case _ => return false
                  }
                case _ => return false // physical/declared type mismatch
              }
              mn = if (mn == null) lo else minOf(c.dataType, mn, lo)
              mx = if (mx == null) hi else maxOf(c.dataType, mx, hi)
            }
            // hasNonNullValue false with numNulls set = all-NULL chunk:
            // contributes nothing, NULL bounds stay — same as min()/max()
          }
          Seq(mn, mx)
        }
        rowsOut += Row.fromSeq(st.getPath.getName +: rowCount +: vals)
      }
    }
    // Sidecar publish. The rows are driver state already (decoded from
    // footers above); [[LocalParquet]] writes the one-file overwrite form
    // Spark's writer would — same nullable schema, same type mapping —
    // with zero Spark jobs, removing the last per-commit job of the stats
    // path (guide §5).
    f.delete(new Path(s"$dataPath/$STATS_DIR"), true)
    LocalParquet.writeFile(spark, s"$dataPath/$STATS_DIR/part-00000.parquet",
      StructType(StructField("file", StringType) +: StructField("cnt", LongType) +:
        cols.flatMap(c => Seq(StructField(s"min_${c.name}", c.dataType),
          StructField(s"max_${c.name}", c.dataType)))),
      rowsOut.iterator)
    true
  }

  private def normZero(d: java.lang.Double): java.lang.Double =
    if (d == 0.0d) java.lang.Double.valueOf(0.0d) else d
  private def normZeroF(f: java.lang.Float): java.lang.Float =
    if (f == 0.0f) java.lang.Float.valueOf(0.0f) else f

  private def microsToInstant(us: Long): java.time.Instant =
    java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000L)

  private def microsToLocalDateTime(us: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofInstant(microsToInstant(us),
      java.time.ZoneOffset.UTC)

  /** Order two decoded footer values by the SAME ordering Spark's min/max
    * would use for the type (all supported types order naturally;
    * strings compare as unsigned UTF-8 bytes — UTF8String's order, which
    * parquet's UTF8 stats comparator also uses). */
  private def cmpOf(dt: DataType, a: Any, b: Any): Int = dt match {
    case StringType =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a.asInstanceOf[String])
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b.asInstanceOf[String]))
    case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
  }
  private def minOf(dt: DataType, a: Any, b: Any): Any =
    if (cmpOf(dt, a, b) <= 0) a else b
  private def maxOf(dt: DataType, a: Any, b: Any): Any =
    if (cmpOf(dt, a, b) >= 0) a else b

  /** Files of `dataPath` that can satisfy `bands`, as absolute paths.
    * `None` = no usable stats (no sidecar, or no band column present in
    * it) — scan everything; `Some(Nil)` = the whole dir is pruned. */
  def survivors(spark: SparkSession, dataPath: String,
      bands: Seq[Band]): Option[Seq[String]] = {
    val sp = new Path(s"$dataPath/$STATS_DIR")
    val f = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(sp)) return None
    val st = spark.read.parquet(sp.toString)
    val preds = bands.flatMap { b =>
      if (st.columns.contains(s"min_${b.column}"))
        Some(col(s"`max_${b.column}`") >= lit(b.lo) &&
          col(s"`min_${b.column}`") <= lit(b.hi))
      else None // column unknown to this sidecar: no constraint from it
    }
    if (preds.isEmpty) None
    else Some(st.filter(preds.reduce(_ && _)).select("file")
      .collect().map(r => s"$dataPath/${r.getString(0)}").toSeq)
  }

  /** Pruned read of one flat parquet dir: stats-surviving files only, with
    * the residual filter applied. Equals `read.parquet(dir).filter(bands)`
    * by construction. */
  def readPruned(spark: SparkSession, dataPath: String,
      bands: Seq[Band]): DataFrame = {
    val base = survivors(spark, dataPath, bands) match {
      case None => spark.read.parquet(dataPath)
      case Some(Nil) => spark.read.parquet(dataPath).limit(0)
      case Some(files) => spark.read.parquet(files: _*)
    }
    base.filter(predicateOf(bands))
  }
}
