package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Driver-side parquet writer for BOUNDED, ALREADY-DRIVER-RESIDENT row
  * sets — the manifest/sidecar write discipline of the table formats
  * (Iceberg/Delta write their metadata files from the driver, never as
  * Spark jobs). The index lifecycles here produce many tiny sidecar
  * relations that are driver state by construction (trimmed edge sets
  * bounded O(batch·degree), entry/tombstone id lists, codebooks, per-file
  * stats rows): pushing each through `spark.createDataFrame → repartition
  * → write` costs a full Spark job — planning, a shuffle, task scheduling,
  * output commit — to move a few KB the driver is already holding (guide
  * §5 "the driver should do almost no data work" cuts both ways: a JOB
  * should not be spun up for data that never leaves the driver). This
  * writer produces the exact same at-rest form with zero jobs.
  *
  * Compatibility contract (readers are plain `spark.read.parquet`): the
  * rows go through Spark's own `ParquetWriteSupport`, set up from the
  * session as Spark's parquet writer sets it up, so a file written here
  * has the footer — parquet types, repetition, the Spark schema metadata
  * — a Spark write of the same frame has, for every Catalyst type. The
  * compression codec follows the session's
  * `spark.sql.parquet.compression.codec`; partitioned layouts are plain
  * `col=value` subdirectories, the names Spark's partitioned writer
  * produces, so discovery and pruning see one store.
  *
  * Callers hand either Catalyst rows with their `StructType`
  * ([[writeRows]], the transactional stage) or external values with
  * field type strings ([[writeFile]]): "long", "int", "double", "float",
  * "boolean", "string", "date", "timestamp", "timestampntz",
  * "decimal(p,s)", "array<long>", "array<int>"; a `?` suffix makes a field
  * nullable (OPTIONAL), as the replaced frame's Catalyst schema had it.
  */
object LocalParquet {

  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.{FileSystem, Path}
  import org.apache.parquet.conf.ParquetConfiguration
  import org.apache.parquet.hadoop.ParquetWriter
  import org.apache.parquet.hadoop.api.WriteSupport
  import org.apache.parquet.hadoop.metadata.CompressionCodecName
  import org.apache.parquet.hadoop.util.HadoopStreams
  import org.apache.parquet.io.{OutputFile, PositionOutputStream}
  import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
  import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
  import org.apache.spark.sql.internal.SQLConf
  import org.apache.spark.sql.types._

  private val DecimalRe = raw"decimal\((\d+),(\d+)\)".r

  private val Prims: Map[String, DataType] = Map("long" -> LongType,
    "int" -> IntegerType, "double" -> DoubleType, "float" -> FloatType,
    "boolean" -> BooleanType, "string" -> StringType, "date" -> DateType,
    "timestamp" -> TimestampType, "timestampntz" -> TimestampNTZType,
    "array<long>" -> ArrayType(LongType, containsNull = false),
    "array<int>" -> ArrayType(IntegerType, containsNull = false))

  /** ("name", "type[?]") → the Catalyst field Spark would write for it.
    * Arrays are always nullable (Seq-typed product fields are). */
  private def field(name: String, tpe: String): StructField = {
    val (base, opt) =
      if (tpe.endsWith("?")) (tpe.dropRight(1), true) else (tpe, false)
    val dt = base match {
      case DecimalRe(p, s) => DecimalType(p.toInt, s.toInt)
      case other => Prims.getOrElse(other, throw new IllegalArgumentException(
        s"LocalParquet: unsupported field type $other for $name"))
    }
    StructField(name, dt, opt || dt.isInstanceOf[ArrayType])
  }

  private def codec(spark: SparkSession): CompressionCodecName =
    spark.conf.get("spark.sql.parquet.compression.codec", "snappy")
      .toLowerCase match {
      case "zstd" => CompressionCodecName.ZSTD
      case "gzip" => CompressionCodecName.GZIP
      case "lz4" | "lz4raw" | "lz4_raw" => CompressionCodecName.LZ4_RAW
      case "none" | "uncompressed" => CompressionCodecName.UNCOMPRESSED
      case _ => CompressionCodecName.SNAPPY
    }

  /** A new file at `p` on `fs` (fails if it exists, creates parents). */
  private def outputFile(fs: FileSystem, p: Path): OutputFile = new OutputFile {
    def create(blockSizeHint: Long): PositionOutputStream =
      HadoopStreams.wrap(fs.create(p, false))
    def createOrOverwrite(blockSizeHint: Long): PositionOutputStream =
      HadoopStreams.wrap(fs.create(p, true))
    def supportsBlockSize(): Boolean = false
    def defaultBlockSize(): Long = 0L
    override def getPath(): String = p.toString
  }

  private final class Builder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, Builder](file) {
    override protected def self(): Builder = this
    override protected def getWriteSupport(
        conf: Configuration): WriteSupport[InternalRow] = new ParquetWriteSupport
    override protected def getWriteSupport(
        conf: ParquetConfiguration): WriteSupport[InternalRow] = new ParquetWriteSupport
  }

  /** Write Catalyst rows of `schema` as ONE parquet file at `file`
    * through Spark's own `ParquetWriteSupport`, configured from the
    * session as Spark's parquet writer configures it — so the footer,
    * the type mapping (every type, nested ones included) and the Spark
    * schema metadata are the ones a Spark write of the same frame
    * produces. The file is created (parents included) and must not
    * exist. */
  private[graft] def writeRows(spark: SparkSession, file: String,
      schema: StructType, rows: Iterator[InternalRow]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val sql = spark.sessionState.conf
    Seq(SQLConf.PARQUET_WRITE_LEGACY_FORMAT -> sql.writeLegacyParquetFormat,
      SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE -> sql.parquetOutputTimestampType,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED -> sql.parquetFieldIdWriteEnabled,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG -> sql.legacyParquetNanosAsLong,
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE ->
        sql.parquetAnnotateVariantLogicalType)
      .foreach { case (k, v) => conf.set(k.key, v.toString) }
    ParquetWriteSupport.setSchema(schema, conf)
    val p = new Path(file)
    val writer = new Builder(outputFile(p.getFileSystem(conf), p))
      .withConf(conf).withCompressionCodec(codec(spark)).build()
    try rows.foreach(writer.write) finally writer.close()
  }

  /** Write `rows` as ONE parquet file at `file` ([[writeRows]]). Row
    * values align positionally with `fields` and use the Spark EXTERNAL
    * types (java.time.LocalDate / Instant / LocalDateTime,
    * java.math.BigDecimal, boxed primitives, String, Seq); values past
    * the last field are not written (a bucketed row's key); null is
    * allowed only for `?`-suffixed fields. */
  def writeFile(spark: SparkSession, file: String,
      fields: Seq[(String, String)], rows: IterableOnce[Seq[Any]]): Unit =
    writeFile(spark, file, StructType(fields.map { case (n, t) => field(n, t) }),
      rows.iterator.map(r => Row.fromSeq(r.take(fields.length))))

  /** [[writeFile]] for external rows of `schema`. */
  def writeFile(spark: SparkSession, file: String, schema: StructType,
      rows: Iterator[Row]): Unit = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    writeRows(spark, file, schema, rows.map { r =>
      schema.fields.indices.foreach(i => require(
        !r.isNullAt(i) || schema.fields(i).nullable,
        s"LocalParquet: null for required field ${schema.fields(i).name}"))
      toCatalyst(r).asInstanceOf[InternalRow]
    })
  }

  /** Write `rows` under `dir` partitioned by a derived long key: one file
    * per distinct key at `dir/<partCol>=<key>/part-<uuid>.parquet` — the
    * layout Spark's `write.partitionBy(partCol)` produces, so partition
    * discovery/pruning see the two writers' output as one store. The
    * partition column itself is NOT written into the files (Spark's
    * partitioned writer drops it too). Append-only by construction: fresh
    * uniquely-named files, existing data untouched. */
  def writeBucketed(spark: SparkSession, dir: String, partCol: String,
      fields: Seq[(String, String)], rows: Seq[Seq[Any]],
      keyOf: Seq[Any] => Long): Unit = {
    rows.groupBy(keyOf).foreach { case (k, rs) =>
      val file = s"$dir/$partCol=$k/part-${java.util.UUID.randomUUID()}.parquet"
      writeFile(spark, file, fields, rs)
    }
  }

  /** The small-write gate of the store appends: one bounded action over
    * `df` ([[Stores.boundedRows]]); when the rows fit [[Stores.ID_CAP]]
    * and the long key in `df`'s first column has no null, `local` writes
    * them driver-side (no Spark job), otherwise `distributed` runs the
    * Spark write. A non-long key skips the action: this writer would
    * change its at-rest type. */
  def writeSmall(df: DataFrame)(local: Array[Row] => Unit)(
      distributed: => Unit): Unit =
    Some(df).filter(_.schema.head.dataType == LongType)
      .map(Stores.boundedRows).filter(_.rest.isEmpty).map(_.held)
      .filter(rs => !rs.exists(_.isNullAt(0)))
      .map { rs =>
        val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
        rs.map(toRow(_).asInstanceOf[Row])
      }
      .fold(distributed)(local)
}
