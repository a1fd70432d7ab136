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
  * Compatibility contract (readers are plain `spark.read.parquet`):
  *  - field repetition mirrors what Spark's writer would emit for the
  *    replaced frame: REQUIRED for the non-nullable product/primitive
  *    collections (a `?` suffix opts a field into OPTIONAL for frames
  *    whose Catalyst schema was nullable — e.g. the stats sidecar's
  *    min/max columns, NULL for all-NULL chunks);
  *  - physical/logical types are exactly Spark's parquet output mapping
  *    (standard mode, `TIMESTAMP_MICROS` session posture): int32/int64/
  *    float/double/boolean plain; string = BINARY(UTF8); date = INT32
  *    (DATE); timestamp = INT64 (TIMESTAMP(MICROS, adjusted=true));
  *    timestampntz = INT64 (TIMESTAMP(MICROS, adjusted=false));
  *    decimal(p≤9) = INT32, decimal(p≤18) = INT64 (unscaled, DECIMAL(p,s)
  *    annotation) — wider decimals are deliberately unsupported (callers
  *    keep the Spark write path);
  *  - `array<long>` uses the standard 3-level LIST form with the
  *    `list`/`element` names Spark writes and reads natively (optional
  *    group — Seq-typed product fields are nullable in Catalyst — with
  *    required elements);
  *  - the compression codec follows the session's
  *    `spark.sql.parquet.compression.codec` so files in one directory
  *    stay uniform;
  *  - partitioned layouts are plain `col=value` subdirectories — the same
  *    names Spark's partitioned writer produces, so partition discovery
  *    and pruning behave identically;
  *  - parquet-mr records min/max column statistics by default, same as
  *    the Spark write path (footer-stats consumers keep working).
  *
  * Field type strings: "long", "int", "double", "float", "boolean",
  * "string", "date", "timestamp", "timestampntz", "decimal(p,s)",
  * "array<long>"; append `?` for an optional (nullable) field. Anything
  * else must keep the Spark write path.
  */
object LocalParquet {

  import org.apache.parquet.schema.{MessageType, Type, Types, LogicalTypeAnnotation}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.example.ExampleParquetWriter
  import org.apache.parquet.hadoop.metadata.CompressionCodecName

  private val DecimalRe = raw"decimal\((\d+),(\d+)\)".r

  /** Spark external value → epoch micros, the TIMESTAMP_MICROS write form. */
  private def instantMicros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
      (i.getNano / 1000L))
  private def ldtMicros(t: java.time.LocalDateTime): Long =
    instantMicros(t.toInstant(java.time.ZoneOffset.UTC))

  private def primType(base: String, rep: Type.Repetition,
      name: String): Type = {
    def b(p: PrimitiveTypeName) = Types.primitive(p, rep)
    base match {
      case "long" => b(PrimitiveTypeName.INT64).named(name)
      case "int" => b(PrimitiveTypeName.INT32).named(name)
      case "double" => b(PrimitiveTypeName.DOUBLE).named(name)
      case "float" => b(PrimitiveTypeName.FLOAT).named(name)
      case "boolean" => b(PrimitiveTypeName.BOOLEAN).named(name)
      case "string" => b(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named(name)
      case "date" => b(PrimitiveTypeName.INT32)
        .as(LogicalTypeAnnotation.dateType()).named(name)
      case "timestamp" => b(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(true,
          LogicalTypeAnnotation.TimeUnit.MICROS)).named(name)
      case "timestampntz" => b(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(false,
          LogicalTypeAnnotation.TimeUnit.MICROS)).named(name)
      case DecimalRe(p, s) =>
        val (prec, scale) = (p.toInt, s.toInt)
        require(prec >= 1 && prec <= 18 && scale >= 0 && scale <= prec,
          s"LocalParquet: decimal($prec,$scale) out of the supported range")
        b(if (prec <= 9) PrimitiveTypeName.INT32 else PrimitiveTypeName.INT64)
          .as(LogicalTypeAnnotation.decimalType(scale, prec)).named(name)
      case other => throw new IllegalArgumentException(
        s"LocalParquet: unsupported field type $other for $name")
    }
  }

  /** ("name", "type[?]") → (base type, optional?). */
  private def parse(tpe: String): (String, Boolean) =
    if (tpe.endsWith("?")) (tpe.dropRight(1), true) else (tpe, false)

  private def messageType(fields: Seq[(String, String)]): MessageType = {
    val b = Types.buildMessage()
    fields.foreach { case (name, tpe) =>
      val (base, opt) = parse(tpe)
      val rep = if (opt) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED
      base match {
        case "array<long>" => b.addField(
          Types.optionalList()
            .element(Types.required(PrimitiveTypeName.INT64).named("element"))
            .named(name))
        case "array<int>" => b.addField(
          Types.optionalList()
            .element(Types.required(PrimitiveTypeName.INT32).named("element"))
            .named(name))
        case _ => b.addField(primType(base, rep, name))
      }
    }
    b.named("spark_schema")
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

  /** Write `rows` as ONE parquet file at `file` (created, parents
    * included; fails if it exists — callers generate unique names).
    * Row values align positionally with `fields` and use the Spark
    * EXTERNAL types (java.time.LocalDate / Instant / LocalDateTime,
    * java.math.BigDecimal, boxed primitives, String, Seq[Long]); null is
    * allowed only for `?`-suffixed fields. */
  def writeFile(spark: SparkSession, file: String,
      fields: Seq[(String, String)], rows: IterableOnce[Seq[Any]]): Unit = {
    val schema = messageType(fields)
    val parsed = fields.map { case (n, t) => val (b, o) = parse(t); (n, b, o) }
    val conf = spark.sessionState.newHadoopConf()
    val writer = ExampleParquetWriter.builder(
        org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
          new org.apache.hadoop.fs.Path(file), conf))
      .withConf(conf).withType(schema)
      .withCompressionCodec(codec(spark))
      .build()
    val factory = new SimpleGroupFactory(schema)
    try rows.iterator.foreach { r =>
      val g = factory.newGroup()
      var i = 0
      while (i < parsed.length) {
        val v = r(i)
        val (name, base, opt) = parsed(i)
        if (v == null) require(opt,
          s"LocalParquet: null for required field $name")
        else base match {
          case "long" => g.add(i, v.asInstanceOf[Long])
          case "int" => g.add(i, v.asInstanceOf[Int])
          case "double" => g.add(i, v.asInstanceOf[Double])
          case "float" => g.add(i, v.asInstanceOf[Float])
          case "boolean" => g.add(i, v.asInstanceOf[Boolean])
          case "string" => g.add(i, v.asInstanceOf[String])
          case "date" =>
            g.add(i, v.asInstanceOf[java.time.LocalDate].toEpochDay.toInt)
          case "timestamp" =>
            g.add(i, instantMicros(v.asInstanceOf[java.time.Instant]))
          case "timestampntz" =>
            g.add(i, ldtMicros(v.asInstanceOf[java.time.LocalDateTime]))
          case DecimalRe(p, s) =>
            val bd = v.asInstanceOf[java.math.BigDecimal]
            require(bd.scale == s.toInt,
              s"LocalParquet: decimal scale ${bd.scale} != declared $s for $name")
            val unscaled = bd.unscaledValue.longValueExact
            if (p.toInt <= 9) g.add(i, unscaled.toInt) else g.add(i, unscaled)
          case "array<long>" =>
            val lg = g.addGroup(i)
            v.asInstanceOf[Seq[Long]].foreach(e =>
              lg.addGroup("list").add("element", e))
          case "array<int>" =>
            val lg = g.addGroup(i)
            v.asInstanceOf[Seq[Int]].foreach(e =>
              lg.addGroup("list").add("element", e))
        }
        i += 1
      }
      writer.write(g)
    } finally writer.close()
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

  /** The small-write gate of the store appends: an early-exiting
    * `take(ID_CAP + 1)` over `df`; when the rows fit [[Stores.ID_CAP]]
    * and the long key in `df`'s first column has no null, `local` writes
    * them driver-side (no Spark job), otherwise `distributed` runs the
    * Spark write. A non-long key skips the take: this writer would change
    * its at-rest type. */
  def writeSmall(df: DataFrame)(local: Array[Row] => Unit)(
      distributed: => Unit): Unit =
    Some(df).filter(_.schema.head.dataType ==
        org.apache.spark.sql.types.LongType)
      .map(_.take(Stores.ID_CAP + 1))
      .filter(rs => rs.length <= Stores.ID_CAP && !rs.exists(_.isNullAt(0)))
      .fold(distributed)(local)
}
