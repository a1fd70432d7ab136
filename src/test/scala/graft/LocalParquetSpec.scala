package graft

import java.io.File

import graft.operators.LocalParquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** [[graft.operators.LocalParquet]] — the driver-side sidecar writer.
  * Contract under test: a locally-written file is indistinguishable to a
  * plain `spark.read.parquet` from what Spark's own writer would have
  * produced for the same frame — same Catalyst types, same values
  * (including nulls in optional fields and array columns), and for the
  * bucketed form the same `col=value` partition layout Spark's
  * partitionBy produces (discovery, pruning, and MIXED Spark+local
  * directories must all behave as one store).
  */
class LocalParquetSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 4, appName = "graft-localparquet")

  override def afterAll(): Unit = spark.stop()

  private val base = s"${Engine.scratchRoot}/localparquetspec"

  private def fresh(name: String): String = {
    val p = s"$base/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(p))
    p
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("primitive + temporal + decimal round-trip matches the Spark writer (types and values)") {
    val dir = fresh("alltypes")
    val fields = Seq("l" -> "long?", "i" -> "int?", "d" -> "double?",
      "f" -> "float?", "b" -> "boolean?", "s" -> "string?",
      "dt" -> "date?", "ts" -> "timestamp?", "tn" -> "timestampntz?",
      "dec9" -> "decimal(9,2)?", "dec18" -> "decimal(18,4)?")
    val r1: Seq[Any] = Seq(42L, 7, 2.5d, 1.5f, true, "héllo",
      java.time.LocalDate.of(2026, 3, 1),
      java.time.Instant.parse("2026-03-01T12:34:56.789012Z"),
      java.time.LocalDateTime.of(2026, 3, 1, 12, 34, 56, 789012000),
      new java.math.BigDecimal("1234567.89"),
      new java.math.BigDecimal("-12345678901234.5678"))
    val r2: Seq[Any] = Seq(null, null, null, null, null, null,
      null, null, null, null, null)
    LocalParquet.writeFile(spark, s"$dir/local/part-00000.parquet", fields,
      Seq(r1, r2))

    // the Spark-writer reference for the SAME frame
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("b", BooleanType), StructField("s", StringType),
      StructField("dt", DateType), StructField("ts", TimestampType),
      StructField("tn", TimestampNTZType),
      StructField("dec9", DecimalType(9, 2)),
      StructField("dec18", DecimalType(18, 4))))
    val toRow = (vals: Seq[Any]) => org.apache.spark.sql.Row.fromSeq(vals)
    spark.createDataFrame(
        java.util.Arrays.asList(toRow(r1), toRow(r2)), schema)
      .coalesce(1).write.parquet(s"$dir/ref")

    val local = spark.read.parquet(s"$dir/local")
    val ref = spark.read.parquet(s"$dir/ref")
    // identical Catalyst types (the prune/compare consumers key on this)
    assert(local.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      ref.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(sortedRows(local) == sortedRows(ref))
  }

  test("array<long> round-trips through Spark's 3-level list shape") {
    val dir = fresh("arrays")
    LocalParquet.writeFile(spark, s"$dir/local/part-00000.parquet",
      Seq("id" -> "long", "qe" -> "array<long>"),
      Seq(Seq[Any](1L, Seq(1L, -2L, 3L)), Seq[Any](2L, Seq.empty[Long])))
    import spark.implicits._
    Seq((1L, Seq(1L, -2L, 3L)), (2L, Seq.empty[Long]))
      .toDF("id", "qe").coalesce(1).write.parquet(s"$dir/ref")
    val local = spark.read.parquet(s"$dir/local")
    val ref = spark.read.parquet(s"$dir/ref")
    assert(local.schema("qe").dataType == ref.schema("qe").dataType)
    assert(sortedRows(local) == sortedRows(ref))
    // and the Dataset decode the index loaders use
    assert(local.orderBy("id").as[(Long, Seq[Long])].collect().toSeq ==
      Seq((1L, Seq(1L, -2L, 3L)), (2L, Seq.empty[Long])))
  }

  test("writeBucketed lays out Spark-compatible partitions; mixed local+Spark dirs read as one store with pruning") {
    val dir = fresh("bucketed")
    import spark.implicits._
    // Spark writes buckets 0/1, local writer appends rows into 1/2 — the
    // GraphAnn adj-append shape (full build via Spark, DML via local)
    Seq((10L, 100L, 1L, 0L), (11L, 101L, 1L, 1L))
      .toDF("src", "dst", "gen", "bucket")
      .repartition(2, col("bucket"))
      .write.partitionBy("bucket").parquet(dir)
    LocalParquet.writeBucketed(spark, dir, "bucket",
      Seq("src" -> "long", "dst" -> "long", "gen" -> "long"),
      Seq(Seq[Any](21L, 201L, 2L), Seq[Any](22L, 202L, 2L)),
      r => r.head.asInstanceOf[Long] % 2 + 1)
    val all = spark.read.parquet(dir)
    assert(all.columns.sorted.toSeq == Seq("bucket", "dst", "gen", "src"))
    assert(all.count() == 4)
    // partition pruning hits the locally-written directory too
    val b2 = all.filter(col("bucket") === 2)
    assert(b2.select("src", "dst", "gen").as[(Long, Long, Long)].collect()
      .toSeq == Seq((21L, 201L, 2L)))
    val plan = b2.queryExecution.executedPlan.toString
    assert(plan.contains("bucket"), "expected a partition filter on bucket")
    // mixed dir: bucket=1 holds one Spark file and one local file
    val b1 = all.filter(col("bucket") === 1).select("src").as[Long]
      .collect().sorted.toSeq
    assert(b1 == Seq(11L, 22L))
  }

  test("nulls are rejected for required fields, loudly") {
    val dir = fresh("nullreject")
    val e = intercept[IllegalArgumentException] {
      LocalParquet.writeFile(spark, s"$dir/part-00000.parquet",
        Seq("id" -> "long"), Seq(Seq[Any](null)))
    }
    assert(e.getMessage.contains("null for required field id"))
  }
}
