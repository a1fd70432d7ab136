package graft

import java.io.File

import graft.operators.ExportImport
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** EXPORT/IMPORT storage-descriptor fidelity (reference:
  * `ExportSemanticAnalyzer.java:47` dumps the FULL descriptor via
  * `EximUtil.createExportDump`): the bucket spec must survive the
  * round-trip — a bucketed table that imports unbucketed silently loses
  * every future join's shuffle elision — and identifiers must re-enter
  * DDL quoted, so reserved-word column names don't break the import. */
class ExportImportSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 4, appName = "graft-eximp")

  override def afterAll(): Unit = spark.stop()

  private val scratch = s"${Engine.scratchRoot}/eximpspec"

  private def dropAll(names: String*): Unit = names.foreach { t =>
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
    FileUtils.deleteQuietly(new File(
      s"${Engine.scratchRoot}/warehouse/${t.toLowerCase}"))
  }

  test("bucket spec survives the round-trip and the SMB join stays shuffle-free") {
    dropAll("gx_src", "gx_imp", "gx_dim")
    FileUtils.deleteQuietly(new File(s"$scratch/exp1"))
    spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS v")
      .write.bucketBy(4, "k").sortBy("k").saveAsTable("gx_src")
    spark.range(0, 1000).selectExpr("id AS k", "id % 7 AS w")
      .write.bucketBy(4, "k").sortBy("k").saveAsTable("gx_dim")
    ExportImport.exportTable(spark, "gx_src", s"$scratch/exp1")
    spark.sql("DROP TABLE gx_src") // managed: the import can't cheat
    ExportImport.importTable(spark, s"$scratch/exp1", "gx_imp")

    val bs = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier("gx_imp")).bucketSpec
    assert(bs.exists(b => b.numBuckets == 4 &&
      b.bucketColumnNames == Seq("k") && b.sortColumnNames == Seq("k")),
      s"bucket spec lost in round-trip: $bs")
    assert(spark.table("gx_imp").count() === 1000)

    // the property the spec protects: imported ⋈ co-bucketed is SMB with
    // NO exchange on the join key (broadcast off so the small tables take
    // the path a 100 TB join would)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = spark.table("gx_imp").join(spark.table("gx_dim"), "k")
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), "expected SMB over buckets")
      assert(!plan.contains("Exchange hashpartitioning(k"),
        s"imported bucketed join must not shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("reserved-word identifiers survive the round-trip quoted") {
    dropAll("gx_res", "gx_res_imp")
    FileUtils.deleteQuietly(new File(s"$scratch/exp2"))
    // `from` and `order` are reserved words: unquoted re-entry into DDL
    // fails to parse, which is exactly the hygiene defect under test
    spark.sql("CREATE TABLE `gx_res` (`from` STRING, `select` BIGINT, `order` INT) " +
      "USING parquet PARTITIONED BY (`order`)")
    spark.sql("INSERT INTO `gx_res` SELECT CAST(id AS STRING), id * 10, " +
      "CAST(id % 3 AS INT) FROM range(30)")
    ExportImport.exportTable(spark, "gx_res", s"$scratch/exp2")
    spark.sql("DROP TABLE `gx_res`")
    ExportImport.importTable(spark, s"$scratch/exp2", "gx_res_imp")
    val got = spark.table("gx_res_imp")
    assert(got.count() === 30)
    assert(got.schema.fieldNames.toSeq.sorted === Seq("from", "order", "select"))
    assert(got.where("`order` = 1").count() === 10)
    // partitioning preserved too
    val meta = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier("gx_res_imp"))
    assert(meta.partitionColumnNames === Seq("order"))
  }
}
