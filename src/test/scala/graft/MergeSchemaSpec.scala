package graft

import graft.operators.TxnMergeOnRead
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Schema evolution on write ([[TxnMergeOnRead.insert]] `mergeSchema`):
  * atomic data+schema commit, default strictness without the flag,
  * NULL-fill for old files, time travel showing the old schema,
  * restore reverting both, checkpoint carry, convergent racing
  * declarations, and usability of evolved columns in later DML.
  */
class MergeSchemaSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 4, appName = "graft-ms")

  override def afterAll(): Unit = spark.stop()

  private var n = 0
  private def mkTable(): String = {
    n += 1
    val root = s"${Engine.scratchRoot}/msspec/t$n"
    import spark.implicits._
    TxnMergeOnRead.create(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    root
  }

  private def df2(rows: Seq[(Long, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "s", "extra")
  }

  test("without the flag, unknown columns are projected away (the" +
      " pre-existing write contract); the schema does not evolve") {
    val root = mkTable()
    TxnMergeOnRead.insert(spark, root, df2(Seq((3L, "c", 30L))))
    val r = TxnMergeOnRead.read(spark, root)
    assert(r.columns.toSeq == Seq("id", "s"))
    assert(r.count() == 3)
  }

  test("mergeSchema declares the column and lands the data in ONE version;" +
      " old rows read NULL") {
    val root = mkTable()
    val v0 = TxnMergeOnRead.currentVersion(spark, root)
    TxnMergeOnRead.insert(spark, root, df2(Seq((3L, "c", 30L))),
      mergeSchema = true)
    assert(TxnMergeOnRead.currentVersion(spark, root) == v0 + 1)
    val r = TxnMergeOnRead.read(spark, root)
    assert(r.columns.toSeq == Seq("id", "s", "extra"))
    val m = r.collect().map(x => x.getLong(0) ->
      (if (x.isNullAt(2)) None else Some(x.getLong(2)))).toMap
    assert(m == Map(1L -> None, 2L -> None, 3L -> Some(30L)))
  }

  test("time travel below the evolving insert shows the OLD schema;" +
      " restore removes data and column together") {
    val root = mkTable()
    val v0 = TxnMergeOnRead.currentVersion(spark, root)
    TxnMergeOnRead.insert(spark, root, df2(Seq((3L, "c", 30L))),
      mergeSchema = true)
    assert(TxnMergeOnRead.readAt(spark, root, v0).columns.toSeq ==
      Seq("id", "s"))
    TxnMergeOnRead.restore(spark, root, v0)
    assert(TxnMergeOnRead.read(spark, root).columns.toSeq == Seq("id", "s"))
    assert(TxnMergeOnRead.read(spark, root).count() == 2)
  }

  test("checkpoint carries the evolved schema past log pruning") {
    val root = mkTable()
    TxnMergeOnRead.insert(spark, root, df2(Seq((3L, "c", 30L))),
      mergeSchema = true)
    TxnMergeOnRead.checkpoint(spark, root)
    // the snapshot reassembled from the checkpoint (not the raw entries)
    // must still project the evolved column, and further evolution stacks
    val r = TxnMergeOnRead.read(spark, root)
    assert(r.columns.toSeq == Seq("id", "s", "extra"))
    assert(r.filter(col("extra") === 30L).count() == 1)
    import spark.implicits._
    TxnMergeOnRead.insert(spark, root,
      Seq((4L, "d", 40L, 4.5)).toDF("id", "s", "extra", "more"),
      mergeSchema = true)
    assert(TxnMergeOnRead.read(spark, root).columns.toSeq ==
      Seq("id", "s", "extra", "more"))
  }

  test("two declarations of the same column converge: first wins, no" +
      " doubled projection") {
    val root = mkTable()
    TxnMergeOnRead.insert(spark, root, df2(Seq((3L, "c", 30L))),
      mergeSchema = true)
    TxnMergeOnRead.insert(spark, root, df2(Seq((4L, "d", 40L))),
      mergeSchema = true) // same column again: marker dedups in the fold
    val r = TxnMergeOnRead.read(spark, root)
    assert(r.columns.toSeq == Seq("id", "s", "extra"))
    assert(r.filter(col("extra").isNotNull).count() == 2)
  }

  test("a later insert supplying the evolved column at a DIVERGENT type is" +
      " cast to the DECLARED type — physical files agree with the fold") {
    val root = mkTable()
    TxnMergeOnRead.insert(spark, root, df2(Seq((3L, "c", 30L))),
      mergeSchema = true) // declares extra BIGINT
    import spark.implicits._
    TxnMergeOnRead.insert(spark, root,
      Seq((4, "d", 40)).toDF("id", "s", "extra"), // INT id + INT extra
      mergeSchema = true)
    val r = TxnMergeOnRead.read(spark, root)
    assert(r.schema("extra").dataType == org.apache.spark.sql.types.LongType)
    assert(r.schema("id").dataType == org.apache.spark.sql.types.LongType)
    assert(r.filter(col("extra") === 40L).count() == 1)
  }

  test("first declaration's type wins even when it is the NARROWER one") {
    val root = mkTable()
    import spark.implicits._
    TxnMergeOnRead.insert(spark, root,
      Seq((3L, "c", 30)).toDF("id", "s", "extra"), mergeSchema = true) // INT
    TxnMergeOnRead.insert(spark, root, df2(Seq((4L, "d", 40L))),
      mergeSchema = true) // BIGINT supplied where INT is declared → cast down
    val r = TxnMergeOnRead.read(spark, root)
    assert(r.schema("extra").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(r.filter(col("extra") === 40).count() == 1)
  }

  test("a diverged-type commit race with FITTING values re-stages at the" +
      " winning type and deletes the superseded stage dir") {
    val root = mkTable()
    import spark.implicits._
    // B stages `extra` as BIGINT with an int-fitting value, then A races
    // in an INT declaration before B's first commit attempt
    TxnMergeOnRead.pauseAfterInsertStage = () => {
      TxnMergeOnRead.pauseAfterInsertStage = () => () // only B pauses
      TxnMergeOnRead.insert(spark, root,
        Seq((3L, "a3", 30)).toDF("id", "s", "extra"), mergeSchema = true)
    }
    try TxnMergeOnRead.insert(spark, root,
      Seq((4L, "a4", 40L)).toDF("id", "s", "extra"), mergeSchema = true)
    finally TxnMergeOnRead.pauseAfterInsertStage = () => ()
    val r = TxnMergeOnRead.read(spark, root)
    assert(r.schema("extra").dataType ==
      org.apache.spark.sql.types.IntegerType) // A's declaration won
    assert(r.filter(col("extra") === 40).count() == 1) // B's value survived
    // B's superseded BIGINT stage dir must not linger unreferenced: every
    // data dir under the root is reachable from the log
    val referenced = TxnMergeOnRead.history(spark, root)
      .select("dir").collect().map(_.getString(0)).toSet
    val onDisk = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && !f.getName.startsWith("_"))
      .map(_.getName).toSet
    assert((onDisk -- referenced).isEmpty,
      s"orphan stage dirs leaked: ${onDisk -- referenced}")
  }

  test("a diverged-type commit race with a NON-FITTING value aborts the" +
      " insert loudly instead of silently wrapping") {
    val root = mkTable()
    import spark.implicits._
    TxnMergeOnRead.pauseAfterInsertStage = () => {
      TxnMergeOnRead.pauseAfterInsertStage = () => ()
      TxnMergeOnRead.insert(spark, root,
        Seq((3L, "a3", 30)).toDF("id", "s", "extra"), mergeSchema = true)
    }
    val tooBig = Int.MaxValue.toLong + 7L
    val e = intercept[IllegalArgumentException] {
      try TxnMergeOnRead.insert(spark, root,
        Seq((4L, "a4", tooBig)).toDF("id", "s", "extra"), mergeSchema = true)
      finally TxnMergeOnRead.pauseAfterInsertStage = () => ()
    }
    assert(e.getMessage.contains("does not fit the winning type"))
    // the aborted writer's rows are NOT visible, and its stage dir is gone
    val r = TxnMergeOnRead.read(spark, root)
    assert(r.filter(col("id") === 4L).count() == 0)
    val referenced = TxnMergeOnRead.history(spark, root)
      .select("dir").collect().map(_.getString(0)).toSet
    val onDisk = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && !f.getName.startsWith("_"))
      .map(_.getName).toSet
    assert((onDisk -- referenced).isEmpty,
      s"aborted insert leaked stage dirs: ${onDisk -- referenced}")
  }

  test("a plain insert casts EXISTING columns to their declared types") {
    val root = mkTable()
    import spark.implicits._
    TxnMergeOnRead.insert(spark, root, Seq((5, "e")).toDF("id", "s")) // INT id
    val r = TxnMergeOnRead.read(spark, root)
    assert(r.schema("id").dataType == org.apache.spark.sql.types.LongType)
    assert(r.filter(col("id") === 5L).count() == 1)
  }

  test("an evolved column is a first-class citizen of later DML") {
    val root = mkTable()
    TxnMergeOnRead.insert(spark, root, df2(Seq((3L, "c", 30L))),
      mergeSchema = true)
    TxnMergeOnRead.update(spark, root, Seq("extra" -> "99"), "id = 1")
    TxnMergeOnRead.delete(spark, root, "extra = 30")
    val m = TxnMergeOnRead.read(spark, root).collect()
      .map(x => x.getLong(0) ->
        (if (x.isNullAt(2)) None else Some(x.getLong(2)))).toMap
    assert(m == Map(1L -> Some(99L), 2L -> None))
  }
}
