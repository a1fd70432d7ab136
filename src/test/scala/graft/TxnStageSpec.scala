package graft

import java.io.File

import graft.operators.{MetaCache, Stores, TxnMergeOnRead, TxnSql}
import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The transactional stage ([[TxnMergeOnRead]]'s one write path for
  * INSERT, INSERT BATCH, UPDATE, DELETE, MERGE and MINOR compaction).
  *
  * A stage of at most [[Stores.ID_CAP]] rows is written from the driver;
  * in a larger one Spark writes the rows its bounded action did not hand
  * over. On a table holding every column type a txn
  * table accepts, the same statements run once on the driver path and
  * once with `ID_CAP + 1` extra rows per statement (the Spark path): the
  * snapshot, the change feed and the footers' schemas must agree. Each
  * DML kind's job count on a small table is pinned, and a crash at any
  * filesystem mutation of an INSERT, UPDATE or MERGE leaves the pre-state
  * or the post-state, with every log entry naming a dir that exists.
  */
class TxnStageSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val base = s"${Engine.scratchRoot}/txnstagespec"

  override def beforeAll(): Unit = {
    spark = Engine.session(cores = 2, appName = "graft-txnstage")
    spark.sparkContext.hadoopConfiguration
      .set("fs.crashfs.impl", classOf[CrashFs].getName)
    FileUtils.deleteQuietly(new File(base))
  }

  override def afterAll(): Unit = spark.stop()

  /** Every column type a txn table accepts; `n` rows from id `from`. */
  private def rowsOf(from: Long, n: Long): DataFrame =
    spark.range(from, from + n).selectExpr(
      "id",
      "CAST(id % 1000 AS INT) AS i",
      "id / 4.0D AS d",
      "CAST(id % 1000 * 1.25 AS DECIMAL(10,2)) AS dm",
      "CAST(concat(CAST(id AS STRING), '2345678901.123456') AS DECIMAL(38,6)) AS dw",
      "CASE WHEN id % 4 = 0 THEN NULL ELSE concat('s', id) END AS str",
      "date_add(DATE'2024-01-01', CAST(id % 1000 AS INT)) AS dt",
      "timestamp_seconds(1700000000 + id * 3600) AS ts",
      "id % 2 = 0 AS b",
      "CAST(concat('b', id) AS BINARY) AS bin",
      "array(CAST(id % 1000 AS INT), CAST(id % 1000 AS INT) + 1) AS arr",
      "map(concat('k', id), CAST(id % 1000 AS INT)) AS m",
      "named_struct('a', id, 'b', concat('x', id)) AS st")

  /** A VALUES tuple of [[rowsOf]]'s shape. */
  private def tuple(id: Long): String =
    s"($id, ${id % 7}, ${id}.5D, CAST(${id % 7}.25 AS DECIMAL(10,2)), " +
      s"CAST('$id.000001' AS DECIMAL(38,6)), " +
      (if (id % 3 == 0) "NULL" else s"'v$id'") +
      s", DATE'2024-02-0${id % 9 + 1}', TIMESTAMP'2024-02-01 10:00:0${id % 10}', " +
      s"${id % 2 == 1}, X'0${id % 10}0A', array($id, 2), map('v', 1), " +
      s"named_struct('a', $id, 'b', 'w'))"

  private val Filler = Stores.ID_CAP + 1L

  /** The statements, in order, for one table; with `big` every statement
    * also stages [[Filler]] rows of its own id band (≥ 1 000 000), which
    * the checks filter out. */
  private def runAll(name: String, root: String, big: Boolean): Unit = {
    val band = (k: Long) => if (big) Some(k * 1000000L) else None
    // INSERT VALUES (the filler tuples ride in the same statement)
    val fill1 = band(1).toSeq.flatMap(b => (b until b + Filler).map(tuple))
    TxnSql.exec(spark, s"INSERT INTO $name VALUES " +
      ((Seq(100L, 101L, 102L).map(tuple) ++ fill1).mkString(", ")))
    // INSERT SELECT
    (rowsOf(200, 5) +: band(2).toSeq.map(rowsOf(_, Filler)))
      .reduce(_ union _).createOrReplaceTempView(s"${name}_src")
    TxnSql.exec(spark, s"INSERT INTO $name SELECT * FROM ${name}_src")
    // UPDATE: every typed column moves
    TxnSql.exec(spark, s"UPDATE $name SET i = i + 1, d = d * 2, " +
      "dm = dm + 1, dw = dw - 1, str = concat(str, '!'), " +
      "dt = date_add(dt, 1), ts = ts + INTERVAL 1 HOUR, b = NOT b, " +
      "bin = concat(bin, X'FF'), arr = array_append(arr, 9), " +
      "m = map_concat(m, map('u', 1)), st = named_struct('a', st.a + 1, 'b', st.b) " +
      "WHERE id < 10 OR id >= 1000000 AND id < 3000000")
    // DELETE
    TxnSql.exec(spark, s"DELETE FROM $name WHERE id % 3 = 0 AND id < 1000 " +
      "OR id >= 2000000 AND id < 3000000")
    // three-clause MERGE: delete, update, insert (filler: updates)
    (rowsOf(0, 12).withColumn("op",
        when(col("id") % 5 === 0, lit("d")).otherwise(lit("u")))
      .union(rowsOf(300, 4).withColumn("op", lit("i"))) +:
      band(1).toSeq.map(rowsOf(_, Filler).withColumn("op", lit("u"))))
      .reduce(_ union _).createOrReplaceTempView(s"${name}_msrc")
    TxnSql.exec(spark,
      s"""MERGE INTO $name AS tgt USING ${name}_msrc AS src ON tgt.id = src.id
         |WHEN MATCHED AND src.op = 'd' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET i = src.i + 100, str = src.str, m = src.m
         |WHEN NOT MATCHED THEN INSERT (id, i, d, dm, dw, str, dt, ts, b, bin,
         |  arr, m, st) VALUES (src.id, src.i, src.d, src.dm, src.dw, src.str,
         |  src.dt, src.ts, src.b, src.bin, src.arr, src.m, src.st)""".stripMargin)
    // exactly-once batch insert
    assert(TxnMergeOnRead.insertBatch(spark, root, "batch-1",
      (rowsOf(400, 4) +: band(3).toSeq.map(rowsOf(_, Filler))).reduce(_ union _)))
  }

  private def mkTable(name: String, root: String): Unit = {
    FileUtils.deleteQuietly(new File(root))
    TxnMergeOnRead.create(spark, root, rowsOf(0, 20))
    TxnSql.register(name, root)
  }

  private def json(df: DataFrame): Seq[String] =
    df.toJSON.collect().toSeq.sorted

  /** (version → dir) of every log entry under `root`. */
  private def entryDirs(root: String): Seq[(Long, String)] =
    new File(s"$root/_txnlog").listFiles().toSeq
      .filter(_.getName.endsWith(".json")).map { f =>
        val body = FileUtils.readFileToString(f, "UTF-8")
        f.getName.stripSuffix(".json").toLong ->
          "\"dir\":\"([^\"]*)\"".r.findFirstMatchIn(body).get.group(1)
      }.sortBy(_._1)

  private def dataFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  /** (Spark schema metadata, parquet message type) of a file's footer. */
  private def footer(f: File): (String, String) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(f.getPath), spark.sparkContext.hadoopConfiguration))
    try {
      val md = r.getFooter.getFileMetaData
      (md.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"),
        md.getSchema.toString)
    } finally r.close()
  }

  test("driver path and Spark path: equal snapshots, change feeds and " +
      "footer schemas over every column type") {
    val small = s"$base/small"
    val big = s"$base/big"
    mkTable("stage_small", small)
    mkTable("stage_big", big)
    runAll("stage_small", small, big = false)
    runAll("stage_big", big, big = true)
    val head = TxnMergeOnRead.currentVersion(spark, small)
    assert(head == 7L && TxnMergeOnRead.currentVersion(spark, big) == head)
    val mine = col("id") < 1000000
    val snap = json(TxnMergeOnRead.read(spark, small))
    // 20 + 3 + 5 inserted, 10 deleted, MERGE −2 +8, batch +4
    assert(snap.size == 28)
    assert(snap == json(TxnMergeOnRead.read(spark, big).filter(mine)))
    assert(TxnMergeOnRead.read(spark, big).filter(!mine).count() == Filler * 2)
    for (v <- 1L until head) {
      val cdc = json(TxnMergeOnRead.changesBetween(spark, small, v, head))
      assert(cdc.nonEmpty)
      assert(cdc == json(TxnMergeOnRead.changesBetween(spark, big, v, head)
        .filter(mine)), s"changes above version $v")
    }
    // per statement and half: one driver-written file against Spark's
    // part files (beside the rows the big stage's action handed over),
    // with identical footer schemas; and the schema the
    // stage left in MetaCache is the one a footer read infers
    val pairs = entryDirs(small).drop(1).zip(entryDirs(big).drop(1))
    assert(pairs.size == 6)
    for (((v, ds), (_, db)) <- pairs; half <- Seq("insert", "delete")) {
      val fs = dataFiles(new File(s"$small/$ds/$half"))
      val fb = dataFiles(new File(s"$big/$db/$half"))
      assert(fs.size == fb.size.min(1), s"version $v $half: files")
      assert(fs.map(_.getName).forall(_ == "part-00000.parquet"))
      fs.foreach(f => assert(new File(f.getParent, s".${f.getName}.crc").isFile,
        s"version $v $half: no checksum beside the driver-written file"))
      if (fs.nonEmpty) {
        assert(fb.exists(_.getName != "part-00000.parquet"),
          s"version $v $half: Spark wrote no part files above the cap")
        val want = footer(fs.head)
        fb.foreach(f => assert(footer(f) == want, s"version $v $half footer"))
        for (root <- Seq(small, big); dir <- Seq(ds, db)
            if new File(s"$root/$dir/$half").exists())
          assert(MetaCache.schema(spark, s"$root/$dir/$half") ==
            spark.read.parquet(s"$root/$dir/$half").schema)
      }
    }
  }

  test("INSERT VALUES widens mixed-type tuples as a union does and takes " +
      "scalar subqueries") {
    val root = s"$base/values"
    FileUtils.deleteQuietly(new File(root))
    TxnMergeOnRead.create(spark, root, spark.range(0).selectExpr("id",
      "CAST(NULL AS STRING) AS s", "CAST(NULL AS DOUBLE) AS x"))
    TxnSql.register("stage_values", root)
    spark.range(10).createOrReplaceTempView("stage_values_src")
    // id: int and string widen to string, s: string and int to string,
    // x: decimal and int to decimal — each then cast to the declared type
    TxnSql.exec(spark, "INSERT INTO stage_values VALUES (1, 'a', 1.5), " +
      "('2', 3, 2)")
    TxnSql.exec(spark, "INSERT INTO stage_values VALUES " +
      "((SELECT max(id) FROM stage_values_src) + 1, 'q', 0.25), (11, 'r', 1)")
    TxnSql.exec(spark, "INSERT INTO stage_values (id, x) VALUES " +
      "(12, 1), (13, NULL)")
    assert(TxnMergeOnRead.read(spark, root).orderBy("id").collect().toSeq
      .map(r => (r.getLong(0), Option(r.getString(1)),
        Option(r.get(2)).map(_.asInstanceOf[Double]))) == Seq(
      (1L, Some("a"), Some(1.5)), (2L, Some("3"), Some(2.0)),
      (10L, Some("q"), Some(0.25)), (11L, Some("r"), Some(1.0)),
      (12L, None, Some(1.0)), (13L, None, None)))
  }

  test("above the cap, a MERGE that matches a target row twice still " +
      "fails its cardinality check") {
    val root = s"$base/dup"
    mkTable("stage_dup", root)
    rowsOf(3, 1).union(rowsOf(3, 1)).union(rowsOf(1000000, Filler))
      .createOrReplaceTempView("stage_dup_src")
    val before = json(TxnMergeOnRead.read(spark, root))
    val e = intercept[IllegalArgumentException](TxnSql.exec(spark,
      """MERGE INTO stage_dup AS tgt USING stage_dup_src AS src
        |ON tgt.id = src.id
        |WHEN MATCHED THEN UPDATE SET i = src.i
        |WHEN NOT MATCHED THEN INSERT (id, i, d, dm, dw, str, dt, ts, b,
        |  bin, arr, m, st) VALUES (src.id, src.i, src.d, src.dm, src.dw,
        |  src.str, src.dt, src.ts, src.b, src.bin, src.arr, src.m,
        |  src.st)""".stripMargin))
    assert(e.getMessage.contains("cardinality violation"))
    assert(json(TxnMergeOnRead.read(spark, root)) == before)
  }

  private def jobsDuring(body: => Unit): Int = JobCounter.during(spark)(body)._2.count

  test("job counts per DML kind on a small table are pinned") {
    val root = s"$base/jobs"
    mkTable("stage_jobs", root)
    TxnMergeOnRead.read(spark, root).count() // base dir schema remembered
    rowsOf(500, 3).createOrReplaceTempView("stage_jobs_src")
    rowsOf(0, 6).withColumn("op", lit("u")).union(rowsOf(600, 2)
      .withColumn("op", lit("i"))).createOrReplaceTempView("stage_jobs_msrc")
    val counts = Seq(
      "INSERT VALUES" -> (() => TxnSql.exec(spark,
        s"INSERT INTO stage_jobs VALUES ${tuple(100)}, ${tuple(101)}")),
      "INSERT SELECT" -> (() => TxnSql.exec(spark,
        "INSERT INTO stage_jobs SELECT * FROM stage_jobs_src")),
      "UPDATE" -> (() => TxnSql.exec(spark,
        "UPDATE stage_jobs SET i = i + 1 WHERE id < 5")),
      "DELETE" -> (() => TxnSql.exec(spark,
        "DELETE FROM stage_jobs WHERE id = 7")),
      "MERGE" -> (() => TxnSql.exec(spark,
        """MERGE INTO stage_jobs AS tgt USING stage_jobs_msrc AS src
          |ON tgt.id = src.id
          |WHEN MATCHED AND src.op = 'd' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET i = src.i
          |WHEN NOT MATCHED THEN INSERT (id, i, d, dm, dw, str, dt, ts, b,
          |  bin, arr, m, st) VALUES (src.id, src.i, src.d, src.dm, src.dw,
          |  src.str, src.dt, src.ts, src.b, src.bin, src.arr, src.m,
          |  src.st)""".stripMargin)),
      "INSERT BATCH" -> (() => TxnMergeOnRead.insertBatch(spark, root, "b1",
        rowsOf(700, 2))),
      "SELECT" -> (() => spark.sql(TxnSql.rewriteReads(spark,
        "SELECT * FROM stage_jobs WHERE id = 3")).collect()),
      "SELECT AGGREGATE" -> (() => spark.sql(TxnSql.rewriteReads(spark,
        "SELECT count(*), sum(i) FROM stage_jobs")).collect())
    ).map { case (k, run) => k -> jobsDuring(run()) }
    // the stage is one job; the rest is the snapshot's own plan. Live
    // deletes cost none: their rids are in hand on the driver and filter
    // the one scan. MERGE broadcasts the snapshot side of its join (one
    // more job), and a snapshot SELECT runs only its own jobs
    assert(counts == Seq("INSERT VALUES" -> 0, "INSERT SELECT" -> 1,
      "UPDATE" -> 1, "DELETE" -> 1, "MERGE" -> 2, "INSERT BATCH" -> 1,
      "SELECT" -> 1, "SELECT AGGREGATE" -> 2))
    assert(json(TxnMergeOnRead.read(spark, root)).size == 20 + 2 + 3 - 1 + 2 + 2)
  }

  private def quiesce(): Unit = {
    val st = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while ((st.getActiveJobIds.nonEmpty || st.getActiveStageIds.nonEmpty) &&
        System.nanoTime() < deadline) Thread.sleep(20)
  }

  /** Crash `op` at each of its filesystem mutations in turn on a copy of
    * the table; a fresh session then reads the pre- or the post-state and
    * every log entry names a dir that exists. */
  private def crashSweep(name: String, op: String => Unit): Unit = {
    val local = s"$base/crash_$name"
    val golden = s"${local}_golden"
    val root = s"crashfs://$local"
    FileUtils.deleteQuietly(new File(local))
    TxnMergeOnRead.create(spark, root, rowsOf(0, 20))
    FileUtils.deleteQuietly(new File(golden))
    FileUtils.copyDirectory(new File(local), new File(golden))
    def restore(): Unit = {
      var tries = 0
      while (scala.util.Try(FileUtils.deleteDirectory(new File(local)))
          .isFailure && tries < 50) { tries += 1; Thread.sleep(20) }
      FileUtils.copyDirectory(new File(golden), new File(local))
    }
    def read(): Seq[String] = json(TxnMergeOnRead.read(spark.newSession(), root))
    def entriesResolve(): Unit = entryDirs(local).foreach { case (v, d) =>
      assert(d.isEmpty || new File(s"$local/$d").isDirectory,
        s"$name: log entry $v names missing dir $d")
    }
    val pre = read()
    CrashFs.arm(Long.MaxValue)
    op(root)
    val n = CrashFs.disarm()
    val post = read()
    assert(post != pre, s"$name changed nothing")
    var crashed = 0
    for (i <- 0L until n) {
      restore()
      CrashFs.arm(i)
      if (scala.util.Try(op(root)).isFailure) crashed += 1
      quiesce()
      CrashFs.disarm()
      val got = read()
      assert(got == pre || got == post,
        s"$name crashed at mutation $i of $n: neither pre nor post")
      entriesResolve()
    }
    assert(n >= 3 && crashed == n, s"$name: $crashed of $n crash points failed")
  }

  test("INSERT: every crash point reads as the pre-state or the post-state") {
    crashSweep("insert", root => TxnMergeOnRead.insert(spark, root,
      rowsOf(100, 3)))
  }

  test("UPDATE: every crash point reads as the pre-state or the post-state") {
    crashSweep("update", root => TxnMergeOnRead.update(spark, root,
      Seq("i" -> "i + 1", "str" -> "concat(str, '!')"), "id < 5"))
  }

  test("MERGE: every crash point reads as the pre-state or the post-state") {
    crashSweep("merge", root => TxnMergeOnRead.merge(spark, root,
      rowsOf(15, 10), "t.id = s.id",
      matchedSet = Seq("i" -> "s.i + 100"),
      matchedDelete = Some("s.id = 16"),
      notMatchedInsert = Some(rowsOf(0, 1).columns.toSeq.map(c => c -> s"s.$c"))))
  }
}
