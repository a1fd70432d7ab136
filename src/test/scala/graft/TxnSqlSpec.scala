package graft

import java.io.File

import graft.operators.{TxnMergeOnRead, TxnSql}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Textual DML parsing and routing ([[graft.operators.TxnSql]]): statement
  * text → [[TxnMergeOnRead]] operations, mirroring the reference's
  * UpdateDeleteSemanticAnalyzer / MergeSemanticAnalyzer rewrite. The q216
  * CORRECTNESS row pins the full chain against the oracle; this spec pins
  * the parser edges — quote awareness, alias plumbing, clause precedence,
  * and the clear errors for unsupported or malformed forms. */
class TxnSqlSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 4, appName = "graft-txnsql")
  import spark.implicits._

  override def afterAll(): Unit = spark.stop()

  private val base = s"${Engine.scratchRoot}/txnsqlspec"

  private def mk(tag: String): String = {
    val root = s"$base/$tag"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
    TxnMergeOnRead.create(spark, root,
      spark.range(0, 100).select(col("id").as("k"), (col("id") * 10).as("v"),
        lit("x").as("tag")))
    TxnSql.register(s"tsql_$tag", root)
    root
  }

  test("UPDATE: assignments, WHERE, and quote-hidden keywords") {
    val root = mk("upd")
    // the literal contains WHERE, a comma and a doubled quote — none of
    // them may derail the clause scanner
    TxnSql.exec(spark,
      s"UPDATE tsql_upd SET v = v + 1, tag = 'a,''WHERE'' b' WHERE k < 10")
    val got = TxnMergeOnRead.read(spark, root)
    assert(got.filter(col("k") < 10)
      .filter(col("v") =!= col("k") * 10 + 1).count() === 0)
    assert(got.filter(col("k") < 10).filter(col("tag") =!= "a,'WHERE' b")
      .count() === 0, "doubled quote decodes to one quote inside the literal")
    assert(got.filter(col("k") >= 10).filter(col("tag") =!= "x").count() === 0)
  }

  test("UPDATE without WHERE touches every row; DELETE FROM with WHERE") {
    val root = mk("updall")
    TxnSql.exec(spark, "UPDATE tsql_updall SET v = 0")
    assert(TxnMergeOnRead.read(spark, root).filter(col("v") =!= 0)
      .count() === 0)
    TxnSql.exec(spark, "DELETE FROM tsql_updall WHERE k >= 50")
    assert(TxnMergeOnRead.read(spark, root).count() === 50)
  }

  test("MERGE: aliases flow into conditions; delete beats update; view source") {
    val root = mk("mrg")
    spark.range(50, 150).select(col("id").as("sk"), lit(7L).as("nv"))
      .createOrReplaceTempView("tsql_mrg_src")
    TxnSql.exec(spark,
      """MERGE INTO tsql_mrg AS tgt USING tsql_mrg_src AS src
        |ON tgt.k = src.sk
        |WHEN MATCHED AND src.sk % 10 = 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = src.nv
        |WHEN NOT MATCHED THEN INSERT (k, v, tag) VALUES (src.sk, src.nv, 'new')""".stripMargin)
    val got = TxnMergeOnRead.read(spark, root)
    assert(got.count() === 100 - 5 + 50)
    assert(got.filter(col("k") >= 50 && col("k") < 100 && col("k") % 10 === 0)
      .count() === 0, "matched-delete wins over matched-update")
    assert(got.filter(col("k") >= 50 && col("k") < 100)
      .filter(col("v") =!= 7L).count() === 0)
    assert(got.filter(col("k") >= 100)
      .filter(col("v") =!= 7L || col("tag") =!= "new").count() === 0)
  }

  test("MERGE: INSERT without a column list maps positionally") {
    val root = mk("mrgpos")
    spark.range(500, 505).select(col("id").as("sk"))
      .createOrReplaceTempView("tsql_mrgpos_src")
    TxnSql.exec(spark,
      """MERGE INTO tsql_mrgpos t USING tsql_mrgpos_src s ON t.k = s.sk
        |WHEN NOT MATCHED THEN INSERT VALUES (s.sk, s.sk * 2, 'pos')""".stripMargin)
    val got = TxnMergeOnRead.read(spark, root).filter(col("k") >= 500)
    assert(got.count() === 5)
    assert(got.filter(col("v") =!= col("k") * 2).count() === 0)
  }

  test("handles() routes only registered tables; clear errors otherwise") {
    mk("route")
    assert(TxnSql.handles("UPDATE tsql_route SET v = 1"))
    assert(TxnSql.handles("DELETE FROM tsql_route WHERE k = 1"))
    assert(TxnSql.handles("MERGE INTO tsql_route t USING x s ON t.k = s.k"))
    assert(!TxnSql.handles("UPDATE unregistered_tbl SET v = 1"))
    assert(!TxnSql.handles("SELECT * FROM tsql_route"))
    val e = intercept[IllegalArgumentException](
      TxnSql.exec(spark, "UPDATE not_a_txn_table SET v = 1"))
    assert(e.getMessage.contains("not a registered transactional table"))
  }

  test("Engine.sql transparently routes txn DML; SELECT still hits Spark") {
    val root = mk("engine")
    val dir = "/root/testdata/sf0.001"
    val got = Engine.sql(spark, dir,
      "UPDATE tsql_engine SET v = v + 100 WHERE k < 3")
    assert(got.filter(col("k") < 3).filter(col("v") =!= col("k") * 10 + 100)
      .count() === 0, "DML returns the post-statement snapshot")
    assert(TxnMergeOnRead.read(spark, root)
      .filter(col("k") < 3).filter(col("v") =!= col("k") * 10 + 100)
      .count() === 0, "the statement actually committed to the log")
    // a plain query against the warehouse still goes through Spark SQL
    assert(Engine.sql(spark, dir, "SELECT count(*) AS n FROM region")
      .head().getLong(0) === 5L)
  }

  test("conditional WHEN clauses: delete wins, update guard, insert guard, rest untouched") {
    val root = mk("cond")
    spark.range(50, 151).select(col("id").as("sk"))
      .createOrReplaceTempView("tsql_cond_src")
    TxnSql.exec(spark,
      """MERGE INTO tsql_cond t USING tsql_cond_src s ON t.k = s.sk
        |WHEN MATCHED AND s.sk % 10 = 0 THEN DELETE
        |WHEN MATCHED AND s.sk % 3 = 0 THEN UPDATE SET v = -1
        |WHEN NOT MATCHED AND s.sk < 120 THEN INSERT (k, v, tag) VALUES (s.sk, 0, 'c')""".stripMargin)
    val got = TxnMergeOnRead.read(spark, root)
    // matched 50..99: %10=0 deleted (5 rows, incl. 60/90 which also hit
    // the update guard — delete wins); else %3=0 updated; else untouched
    assert(got.count() === 100 - 5 + 20, "5 deleted, 20 guarded inserts (sk<120)")
    assert(got.filter(col("k") >= 50 && col("k") < 100 && col("k") % 10 === 0)
      .count() === 0)
    assert(got.filter(col("k") >= 50 && col("k") < 100 &&
      col("k") % 3 === 0 && col("k") % 10 =!= 0)
      .filter(col("v") =!= -1L).count() === 0, "guarded update applied")
    assert(got.filter(col("k") >= 50 && col("k") < 100 &&
      col("k") % 3 =!= 0 && col("k") % 10 =!= 0)
      .filter(col("v") =!= col("k") * 10).count() === 0,
      "matched rows satisfying neither guard stay untouched")
    assert(got.filter(col("k") >= 120).count() === 0,
      "unmatched source rows failing the insert guard are dropped")
    assert(got.filter(col("k") >= 100 && col("k") < 120)
      .filter(col("v") =!= 0L || col("tag") =!= "c").count() === 0)
  }

  test("utility statements: DESCRIBE HISTORY, RESTORE, VACUUM, CHECKPOINT") {
    val root = mk("util")
    TxnSql.exec(spark, "UPDATE tsql_util SET v = v + 1 WHERE k < 5")    // v2
    TxnSql.exec(spark, "DELETE FROM tsql_util WHERE k >= 90")           // v3
    val hist = TxnSql.query(spark, "DESCRIBE HISTORY tsql_util")
      .orderBy("version").collect()
    assert(hist.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "create"), (2L, "mutate"), (3L, "mutate")))
    // textual point-in-time rollback
    TxnSql.exec(spark, "RESTORE tsql_util TO VERSION AS OF 2")          // v4
    assert(TxnMergeOnRead.read(spark, root).count() === 100,
      "restore undid the delete")
    // explicit checkpoint + pruning vacuum through text
    TxnSql.exec(spark, "CHECKPOINT tsql_util")
    assert(new File(s"$root/_txnlog").listFiles()
      .exists(_.getName.endsWith(".ckpt")))
    TxnSql.exec(spark, "VACUUM tsql_util RETAIN 1 VERSIONS PRUNE LOG")
    assert(TxnMergeOnRead.read(spark, root).count() === 100)
    assert(TxnSql.query(spark, "DESCRIBE HISTORY tsql_util")
      .filter(col("action") === "checkpoint").count() >= 1,
      "history shows the pruned prefix's checkpoint")
    intercept[IllegalStateException](
      TxnMergeOnRead.readAt(spark, root, 2L).count())
  }

  test("OPTIMIZE: plain compaction and ZORDER BY with FILES, content-preserving") {
    val root = mk("opt")
    TxnSql.exec(spark, "UPDATE tsql_opt SET v = v + 1 WHERE k % 3 = 0")  // v2
    val before = TxnMergeOnRead.read(spark, root).orderBy("k").collect().toSeq
    TxnSql.exec(spark, "OPTIMIZE tsql_opt")                              // v3: plain fold
    assert(TxnMergeOnRead.read(spark, root).orderBy("k").collect().toSeq == before)
    TxnSql.exec(spark, "OPTIMIZE tsql_opt ZORDER BY (k, v) FILES 4")     // v4: clustered
    assert(TxnMergeOnRead.read(spark, root).orderBy("k").collect().toSeq == before)
    val hist = TxnSql.query(spark, "DESCRIBE HISTORY tsql_opt")
      .filter(col("action") === "compact").count()
    assert(hist == 2, "both OPTIMIZE statements committed as compactions")
    TxnMergeOnRead.analyze(spark, root)
    // the z-ordered base really is clustered: a 2-D slice prunes files
    import graft.operators.DataSkipping.Band
    val (kept, total) = TxnMergeOnRead.scanProfile(spark, root,
      Seq(Band("k", 10L, 20L), Band("v", 20L, 45L)))
    assert(total >= 4 && kept < total, s"z-order slice must prune: $kept/$total")
  }

  test("CREATE ... GENERATED (...): declared textually, computed on textual" +
      " INSERT (no NULL-fill poisoning), recomputed on UPDATE") {
    val root = s"$base/gen"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
    TxnSql.execDdl(spark,
      s"""CREATE TRANSACTIONAL TABLE tsql_gen LOCATION '$root'
         |GENERATED (vb AS CAST(floor(v) AS BIGINT), vr AS round(v, 1)) AS
         |SELECT id AS k, CAST(id AS DOUBLE) * 1.5 AS v FROM range(4)""".stripMargin)
    assert(TxnMergeOnRead.generatedColsOf(spark, root) ==
      Seq("vb" -> "CAST(floor(v) AS BIGINT)", "vr" -> "round(v, 1)"))
    // textual INSERT names only the data columns: the generated ones must
    // be COMPUTED, not NULL-filled (a NULL would violate the reserved CHECK)
    TxnSql.exec(spark, "INSERT INTO tsql_gen (k, v) VALUES (10, 7.25)")
    val got = TxnMergeOnRead.read(spark, root).filter(col("k") === 10).head()
    assert((got.getLong(2), got.getDouble(3)) == (7L, 7.3))
    // textual UPDATE of the base column recomputes both
    TxnSql.exec(spark, "UPDATE tsql_gen SET v = v + 1 WHERE k = 10")
    val up = TxnMergeOnRead.read(spark, root).filter(col("k") === 10).head()
    assert((up.getDouble(1), up.getLong(2), up.getDouble(3)) == (8.25, 8L, 8.3))
    // supplying an inconsistent value textually is rejected by name
    val ex = intercept[IllegalArgumentException] {
      TxnSql.exec(spark, "INSERT INTO tsql_gen (k, v, vb, vr) " +
        "VALUES (11, 2.5, 99, 2.5)")
    }
    assert(ex.getMessage.contains("__gen_vb"))
  }

  test("DESCRIBE DETAIL: one-row metadata summary tracks DML, checkpoint," +
      " constraints, and generated columns") {
    val root = mk("detail")
    def d() = TxnSql.query(spark, "DESCRIBE DETAIL tsql_detail").head()
    val d0 = d()
    assert(d0.getString(0) == root)
    assert(d0.getLong(1) == 1L && d0.getLong(2) == -1L) // v1, no checkpoint
    assert(d0.getLong(3) == 1L) // just the base dir
    TxnSql.exec(spark, "INSERT INTO tsql_detail VALUES (900, 1, 'x')")
    TxnSql.exec(spark, "ALTER TABLE tsql_detail ADD CONSTRAINT pos CHECK (k >= 0)")
    TxnSql.exec(spark, "CHECKPOINT tsql_detail")
    val d1 = d()
    assert(d1.getLong(1) == 3L && d1.getLong(2) == 3L) // head = ckpt = v3
    assert(d1.getLong(3) == 2L) // base + one insert delta
    assert(d1.getLong(6) == 1L) // the CHECK, not counting gen internals
    assert(d1.getLong(4) >= 2L && d1.getLong(5) > 0L)
    TxnSql.exec(spark, "OPTIMIZE tsql_detail")
    assert(d().getLong(3) == 1L, "compaction folds back to one live dir")
  }

  test("malformed forms fail with named errors, not silent misparses") {
    mk("err")
    val e3 = intercept[IllegalArgumentException](
      TxnSql.exec(spark, "UPDATE tsql_err SET WHERE k = 1"))
    assert(e3.getMessage.contains("'='"))
    val e4 = intercept[IllegalArgumentException](TxnSql.exec(spark,
      """MERGE INTO tsql_err t USING (SELECT 1 AS sk) s ON t.k = s.sk
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (1)""".stripMargin))
    assert(e4.getMessage.contains("arity"))
    val e5 = intercept[IllegalArgumentException](TxnSql.exec(spark,
      """MERGE INTO tsql_err t USING (SELECT 1 AS sk) s ON t.k = s.sk
        |WHEN MATCHED THEN UPDATE SET v = 1
        |WHEN MATCHED AND s.sk = 2 THEN UPDATE SET v = 2""".stripMargin))
    assert(e5.getMessage.contains("duplicate MATCHED UPDATE"))
  }

  test("INSERT VALUES: multi-tuple, positional, literals coerced to the declared types") {
    val root = mk("ins")
    // v is BIGINT — the 7.7 literal must conform to the column type (Hive's
    // implicit insert coercion, legacy cast truncates), not write a file
    // whose parquet type diverges from the table's
    TxnSql.exec(spark,
      "INSERT INTO tsql_ins VALUES (200, 2000, 'y'), (201, 7.7, 'z')")
    val got = TxnMergeOnRead.read(spark, root)
    assert(got.count() === 102)
    assert(got.filter(col("k") === 201).select("v").as[Long].head() === 7L)
    assert(got.schema("v").dataType ===
      org.apache.spark.sql.types.LongType)
  }

  test("INSERT with a column list fills unnamed columns with typed NULLs") {
    val root = mk("insnull")
    TxnSql.exec(spark, "INSERT INTO TABLE tsql_insnull (k) VALUES (300)")
    val row = TxnMergeOnRead.read(spark, root).filter(col("k") === 300)
    assert(row.count() === 1)
    assert(row.filter(col("v").isNull && col("tag").isNull).count() === 1,
      "unnamed v and tag arrive as NULL — the schema-evolution fill rule")
  }

  test("INSERT INTO ... SELECT may read txn tables, including the target") {
    val root = mk("insself")
    TxnSql.exec(spark,
      "INSERT INTO tsql_insself SELECT k + 1000, v, tag FROM tsql_insself WHERE k < 3")
    val got = TxnMergeOnRead.read(spark, root)
    assert(got.count() === 103)
    assert(got.filter(col("k") >= 1000).count() === 3,
      "source SELECT evaluated against the pre-insert snapshot")
  }

  test("rewriteReads: registered names swap for views, time travel pins, text without them passes through") {
    val root = mk("rr")
    TxnSql.exec(spark, "DELETE FROM tsql_rr WHERE k >= 10")        // v2
    // untouched statements come back verbatim (the zero-cost path)
    val plain = "SELECT 1 AS one"
    assert(TxnSql.rewriteReads(spark, plain) eq plain)
    // a table name inside a string literal is NOT a reference
    val quoted = "SELECT 'FROM tsql_rr' AS s"
    assert(TxnSql.rewriteReads(spark, quoted) === quoted)
    // snapshot vs pinned version in ONE statement
    val joined = spark.sql(TxnSql.rewriteReads(spark,
      """SELECT cur.k FROM tsql_rr cur
        |JOIN tsql_rr VERSION AS OF 1 o ON cur.k = o.k""".stripMargin))
    assert(joined.count() === 10, "current snapshot has 10 rows")
    val old = spark.sql(TxnSql.rewriteReads(spark,
      "SELECT count(*) AS c FROM tsql_rr VERSION AS OF 1")).as[Long].head()
    assert(old === 100, "VERSION AS OF 1 sees the pre-delete table")
  }

  test("TIMESTAMP AS OF resolves by monotonized entry mtimes — the Delta mechanism") {
    val root = mk("tsof")
    TxnSql.exec(spark, "DELETE FROM tsql_tsof WHERE k >= 50")          // v2
    TxnSql.exec(spark, "DELETE FROM tsql_tsof WHERE k >= 20")          // v3
    // pin the entry mtimes deterministically (epoch seconds 1000/2000/1500:
    // v3 is CLOCK-SKEWED BEHIND v2 — monotonization must carry v2's time)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def pin(v: Long, ms: Long): Unit = f.setTimes(
      new org.apache.hadoop.fs.Path(f"$root/_txnlog/$v%020d.json"), ms, -1)
    pin(1L, 1000000L); pin(2L, 2000000L); pin(3L, 1500000L)
    assert(TxnMergeOnRead.versionAtTime(spark, root, 1000000L) === 1L)
    assert(TxnMergeOnRead.versionAtTime(spark, root, 1999999L) === 1L)
    // v3's adjusted timestamp = max(1500000, ts(v2)) = 2000000 — both v2
    // and v3 carry it, and the LATEST version at that instant wins
    assert(TxnMergeOnRead.versionAtTime(spark, root, 2000000L) === 3L)
    assert(TxnMergeOnRead.readAtTime(spark, root, 1500000L).count() === 100)
    val e = intercept[IllegalArgumentException](
      TxnMergeOnRead.versionAtTime(spark, root, 999999L))
    assert(e.getMessage.contains("earliest available"))
    // the SQL surface: epoch-ms and quoted-literal forms
    val c = spark.sql(TxnSql.rewriteReads(spark,
      "SELECT count(*) AS c FROM tsql_tsof TIMESTAMP AS OF 1999999"))
      .as[Long].head()
    assert(c === 100L)
    val c2 = spark.sql(TxnSql.rewriteReads(spark,
      "SELECT count(*) AS c FROM tsql_tsof TIMESTAMP AS OF '2100-01-01'"))
      .as[Long].head()
    assert(c2 === 20L, "a future timestamp reads the head")
    // DESCRIBE HISTORY carries the monotonized ts column
    val hist = TxnMergeOnRead.history(spark, root)
      .select("version", "ts").as[(Long, Long)].collect().toMap
    assert(hist(2L) === 2000000L && hist(3L) === 2000000L,
      "history shows ADJUSTED timestamps (v3 inherits v2's)")
  }

  test("lifecycle DDL: CREATE TRANSACTIONAL TABLE registers, DROP unregisters and deletes") {
    val root = s"$base/ddl"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
    TxnSql.execDdl(spark,
      s"""CREATE TRANSACTIONAL TABLE tsql_ddl LOCATION '$root' AS
         |SELECT id AS k, id * 2 AS v FROM range(50)""".stripMargin)
    assert(TxnSql.rootOf("tsql_ddl") === Some(root))
    assert(TxnSql.handles("UPDATE tsql_ddl SET v = 0"),
      "registration happens in the CREATE statement itself")
    TxnSql.exec(spark, "DELETE FROM tsql_ddl WHERE k >= 40")
    assert(TxnMergeOnRead.read(spark, root).count() === 40)
    TxnSql.execDdl(spark, "DROP TRANSACTIONAL TABLE tsql_ddl")
    assert(TxnSql.rootOf("tsql_ddl").isEmpty)
    assert(!new File(root).exists(), "managed-table DROP deletes the root")
    intercept[IllegalArgumentException](
      TxnSql.execDdl(spark, "DROP TRANSACTIONAL TABLE tsql_ddl"))
  }

  test("index DDL lifecycle: CREATE builds (unless deferred), REBUILD" +
      " builds, SHOW lists, DROP unregisters and stops pruning") {
    val root = mk("idx")
    // deferred: declared but NOT built — the probe must not prune yet
    TxnSql.execDdl(spark,
      "CREATE INDEX kb ON tsql_idx (k) AS 'BLOOM' WITH DEFERRED REBUILD")
    val pre = TxnMergeOnRead.scanProfilePoint(spark, root, "k", Seq(5L))
    assert(pre._1 == pre._2, s"deferred index must not prune before REBUILD: $pre")
    TxnSql.execDdl(spark, "ALTER INDEX kb ON tsql_idx REBUILD")
    // one 100-row file: bloom can't prune a present key's only file, but a
    // wildly absent key must prune it
    val absent = TxnMergeOnRead.scanProfilePoint(spark, root, "k",
      Seq(987654321L))
    assert(absent._1 < absent._2, s"built bloom index must prune: $absent")
    TxnSql.execDdl(spark, "CREATE INDEX vs ON tsql_idx (v) AS 'COMPACT'")
    val shown = TxnSql.query(spark, "SHOW INDEXES ON tsql_idx").collect()
    assert(shown.map(r => (r.getString(0), r.getString(2))).toSet ==
      Set(("kb", "BLOOM"), ("vs", "COMPACT")))
    // rejections: duplicate name, unknown index, unknown kind
    intercept[IllegalArgumentException](TxnSql.execDdl(spark,
      "CREATE INDEX kb ON tsql_idx (k) AS 'BLOOM'"))
    intercept[IllegalArgumentException](TxnSql.execDdl(spark,
      "DROP INDEX nope ON tsql_idx"))
    intercept[IllegalArgumentException](TxnSql.execDdl(spark,
      "ALTER INDEX nope ON tsql_idx REBUILD"))
    intercept[IllegalArgumentException](TxnSql.execDdl(spark,
      "CREATE INDEX z ON tsql_idx (k) AS 'BTREE'"))
    // drop retires the sidecars → probe degrades to the full scan
    TxnSql.execDdl(spark, "DROP INDEX kb ON tsql_idx")
    val post = TxnMergeOnRead.scanProfilePoint(spark, root, "k",
      Seq(987654321L))
    assert(post._1 == post._2, s"dropped index must stop pruning: $post")
    assert(TxnSql.query(spark, "SHOW INDEXES ON tsql_idx").count() == 1)
  }
}
