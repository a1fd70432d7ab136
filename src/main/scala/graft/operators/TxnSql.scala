package graft.operators

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}

/** Textual DML surface for the concurrent-writer transaction log — the
  * reference's actual ACID interface is SQL, not an API
  * (`ql/src/test/queries/clientpositive/sqlmerge.q`, `UPDATE`/`DELETE`
  * statements compiled by `UpdateDeleteSemanticAnalyzer.java` and MERGE by
  * `MergeSemanticAnalyzer.java`, both of which REWRITE the statement into
  * the engine's native operations). The same split is re-expressed here:
  * this object parses the three DML statements and rewrites them onto
  * [[TxnMergeOnRead]]'s optimistic-commit operations; Spark's own parser
  * never sees them (Spark SQL has no UPDATE/DELETE/MERGE against plain
  * parquet — that surface is exactly what the txn log adds).
  *
  * Grammar (whitespace-insensitive, quote-aware; expressions are passed
  * VERBATIM to the engine's `expr()`, so anything Spark SQL accepts works
  * inside conditions, SET values and INSERT values):
  * {{{
  *   INSERT INTO [TABLE] <table> [(cols)] VALUES (exprs) [, (exprs) ...]
  *   INSERT INTO [TABLE] <table> [(cols)] SELECT ...
  *   UPDATE <table> SET col = expr [, ...] [WHERE <cond>]
  *   DELETE FROM <table> [WHERE <cond>]
  *   MERGE INTO <table> [AS] t USING (<name> | (<subquery>)) [AS] s
  *     ON <cond>
  *     [WHEN MATCHED [AND <cond>] THEN DELETE]
  *     [WHEN MATCHED [AND <cond>] THEN UPDATE SET col = expr [, ...]]
  *     [WHEN NOT MATCHED [AND <cond>] THEN INSERT [(cols)] VALUES (exprs)]
  *
  *   DESCRIBE HISTORY <table>                          the log as rows
  *   RESTORE <table> TO VERSION [AS OF] <n>            point-in-time rollback
  *   VACUUM <table> RETAIN <n> VERSIONS [PRUNE LOG]    retention GC
  *   CHECKPOINT <table>                                explicit metadata fold
  *
  *   CREATE INDEX <i> ON [TABLE] <t> (cols) AS 'COMPACT'|'BLOOM'|'BITMAP'
  *     [WITH DEFERRED REBUILD]                         sidecar index DDL
  *   ALTER INDEX <i> ON <t> REBUILD                    (re)build sidecars
  *   DROP INDEX <i> ON <t>                             retire an index
  *   SHOW INDEXES ON <t>                               registry as rows
  * }}}
  * INSERT maps a column list onto the target schema and fills unnamed
  * columns with typed NULLs (the schema-evolution reader's fill rule, so
  * an INSERT written before ADD COLUMNS keeps working after it); a
  * column-list-free INSERT maps positionally. The source SELECT runs
  * through [[rewriteReads]], so it may read txn tables (including the
  * target — the staged frame is computed against the pinned pre-insert
  * snapshot, Hive's INSERT ... SELECT self-reference semantics).
  *
  * Reads: [[rewriteReads]] makes registered txn tables directly
  * SELECTable — any `FROM <t>` / `JOIN <t>` whose name is registered is
  * swapped for a snapshot temp view, and `FROM <t> VERSION AS OF <n>` /
  * `FROM <t> TIMESTAMP AS OF '<ts>'` ([[TxnMergeOnRead.readAt]] /
  * [[TxnMergeOnRead.versionAtTime]] time travel, the Delta/Iceberg
  * SELECT shapes) for a pinned-version view. Statement text Spark's
  * parser accepts otherwise is untouched.
  * The utility statements are the Delta-SQL shapes for the same log
  * operations (`DESCRIBE HISTORY`, `RESTORE TABLE ... TO VERSION AS OF`,
  * `VACUUM ... RETAIN`), textual twins of [[TxnMergeOnRead.history]] /
  * `restore` / `vacuum` / `checkpoint`.
  * Clause rules mirror the reference's MERGE semantics ([[TxnMergeOnRead
  * .merge]], the full `sqlmerge.q` shape): delete wins over update for a
  * matched row satisfying both guards, a matched row satisfying neither
  * stays untouched, an unmatched source row failing the insert guard is
  * dropped, at most one clause of each kind (Hive's limit is one UPDATE +
  * one DELETE + one INSERT). Table names resolve through an explicit
  * [[register]]ed name→root map — the analog of the metastore's
  * transactional-table flag deciding which statements route to the ACID
  * path. A MERGE source that is not a parenthesized subquery is read as a
  * temp view (`spark.table`).
  */
object TxnSql {

  /** Registered txn tables: lowercase name → log root. */
  private val tables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def register(name: String, root: String): Unit =
    tables.put(name.toLowerCase, root)

  def rootOf(name: String): Option[String] =
    Option(tables.get(name.toLowerCase))

  /** True iff the statement is UPDATE/DELETE/MERGE against a registered
    * txn table — the routing predicate an engine front-end uses. */
  def handles(sqlText: String): Boolean = {
    val s = sqlText.trim
    headTable(s).exists(t => tables.containsKey(t.toLowerCase))
  }

  /** Lifecycle DDL — registration is part of the statement, so these
    * route unconditionally (unlike [[handles]], which needs the table
    * already registered):
    * {{{
    *   CREATE TRANSACTIONAL TABLE <name> LOCATION '<root>' AS <select>
    *   DROP TRANSACTIONAL TABLE <name>
    * }}}
    * The Hive spelling is `CREATE TABLE … TBLPROPERTIES
    * ('transactional'='true')`; the explicit keyword keeps the routing
    * decision in the statement text instead of a properties map. DROP is
    * managed-table semantics: unregister AND delete the root. */
  def handlesDdl(sqlText: String): Boolean = {
    val up = sqlText.trim.toUpperCase
    up.startsWith("CREATE TRANSACTIONAL TABLE") ||
      up.startsWith("DROP TRANSACTIONAL TABLE") ||
      up.startsWith("CREATE INDEX") || up.startsWith("DROP INDEX") ||
      up.startsWith("ALTER INDEX")
  }

  /** Registered secondary indexes: table (lowercase) → insertion-ordered
    * (index name → (kind, cols)). The reference's CREATE INDEX surface
    * (`ql/.../index/compact/CompactIndexHandler.java:69` — a COMPACT
    * index materializes per-block metadata a point lookup consults before
    * touching data; bloom variants ride ORC; EWAH bitmaps via
    * `ql/.../index/bitmap/BitmapIndexHandler.java:64`) re-expressed
    * Spark-first: COMPACT → the [[DataSkipping]] min/max sidecars,
    * BLOOM → the [[BloomIndex]] per-file filters, BITMAP → the
    * [[BitmapIndex]] EWAH posting sidecars (exact low-cardinality
    * pruning), all composed onto the ACID
    * snapshot by [[TxnMergeOnRead.readPruned]]/`readPrunedPoint`. The
    * registry is session-scoped like [[tables]] (the metastore analog);
    * the sidecars themselves live with the data. */
  private val indexes = new java.util.concurrent.ConcurrentHashMap[
    String, scala.collection.immutable.ListMap[String, (String, Seq[String])]]()

  /** Columns every registered index of `kind` on `tname` covers — BLOOM
    * and BITMAP sidecars are SHARED per dir and written with overwrite,
    * so a (re)build must cover the UNION of all same-kind indexes'
    * columns or building one index silently erases another's filters
    * (results stay correct, pruning silently degrades). */
  private def kindCols(tname: String, kind: String): Seq[String] =
    Option(indexes.get(tname.toLowerCase)).toSeq
      .flatMap(_.values.filter(_._1 == kind).flatMap(_._2)).distinct

  private def buildIndex(spark: SparkSession, tname: String, root: String,
      kind: String): Unit = kind match {
    case "COMPACT" => TxnMergeOnRead.analyze(spark, root)
    case "BLOOM" =>
      TxnMergeOnRead.analyzeBloom(spark, root, kindCols(tname, kind))
    case "BITMAP" =>
      TxnMergeOnRead.analyzeBitmap(spark, root, kindCols(tname, kind))
  }

  /** SHOW INDEXES result frame for one table. */
  private def showIndexes(spark: SparkSession, tname: String): DataFrame = {
    import spark.implicits._
    Option(indexes.get(tname.toLowerCase)).getOrElse(
        scala.collection.immutable.ListMap.empty[String, (String, Seq[String])])
      .toSeq.map { case (n, (k, cs)) =>
        (n, tname.toLowerCase, k, cs.mkString(",")) }
      .toDF("idx_name", "tbl_name", "idx_kind", "idx_cols")
      .orderBy("idx_name")
  }

  private def execIndexDdl(spark: SparkSession, s: String,
      up: String): DataFrame = {
    if (up.startsWith("CREATE INDEX")) {
      // CREATE INDEX <i> ON [TABLE] <t> (cols) AS 'COMPACT'|'BLOOM'|'BITMAP'
      //   [WITH DEFERRED REBUILD]     (the reference's handler clause:
      //   deferred = declare now, build on ALTER INDEX ... REBUILD)
      val m = ("(?is)^CREATE\\s+INDEX\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+ON\\s+" +
        "(?:TABLE\\s+)?([A-Za-z_][A-Za-z0-9_]*)\\s*\\(([^)]*)\\)\\s+AS\\s+" +
        "'([A-Za-z]+)'(.*)$").r.findFirstMatchIn(s).getOrElse(fail(s,
        "CREATE INDEX <i> ON <t> (cols) AS 'COMPACT'|'BLOOM'|'BITMAP' " +
          "[WITH DEFERRED REBUILD] expected"))
      val (iname, tname) = (m.group(1), m.group(2))
      val kind = m.group(4).toUpperCase
      require(Set("COMPACT", "BLOOM", "BITMAP")(kind),
        s"index kind must be 'COMPACT', 'BLOOM' or 'BITMAP' " +
          s"(got '${m.group(4)}'): $s")
      val cols = m.group(3).split(",")
        .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty).toSeq
      require(cols.nonEmpty, s"CREATE INDEX needs at least one column: $s")
      val root = resolve(tname, s)
      // validate the column list against the live schema BEFORE mutating
      // the registry: a failed build must not leave a phantom entry that
      // SHOW INDEXES reports and a corrected re-CREATE trips over
      val have = TxnMergeOnRead.read(spark, root).columns.map(_.toLowerCase).toSet
      val missing = cols.filterNot(c => have(c.toLowerCase))
      require(missing.isEmpty,
        s"CREATE INDEX $iname: column(s) ${missing.mkString(", ")} " +
          s"do not exist on $tname")
      indexes.compute(tname.toLowerCase, (_, old) => {
        val base = Option(old).getOrElse(
          scala.collection.immutable.ListMap.empty[String, (String, Seq[String])])
        require(!base.contains(iname.toLowerCase),
          s"index $iname already exists on $tname")
        base + (iname.toLowerCase -> (kind, cols))
      })
      val deferred =
        "(?i)WITH\\s+DEFERRED\\s+REBUILD".r.findFirstIn(m.group(5)).isDefined
      if (!deferred)
        try buildIndex(spark, tname, root, kind)
        catch { case e: Throwable =>
          // unwind the registration — a non-deferred CREATE either fully
          // exists (entry + sidecars) or not at all
          indexes.computeIfPresent(tname.toLowerCase,
            (_, old) => old - iname.toLowerCase)
          throw e
        }
      showIndexes(spark, tname)
    } else if (up.startsWith("DROP INDEX")) {
      // DROP INDEX <i> ON <t> — unregister; physically retire the sidecar
      // kind only when no remaining index of that kind needs it
      val m = ("(?is)^DROP\\s+INDEX\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+ON\\s+" +
        "([A-Za-z_][A-Za-z0-9_]*)\\s*$").r.findFirstMatchIn(s)
        .getOrElse(fail(s, "DROP INDEX <i> ON <t> expected"))
      val (iname, tname) = (m.group(1).toLowerCase, m.group(2))
      val root = resolve(tname, s)
      val dropped = new java.util.concurrent.atomic.AtomicReference[String]()
      indexes.compute(tname.toLowerCase, (_, old) => {
        val base = Option(old).getOrElse(
          scala.collection.immutable.ListMap.empty[String, (String, Seq[String])])
        require(base.contains(iname), s"no index $iname on $tname")
        dropped.set(base(iname)._1)
        base - iname
      })
      val kind = dropped.get
      val stillNeeded = Option(indexes.get(tname.toLowerCase))
        .exists(_.values.exists(_._1 == kind))
      if (!stillNeeded)
        TxnMergeOnRead.dropSidecars(spark, root, kind match {
          case "BLOOM" => BloomIndex.INDEX_DIR
          case "BITMAP" => BitmapIndex.INDEX_DIR
          case _ => DataSkipping.STATS_DIR
        })
      showIndexes(spark, tname)
    } else {
      // ALTER INDEX <i> ON <t> REBUILD — (re)build over the CURRENT live
      // dirs: covers deferred creation and post-ingest refresh alike
      val m = ("(?is)^ALTER\\s+INDEX\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+ON\\s+" +
        "([A-Za-z_][A-Za-z0-9_]*)\\s+REBUILD\\s*$").r.findFirstMatchIn(s)
        .getOrElse(fail(s, "ALTER INDEX <i> ON <t> REBUILD expected"))
      val (iname, tname) = (m.group(1).toLowerCase, m.group(2))
      val root = resolve(tname, s)
      val reg = Option(indexes.get(tname.toLowerCase)).getOrElse(
        scala.collection.immutable.ListMap.empty[String, (String, Seq[String])])
      require(reg.contains(iname), s"no index $iname on $tname")
      val kind = reg(iname)._1
      buildIndex(spark, tname, root, kind)
      showIndexes(spark, tname)
    }
  }

  /** Execute one lifecycle statement; returns the new table's snapshot
    * for CREATE, an empty frame for DROP. */
  def execDdl(spark: SparkSession, sqlText: String): DataFrame = {
    val s = sqlText.trim.stripSuffix(";").trim
    val up = s.toUpperCase
    if (up.startsWith("CREATE TRANSACTIONAL TABLE")) {
      val rest = s.substring("CREATE TRANSACTIONAL TABLE".length).trim
      val name = identAfter(rest, 0).getOrElse(
        fail(s, "CREATE TRANSACTIONAL TABLE needs a name"))
      // optional Delta-style declaration between LOCATION and AS:
      //   GENERATED (day AS CAST(ts AS DATE), vband AS floor(v))
      // — balanced-paren parsed (a regex cannot: exprs nest parens and
      // contain their own AS tokens, e.g. CAST(x AS BIGINT))
      val lm = "(?is)\\bLOCATION\\s+'([^']+)'".r.findFirstMatchIn(rest)
        .getOrElse(fail(s, "expected LOCATION '<root>'"))
      val root = lm.group(1)
      var after = rest.substring(lm.end).trim
      val gens: Seq[(String, String)] =
        if (after.toUpperCase.startsWith("GENERATED")) {
          val b = after.substring("GENERATED".length).trim
          require(b.startsWith("("), s"GENERATED needs a parenthesized list: $s")
          val close = matchParen(b, 0).getOrElse(
            fail(s, "unbalanced GENERATED list"))
          after = b.substring(close + 1).trim
          // top-level comma split (an expr may contain commas: round(v, 2))
          splitTopCommas(b.substring(1, close)).map(_.trim)
            .filter(_.nonEmpty).map { it =>
              val i = "(?i)\\sAS\\s".r.findFirstMatchIn(it)
                .getOrElse(fail(s,
                  s"GENERATED entry needs '<name> AS <expr>': $it"))
              it.substring(0, i.start).trim -> it.substring(i.end).trim
            }.toSeq
        } else Nil
      require(after.toUpperCase.startsWith("AS"),
        s"CREATE TRANSACTIONAL TABLE needs AS <select>: $s")
      val select = after.substring(2).trim
      require(select.nonEmpty, s"CREATE TRANSACTIONAL TABLE needs AS <select>: $s")
      val df = spark.sql(rewriteReads(spark, select))
      if (gens.isEmpty) TxnMergeOnRead.create(spark, root, df)
      else TxnMergeOnRead.createGenerated(spark, root, df, gens)
      register(name, root)
      // a (re)created table starts with NO indexes: create() wiped the
      // data dirs (and any sidecars), so a stale registry entry would both
      // lie to SHOW INDEXES and make a repeated CREATE INDEX session
      // non-idempotent
      indexes.remove(name.toLowerCase)
      TxnMergeOnRead.read(spark, root)
    } else if (up.startsWith("DROP TRANSACTIONAL TABLE")) {
      val name = identAfter(s, "DROP TRANSACTIONAL TABLE".length).getOrElse(
        fail(s, "DROP TRANSACTIONAL TABLE needs a name"))
      val root = resolve(name, s)
      tables.remove(name.toLowerCase)
      indexes.remove(name.toLowerCase)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      MetaCache.purge(root)
      spark.emptyDataFrame
    } else if (up.startsWith("CREATE INDEX") || up.startsWith("DROP INDEX") ||
        up.startsWith("ALTER INDEX")) {
      execIndexDdl(spark, s, up)
    } else throw new IllegalArgumentException(s"not a txn DDL statement: $s")
  }

  /** The statement's target table name, when it is a txn DML statement. */
  def targetOf(sqlText: String): Option[String] = headTable(sqlText.trim)

  /** Snapshot read of a registered txn table by name. */
  def table(spark: SparkSession, name: String): DataFrame =
    TxnMergeOnRead.read(spark, resolve(name, name))

  private def headTable(s: String): Option[String] = {
    val up = s.toUpperCase
    if (up.startsWith("UPDATE")) identAfter(s, "UPDATE".length)
    else if (up.startsWith("DELETE")) {
      topLevelKw(s, "FROM").headOption.flatMap(i => identAfter(s, i + 4))
    } else if (up.startsWith("INSERT")) {
      topLevelKw(s, "INTO").headOption.flatMap { i =>
        identAfter(s, i + 4).flatMap { n =>
          // Hive's optional TABLE keyword: INSERT INTO TABLE t ...
          if (n.equalsIgnoreCase("TABLE"))
            identAfter(s, s.toUpperCase.indexOf("TABLE", i) + 5)
          else Some(n)
        }
      }
    } else if (up.startsWith("MERGE")) {
      topLevelKw(s, "INTO").headOption.flatMap(i => identAfter(s, i + 4))
    } else if (up.startsWith("ALTER TABLE")) {
      identAfter(s, "ALTER TABLE".length)
    } else if (up.startsWith("DESCRIBE HISTORY")) {
      identAfter(s, "DESCRIBE HISTORY".length)
    } else if (up.startsWith("DESCRIBE DETAIL")) {
      identAfter(s, "DESCRIBE DETAIL".length)
    } else if (up.startsWith("RESTORE") || up.startsWith("VACUUM") ||
        up.startsWith("CHECKPOINT") || up.startsWith("OPTIMIZE")) {
      identAfter(s, s.indexOf(' '))
    } else if (up.startsWith("SHOW INDEXES")) {
      "(?is)\\bON\\s+([A-Za-z_][A-Za-z0-9_]*)".r.findFirstMatchIn(s)
        .map(_.group(1))
    } else None
  }

  /** True when the statement RETURNS a result frame rather than mutating
    * (DESCRIBE HISTORY) — front-ends route accordingly. */
  def returnsRows(sqlText: String): Boolean = {
    val up = sqlText.trim.toUpperCase
    up.startsWith("DESCRIBE HISTORY") || up.startsWith("DESCRIBE DETAIL") ||
      up.startsWith("SHOW INDEXES")
  }

  /** Execute one DML/utility statement; returns the snapshot-computation
    * count for DML (1 = committed without recompute), 1 for utilities. */
  def exec(spark: SparkSession, sqlText: String): Int = {
    val s = sqlText.trim.stripSuffix(";").trim
    val up = s.toUpperCase
    if (up.startsWith("UPDATE")) execUpdate(spark, s)
    else if (up.startsWith("DELETE")) execDelete(spark, s)
    else if (up.startsWith("INSERT")) execInsert(spark, s)
    else if (up.startsWith("MERGE")) execMerge(spark, s)
    else if (up.startsWith("ALTER TABLE")) execAlter(spark, s)
    else if (up.startsWith("RESTORE")) execRestore(spark, s)
    else if (up.startsWith("VACUUM")) execVacuum(spark, s)
    else if (up.startsWith("OPTIMIZE")) execOptimize(spark, s)
    else if (up.startsWith("CHECKPOINT")) {
      TxnMergeOnRead.checkpoint(spark, resolve(
        headTable(s).getOrElse(fail(s, "CHECKPOINT needs a table")), s))
      1
    } else throw new IllegalArgumentException(
      s"not a txn statement (INSERT/UPDATE/DELETE/MERGE/RESTORE/VACUUM/" +
      s"CHECKPOINT/DESCRIBE HISTORY expected): $s")
  }

  /** DESCRIBE HISTORY and other row-returning forms. */
  def query(spark: SparkSession, sqlText: String): DataFrame = {
    val s = sqlText.trim.stripSuffix(";").trim
    require(returnsRows(s), s"not a row-returning txn statement: $s")
    if (s.toUpperCase.startsWith("SHOW INDEXES")) {
      // SHOW INDEXES ON <t>
      val m = "(?is)^SHOW\\s+INDEXES\\s+ON\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*$".r
        .findFirstMatchIn(s).getOrElse(fail(s, "SHOW INDEXES ON <t> expected"))
      resolve(m.group(1), s) // validate registration
      return showIndexes(spark, m.group(1))
    }
    val root = resolve(
      headTable(s).getOrElse(fail(s, "DESCRIBE needs a table")), s)
    if (s.toUpperCase.startsWith("DESCRIBE DETAIL"))
      TxnMergeOnRead.detail(spark, root)
    else TxnMergeOnRead.history(spark, root)
  }

  private def execRestore(spark: SparkSession, s: String): Int = {
    // RESTORE <t> TO VERSION [AS OF] <n>
    val name = headTable(s).getOrElse(fail(s, "RESTORE needs a table"))
    val m = "(?i)TO\\s+VERSION(?:\\s+AS\\s+OF)?\\s+(\\d+)".r.findFirstMatchIn(s)
      .getOrElse(fail(s, "RESTORE needs TO VERSION [AS OF] <n>"))
    TxnMergeOnRead.restore(spark, resolve(name, s), m.group(1).toLong)
    1
  }

  private def execVacuum(spark: SparkSession, s: String): Int = {
    // VACUUM <t> RETAIN <n> VERSIONS [PRUNE LOG]
    val name = headTable(s).getOrElse(fail(s, "VACUUM needs a table"))
    val m = "(?i)RETAIN\\s+(\\d+)\\s+VERSIONS".r.findFirstMatchIn(s)
      .getOrElse(fail(s, "VACUUM needs RETAIN <n> VERSIONS"))
    val prune = "(?i)PRUNE\\s+LOG".r.findFirstIn(s).isDefined
    TxnMergeOnRead.vacuum(spark, resolve(name, s), m.group(1).toInt, prune)
    1
  }

  /** `OPTIMIZE <t> [ZORDER BY (c1, c2, …)] [FILES <n>]` — Delta's
    * `OPTIMIZE … ZORDER BY` as one statement: major compaction, clustered
    * when requested. A fold raced by another compaction retries on a
    * fresh snapshot (bounded). */
  private def execOptimize(spark: SparkSession, s: String): Int = {
    val name = headTable(s).getOrElse(fail(s, "OPTIMIZE needs a table"))
    val root = resolve(name, s)
    val cols = "(?i)ZORDER\\s+BY\\s*\\(([^)]*)\\)".r.findFirstMatchIn(s)
      .map(_.group(1).split(",").map(_.trim.stripPrefix("`").stripSuffix("`"))
        .filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    val files = "(?i)\\bFILES\\s+(\\d+)".r.findFirstMatchIn(s)
      .map(_.group(1).toInt).getOrElse(32)
    var tries = 0
    while (!TxnMergeOnRead.compact(spark, root, cols, files)) {
      tries += 1
      require(tries < 5, s"OPTIMIZE of $root raced concurrent compactions $tries times")
    }
    1
  }

  // ---- statement parsers -------------------------------------------------

  private def execUpdate(spark: SparkSession, s: String): Int = {
    val name = identAfter(s, "UPDATE".length).getOrElse(
      fail(s, "UPDATE needs a table name"))
    val root = resolve(name, s)
    val setI = kwOrFail(s, "SET")
    val whereI = topLevelKw(s, "WHERE").headOption
    val assigns = s.substring(setI + 3, whereI.getOrElse(s.length))
    val cond = whereI.map(i => s.substring(i + 5).trim).getOrElse("true")
    TxnMergeOnRead.update(spark, root, parseAssignments(assigns, s), cond)
  }

  private def execDelete(spark: SparkSession, s: String): Int = {
    val fromI = kwOrFail(s, "FROM")
    val name = identAfter(s, fromI + 4).getOrElse(
      fail(s, "DELETE FROM needs a table name"))
    val root = resolve(name, s)
    val cond = topLevelKw(s, "WHERE").headOption
      .map(i => s.substring(i + 5).trim).getOrElse("true")
    TxnMergeOnRead.delete(spark, root, cond)
  }

  /** ALTER TABLE <t> ADD COLUMNS (n type, ...) | ADD CONSTRAINT <name>
    * CHECK (<expr>) | DROP CONSTRAINT <name> — the schema-evolution and
    * constraint surfaces as statement text. */
  private def execAlter(spark: SparkSession, s: String): Int = {
    val name = identAfter(s, "ALTER TABLE".length).getOrElse(
      fail(s, "ALTER TABLE needs a table"))
    val root = resolve(name, s)
    val rest = s.substring(identEnd(s, "ALTER TABLE".length)).trim
    val up = rest.toUpperCase
    if (up.startsWith("ADD COLUMNS")) {
      val body = rest.substring("ADD COLUMNS".length).trim
      require(body.startsWith("("), s"ADD COLUMNS needs a parenthesized list: $s")
      val close = matchParen(body, 0).getOrElse(fail(s, "unbalanced column list"))
      val cols = splitTopCommas(body.substring(1, close)).map(_.trim).map { c =>
        val sp = c.indexWhere(Character.isWhitespace)
        require(sp > 0, s"ADD COLUMNS item needs 'name type': $c")
        (c.substring(0, sp), c.substring(sp + 1).trim)
      }
      TxnMergeOnRead.addColumns(spark, root, cols)
    } else if (up.startsWith("ADD CONSTRAINT")) {
      val body = rest.substring("ADD CONSTRAINT".length).trim
      val cname = identAfter(body, 0).getOrElse(fail(s, "constraint needs a name"))
      val tail = body.substring(identEnd(body, 0)).trim
      require(tail.toUpperCase.startsWith("CHECK"),
        s"only CHECK constraints are supported: $s")
      val paren = tail.substring("CHECK".length).trim
      require(paren.startsWith("("), s"CHECK needs a parenthesized predicate: $s")
      val close = matchParen(paren, 0).getOrElse(fail(s, "unbalanced CHECK"))
      TxnMergeOnRead.addConstraint(spark, root, cname,
        paren.substring(1, close).trim)
    } else if (up.startsWith("DROP CONSTRAINT")) {
      val cname = identAfter(rest, "DROP CONSTRAINT".length).getOrElse(
        fail(s, "DROP CONSTRAINT needs a name"))
      TxnMergeOnRead.dropConstraint(spark, root, cname)
    } else fail(s, "supported: ADD COLUMNS (…) | ADD CONSTRAINT <n> CHECK (…) " +
      "| DROP CONSTRAINT <n>")
    1
  }

  private def execInsert(spark: SparkSession, s: String): Int = {
    val intoI = kwOrFail(s, "INTO")
    var i = intoI + 4
    var name = identAfter(s, i).getOrElse(fail(s, "INSERT INTO needs a table"))
    if (name.equalsIgnoreCase("TABLE")) { // INSERT INTO TABLE t — Hive form
      i = identEnd(s, i)
      name = identAfter(s, i).getOrElse(fail(s, "INSERT INTO TABLE needs a table"))
    }
    val root = resolve(name, s)
    val rest0 = s.substring(identEnd(s, i)).trim
    val target = TxnMergeOnRead.read(spark, root)
    // optional column list: a leading paren whose body is NOT a subquery
    val (cols, rest) =
      if (rest0.startsWith("(") &&
          !rest0.drop(1).trim.toUpperCase.startsWith("SELECT")) {
        val close = matchParen(rest0, 0).getOrElse(
          fail(s, "unbalanced INSERT column list"))
        (splitTopCommas(rest0.substring(1, close)).map(_.trim),
          rest0.substring(close + 1).trim)
      } else (target.columns.toSeq, rest0)
    val up = rest.toUpperCase
    val src: DataFrame =
      if (up.startsWith("VALUES")) {
        val tuples = splitTopCommas(rest.substring("VALUES".length).trim)
          .map(_.trim)
        require(tuples.nonEmpty && tuples.forall(_.startsWith("(")),
          s"VALUES needs parenthesized tuples: $rest")
        val values = tuples.map { t =>
          val close = matchParen(t, 0).getOrElse(fail(s, s"unbalanced tuple: $t"))
          val exprs = splitTopCommas(t.substring(1, close)).map(_.trim)
          require(exprs.length == cols.length, s"INSERT arity mismatch: " +
            s"${cols.length} columns, ${exprs.length} values: $t")
          exprs
        }
        // one inline table: analysis resolves it to a LocalRelation, which
        // stages without a job. An inline table takes foldable values only
        // and widens a column's types without promoting to string; where
        // it does not resolve (a scalar subquery, a column of numbers and
        // strings) the UNION ALL of one-row SELECTs does, widening as a
        // union does
        try spark.sql("SELECT * FROM VALUES " + tuples.mkString(", ") +
          cols.map(c => s"`$c`").mkString(" AS t(", ", ", ")"))
        catch { case _: AnalysisException =>
          spark.sql(values.map(exprs => "SELECT " + exprs.zip(cols)
            .map { case (e, c) => s"$e AS `$c`" }.mkString(", "))
            .mkString(" UNION ALL "))
        }
      } else if (up.startsWith("SELECT") || up.startsWith("WITH") ||
          up.startsWith("(")) {
        val text = if (rest.startsWith("(")) {
          val close = matchParen(rest, 0).getOrElse(
            fail(s, "unbalanced INSERT source subquery"))
          rest.substring(1, close)
        } else rest
        // the source may itself read txn tables (including the target:
        // the staged frame is computed before the commit wins its ordinal)
        val df = spark.sql(rewriteReads(spark, text))
        require(df.columns.length == cols.length, s"INSERT arity mismatch: " +
          s"${cols.length} columns, SELECT yields ${df.columns.length}: $s")
        df.toDF(cols: _*)
      } else fail(s, s"INSERT needs VALUES or SELECT, got: $rest")
    // unnamed columns fill with typed NULLs — the same rule the
    // schema-evolution reader applies to files predating ADD COLUMNS.
    // EXCEPT declared generated columns: those stay ABSENT so the insert
    // path computes them from their defining expressions (an explicit
    // NULL would be a supplied-and-inconsistent value the reserved CHECK
    // rightly rejects)
    import org.apache.spark.sql.functions.{col, lit}
    val genNames = TxnMergeOnRead.generatedColsOf(spark, root)
      .map(_._1.toLowerCase).toSet
    val missing = target.schema.filterNot(f => cols.contains(f.name))
      .filterNot(f => genNames(f.name.toLowerCase))
    val full = missing.foldLeft(src) { (d, f) =>
      d.withColumn(f.name, lit(null).cast(f.dataType))
    }
    // Hive's implicit insert coercion: conform every staged column to the
    // declared type, so a VALUES decimal/int literal never writes a file
    // whose parquet type diverges from the table's (schema-on-read union
    // across deltas requires one type per column)
    val conformed = full.select(target.schema
      .filter(f => full.columns.contains(f.name))
      .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    TxnMergeOnRead.insert(spark, root, conformed)
    1
  }

  private def execMerge(spark: SparkSession, s: String): Int = {
    val intoI = kwOrFail(s, "INTO")
    val usingI = kwOrFail(s, "USING")
    val onI = kwOrFail(s, "ON")
    val whens = topLevelKw(s, "WHEN")
    require(whens.nonEmpty, s"MERGE needs at least one WHEN clause: $s")

    val (name, tAlias) = nameAndAlias(s.substring(intoI + 4, usingI), s)
    val root = resolve(name, s)
    val (source, sAlias) = parseSource(spark, s.substring(usingI + 5, onI), s)
    val onCond = s.substring(onI + 2, whens.head).trim

    var matchedSet: Seq[(String, String)] = Nil
    var matchedSetCond: Option[String] = None
    var matchedDelete: Option[String] = None
    var notMatchedInsert: Option[Seq[(String, String)]] = None
    var notMatchedCond: Option[String] = None
    val bounds = whens :+ s.length
    whens.indices.foreach { wi =>
      val clause = s.substring(bounds(wi), bounds(wi + 1)).trim
      val cu = clause.toUpperCase
      val thenI = topLevelKw(clause, "THEN").headOption.getOrElse(
        fail(s, s"WHEN clause without THEN: $clause"))
      val guard = clause.substring(0, thenI) // WHEN [NOT] MATCHED [AND …]
      val action = clause.substring(thenI + 4).trim
      val au = action.toUpperCase
      val andCond = topLevelKw(guard, "AND").headOption
        .map(i => guard.substring(i + 3).trim)
      if (cu.startsWith("WHEN NOT MATCHED")) {
        require(au.startsWith("INSERT"), s"NOT MATCHED supports INSERT only: $clause")
        require(notMatchedInsert.isEmpty, s"duplicate NOT MATCHED clause: $s")
        notMatchedInsert =
          Some(parseInsert(spark, root, action.substring("INSERT".length), s))
        notMatchedCond = andCond
      } else if (au.startsWith("DELETE")) {
        require(matchedDelete.isEmpty, s"duplicate MATCHED DELETE clause: $s")
        matchedDelete = Some(andCond.getOrElse("true"))
      } else if (au.startsWith("UPDATE")) {
        require(matchedSet.isEmpty, s"duplicate MATCHED UPDATE clause: $s")
        val setI = topLevelKw(action, "SET").headOption.getOrElse(
          fail(s, s"UPDATE without SET: $clause"))
        matchedSet = parseAssignments(action.substring(setI + 3), s)
        matchedSetCond = andCond
      } else fail(s, s"unsupported WHEN action: $clause")
    }
    TxnMergeOnRead.merge(spark, root, source, onCond, matchedSet,
      matchedDelete, notMatchedInsert,
      targetAlias = tAlias, sourceAlias = sAlias,
      matchedSetCond = matchedSetCond, notMatchedCond = notMatchedCond)
  }

  // ---- pieces ------------------------------------------------------------

  private def resolve(name: String, s: String): String =
    rootOf(name).getOrElse(throw new IllegalArgumentException(
      s"'$name' is not a registered transactional table " +
      s"(TxnSql.register(name, root) first): $s"))

  /** `<name> [AS] [alias]` → (name, alias or default "t"). */
  private def nameAndAlias(frag: String, s: String): (String, String) = {
    val words = frag.trim.split("\\s+").filter(_.nonEmpty)
      .filterNot(_.equalsIgnoreCase("AS"))
    words match {
      case Array(n) => (n, "t")
      case Array(n, a) => (n, a)
      case _ => fail(s, s"cannot parse target '$frag'")
    }
  }

  /** USING operand: `(subquery) [AS] alias` or `viewName [AS] [alias]`. */
  private def parseSource(spark: SparkSession, frag: String,
      s: String): (DataFrame, String) = {
    val f = frag.trim
    if (f.startsWith("(")) {
      val close = matchParen(f, 0).getOrElse(fail(s, s"unbalanced USING subquery: $f"))
      val sub = f.substring(1, close)
      val rest = f.substring(close + 1).trim.split("\\s+")
        .filter(_.nonEmpty).filterNot(_.equalsIgnoreCase("AS"))
      val alias = rest.headOption.getOrElse("s")
      (spark.sql(rewriteReads(spark, sub)), alias)
    } else {
      val words = f.split("\\s+").filter(_.nonEmpty)
        .filterNot(_.equalsIgnoreCase("AS"))
      def rel(n: String): DataFrame = rootOf(n) match {
        case Some(root) => TxnMergeOnRead.read(spark, root) // txn as source
        case None => spark.table(n)
      }
      words match {
        case Array(n) => (rel(n), "s")
        case Array(n, a) => (rel(n), a)
        case _ => fail(s, s"cannot parse USING '$frag'")
      }
    }
  }

  /** `[(c1, c2, …)] VALUES (e1, e2, …)` → column→expr pairs; a missing
    * column list maps positionally onto the target schema. */
  private def parseInsert(spark: SparkSession, root: String, frag: String,
      s: String): Seq[(String, String)] = {
    val f = frag.trim
    val valuesI = topLevelKw(f, "VALUES").headOption.getOrElse(
      fail(s, s"INSERT without VALUES: $frag"))
    val colsPart = f.substring(0, valuesI).trim
    val valsPart = f.substring(valuesI + 6).trim
    require(valsPart.startsWith("("), s"VALUES needs a parenthesized list: $frag")
    val close = matchParen(valsPart, 0).getOrElse(
      fail(s, s"unbalanced VALUES list: $frag"))
    val exprs = splitTopCommas(valsPart.substring(1, close)).map(_.trim)
    val cols =
      if (colsPart.isEmpty) TxnMergeOnRead.read(spark, root).columns.toSeq
      else {
        require(colsPart.startsWith("(") && colsPart.endsWith(")"),
          s"cannot parse INSERT column list: $colsPart")
        splitTopCommas(colsPart.substring(1, colsPart.length - 1)).map(_.trim)
      }
    require(cols.length == exprs.length,
      s"INSERT arity mismatch: ${cols.length} columns, ${exprs.length} values: $frag")
    cols.zip(exprs)
  }

  private def parseAssignments(frag: String, s: String): Seq[(String, String)] =
    splitTopCommas(frag).map { a =>
      val eq = topLevelEq(a).getOrElse(fail(s, s"SET assignment without '=': $a"))
      (a.substring(0, eq).trim, a.substring(eq + 1).trim)
    }

  private def fail(s: String, msg: String): Nothing =
    throw new IllegalArgumentException(s"$msg: $s")

  private def kwOrFail(s: String, kw: String): Int =
    topLevelKw(s, kw).headOption.getOrElse(fail(s, s"expected $kw"))

  // ---- quote/paren-aware scanning ---------------------------------------

  private def isIdentChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_'

  private def identAfter(s: String, from: Int): Option[String] = {
    var i = from
    while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
    var j = i
    while (j < s.length && (isIdentChar(s.charAt(j)) || s.charAt(j) == '.')) j += 1
    if (j > i) Some(s.substring(i, j)) else None
  }

  /** Index just past the identifier `identAfter(s, from)` read. */
  private def identEnd(s: String, from: Int): Int = {
    var i = from
    while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
    while (i < s.length && (isIdentChar(s.charAt(i)) || s.charAt(i) == '.')) i += 1
    i
  }

  /** Index where the identifier `identAfter(s, from)` starts. */
  private def identStart(s: String, from: Int): Int = {
    var i = from
    while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
    i
  }

  // ---- SELECT rewriting: txn tables as readable relations -----------------

  private val VersionAsOf = "(?is)^\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)".r
  private val TimestampAsOf =
    "(?is)^\\s+TIMESTAMP\\s+AS\\s+OF\\s+(?:'([^']*)'|(\\d+))".r

  /** `'yyyy-MM-dd[ HH:mm:ss[.fff]]'` (session-UTC, matching the engine's
    * pinned time zone) or bare epoch milliseconds → epoch ms. */
  private def parseTsLiteral(t: String): Long = {
    if (t.matches("\\d+")) t.toLong
    else {
      val ldt =
        if (t.length == 10) java.time.LocalDate.parse(t).atStartOfDay()
        else java.time.LocalDateTime.parse(t.replace(' ', 'T'))
      ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }
  }

  /** Rewrite `FROM <t>` / `JOIN <t> [VERSION AS OF n | TIMESTAMP AS OF
    * ts]` references to registered txn tables into snapshot (or
    * [[TxnMergeOnRead.readAt]] pinned-version) temp views, at ANY paren
    * depth (subqueries included), quote-aware. `TIMESTAMP AS OF` resolves
    * through [[TxnMergeOnRead.versionAtTime]] (monotonized entry mtimes —
    * the Delta mechanism). Statements mentioning no registered table
    * return unchanged — the zero-cost path every plain Spark query
    * takes. */
  def rewriteReads(spark: SparkSession, sqlText: String): String = {
    if (tables.isEmpty) return sqlText
    val s = sqlText
    val anchors = (allKw(s, "FROM").map(_ + 4) ++ allKw(s, "JOIN").map(_ + 4))
      .sorted
    // (spanStart, spanEnd, replacementViewName), built left-to-right
    val repls = anchors.flatMap { a =>
      identAfter(s, a).filter(n => tables.containsKey(n.toLowerCase)).map { n =>
        val start = identStart(s, a)
        val end = identEnd(s, a)
        val rest = s.substring(end)
        VersionAsOf.findFirstMatchIn(rest) match {
          case Some(m) =>
            (start, end + m.end, viewFor(spark, n, Some(m.group(1).toLong)))
          case None => TimestampAsOf.findFirstMatchIn(rest) match {
            case Some(m) =>
              val ms = parseTsLiteral(
                Option(m.group(1)).getOrElse(m.group(2)))
              val v = TxnMergeOnRead.versionAtTime(spark,
                resolve(n, sqlText), ms)
              (start, end + m.end, viewFor(spark, n, Some(v)))
            case None => (start, end, viewFor(spark, n, None))
          }
        }
      }
    }
    if (repls.isEmpty) return sqlText
    val sb = new StringBuilder
    var pos = 0
    repls.foreach { case (a, b, v) =>
      if (a >= pos) { // overlapping anchors (FROM t JOIN …) each match once
        sb.append(s.substring(pos, a)).append(v)
        pos = b
      }
    }
    sb.append(s.substring(pos)).toString
  }

  /** Materialize the temp view backing one txn-table reference. Snapshot
    * views re-register per statement (the head may have advanced);
    * pinned-version views are immutable by construction. */
  private def viewFor(spark: SparkSession, name: String,
      version: Option[Long]): String = {
    val root = resolve(name, name)
    val base = s"graft_txn_${name.toLowerCase.replace('.', '_')}"
    version match {
      case Some(v) =>
        val vn = s"${base}_v$v"
        TxnMergeOnRead.readAt(spark, root, v).createOrReplaceTempView(vn)
        vn
      case None =>
        TxnMergeOnRead.read(spark, root).createOrReplaceTempView(base)
        base
    }
  }

  /** Quote-aware occurrences of a word-bounded keyword at ANY depth. */
  private def allKw(s: String, kw: String): List[Int] = {
    val out = List.newBuilder[Int]
    var i = 0
    var quote: Char = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        if (c == '\\' && i + 1 < s.length) i += 1
        else if (c == quote && i + 1 < s.length && s.charAt(i + 1) == quote) i += 1
        else if (c == quote) quote = 0
      }
      else if (c == '\'' || c == '"') quote = c
      else if (s.regionMatches(true, i, kw, 0, kw.length) &&
          (i == 0 || !isIdentChar(s.charAt(i - 1))) &&
          (i + kw.length >= s.length || !isIdentChar(s.charAt(i + kw.length))))
        out += i
      i += 1
    }
    out.result()
  }

  /** Scan `s` outside quotes ('' doubling and backslash escapes respected)
    * and outside parens, invoking `f` at each index; used by every finder. */
  private def scanTop(s: String)(f: Int => Unit): Unit = {
    var i = 0
    var depth = 0
    var quote: Char = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        if (c == '\\' && i + 1 < s.length) i += 1
        else if (c == quote && i + 1 < s.length && s.charAt(i + 1) == quote) i += 1
        else if (c == quote) quote = 0
      }
      else if (c == '\'' || c == '"') quote = c
      else if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      else if (depth == 0) f(i)
      i += 1
    }
  }

  /** Top-level, word-bounded, case-insensitive occurrences of a keyword. */
  private def topLevelKw(s: String, kw: String): List[Int] = {
    val out = List.newBuilder[Int]
    scanTop(s) { i =>
      if (s.regionMatches(true, i, kw, 0, kw.length) &&
          (i == 0 || !isIdentChar(s.charAt(i - 1))) &&
          (i + kw.length >= s.length || !isIdentChar(s.charAt(i + kw.length))))
        out += i
    }
    out.result()
  }

  private def splitTopCommas(s: String): Seq[String] = {
    val cuts = List.newBuilder[Int]
    scanTop(s) { i => if (s.charAt(i) == ',') cuts += i }
    val cs = cuts.result()
    (-1 +: cs).zip(cs :+ s.length).map { case (a, b) => s.substring(a + 1, b) }
  }

  /** First top-level bare `=` (not `<=`, `>=`, `!=`, `==`). */
  private def topLevelEq(s: String): Option[Int] = {
    var found: Option[Int] = None
    scanTop(s) { i =>
      if (found.isEmpty && s.charAt(i) == '=' &&
          (i == 0 || !"<>!=".contains(s.charAt(i - 1))) &&
          (i + 1 >= s.length || s.charAt(i + 1) != '='))
        found = Some(i)
    }
    found
  }

  /** Index of the ')' closing the '(' at `open`, quote-aware. */
  private def matchParen(s: String, open: Int): Option[Int] = {
    var i = open
    var depth = 0
    var quote: Char = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        if (c == '\\' && i + 1 < s.length) i += 1
        else if (c == quote && i + 1 < s.length && s.charAt(i + 1) == quote) i += 1
        else if (c == quote) quote = 0
      }
      else if (c == '\'' || c == '"') quote = c
      else if (c == '(') depth += 1
      else if (c == ')') { depth -= 1; if (depth == 0) return Some(i) }
      i += 1
    }
    None
  }
}
