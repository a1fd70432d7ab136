package graft.queries

import graft.Engine
import graft.procedural.HplSql

/** HPL/SQL procedural scripts (SURVEY.md §2.12; reference
  * `hplsql/src/main/java/org/apache/hive/hplsql/Exec.java:52`). Each script
  * runs through [[HplSql.run]] — driver-side control flow, engine-side SQL —
  * and its final SELECT is the result set the oracle checks. The oracles
  * re-express the procedural logic as set-based SQL, which is exactly the
  * property worth pinning: the interpreter must agree with the declarative
  * answer on every path.
  */
object Procedural {

  val all: Seq[Qd] = Seq(

    // DECLARE with scalar-subquery initializer + IF/ELSIF/ELSE + SET.
    Qd("q148_hplsql_branch",
      """SELECT CASE WHEN n >= 1000000 THEN 'huge'
        |            WHEN n >= 10000 THEN 'big' ELSE 'small' END AS sz,
        |  n AS n_orders
        |FROM (SELECT count(*) AS n FROM orders)""") { (s, dir) =>
      HplSql.run(s, dir,
        """DECLARE n BIGINT := (SELECT count(*) FROM orders);
          |DECLARE sz STRING;
          |IF n >= 1000000 THEN
          |  SET sz = 'huge';
          |ELSIF n >= 10000 THEN
          |  SET sz = 'big';
          |ELSE
          |  SET sz = 'small';
          |END IF;
          |SELECT sz AS sz, CAST(n AS BIGINT) AS n_orders;""".stripMargin)
    },

    // WHILE loop: smallest power of two covering the order count — the
    // iterative driver-side computation must land on the closed form.
    Qd("q149_hplsql_while",
      """SELECT CAST(ceil(log2(n)) AS INT) AS iters,
        |  CAST(power(2, ceil(log2(n))) AS BIGINT) AS pw, n AS n_orders
        |FROM (SELECT count(*) AS n FROM orders)""") { (s, dir) =>
      HplSql.run(s, dir,
        """DECLARE n BIGINT := (SELECT count(*) FROM orders);
          |DECLARE pw BIGINT := 1;
          |DECLARE iters INT := 0;
          |WHILE pw < n LOOP
          |  SET pw = pw * 2;
          |  SET iters = iters + 1;
          |END LOOP;
          |SELECT CAST(iters AS INT) AS iters, CAST(pw AS BIGINT) AS pw, CAST(n AS BIGINT) AS n_orders;""".stripMargin)
    },

    // FOR-cursor over an ordered dimension query, accumulating into a
    // variable — the row-by-row path must equal DuckDB's ordered string_agg.
    Qd("q150_hplsql_cursor",
      """SELECT string_agg(r_name, ';' ORDER BY r_regionkey) || ';' AS regions,
        |  CAST(count(*) AS INT) AS n
        |FROM region""") { (s, dir) =>
      HplSql.run(s, dir,
        """DECLARE regions STRING := '';
          |DECLARE n INT := 0;
          |FOR r IN (SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey) LOOP
          |  SET regions = regions || r.r_name || ';';
          |  SET n = n + 1;
          |END LOOP;
          |SELECT regions AS regions, CAST(n AS INT) AS n;""".stripMargin)
    },

    // EXIT WHEN inside an unconditioned loop (exit_stmt, Hplsql.g4) — must
    // land on the same closed form as q149's conditioned WHILE.
    Qd("q156_hplsql_exit_when",
      """SELECT CAST(ceil(log2(n)) AS INT) AS iters,
        |  CAST(power(2, ceil(log2(n))) AS BIGINT) AS pw, n AS n_orders
        |FROM (SELECT count(*) AS n FROM orders)""") { (s, dir) =>
      HplSql.run(s, dir,
        """DECLARE n BIGINT := (SELECT count(*) FROM orders);
          |DECLARE pw BIGINT := 1;
          |DECLARE iters INT := 0;
          |WHILE 1 = 1 LOOP
          |  EXIT WHEN pw >= n;
          |  SET pw = pw * 2;
          |  SET iters = iters + 1;
          |END LOOP;
          |SELECT CAST(iters AS INT) AS iters, CAST(pw AS BIGINT) AS pw, CAST(n AS BIGINT) AS n_orders;""".stripMargin)
    },

    // BEGIN ... EXCEPTION WHEN OTHERS THEN (exception_block, Hplsql.g4): the
    // failing statement (missing table) routes to the handler, which
    // computes the fallback the oracle expects; the error must not escape.
    Qd("q157_hplsql_exception",
      """SELECT 'fallback' AS src, CAST(count(*) AS BIGINT) AS n FROM region""") { (s, dir) =>
      HplSql.run(s, dir,
        """DECLARE src STRING := 'none';
          |DECLARE n BIGINT := -1;
          |BEGIN
          |  SET n = (SELECT count(*) FROM graft_no_such_table_q157);
          |  SET src = 'table';
          |EXCEPTION WHEN OTHERS THEN
          |  SET src = 'fallback';
          |  SET n = (SELECT count(*) FROM region);
          |END;
          |SELECT src AS src, CAST(n AS BIGINT) AS n;""".stripMargin)
    },

    // CREATE PROCEDURE + CALL (create_procedure_stmt / call_stmt,
    // Hplsql.g4): IN parameters bind dynamically for the call, are
    // substituted into the body's SQL, and the procedure's SELECT is the
    // script result. The second CALL must win (procedures are re-entrant,
    // parameters rebind per call).
    Qd("q158_hplsql_procedure",
      """SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n,
        |  ROUND(CAST(sum(c_acctbal) AS DOUBLE), 2) AS bal
        |FROM customer
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey <= 1000
        |GROUP BY c_mktsegment""") { (s, dir) =>
      HplSql.run(s, dir,
        """CREATE PROCEDURE seg_summary(seg STRING, cap INT)
          |BEGIN
          |  SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n,
          |    ROUND(CAST(sum(c_acctbal) AS DOUBLE), 2) AS bal
          |  FROM customer
          |  WHERE c_mktsegment = seg AND c_custkey <= cap
          |  GROUP BY c_mktsegment;
          |END;
          |CALL seg_summary('MACHINERY', 500);
          |CALL seg_summary('BUILDING', 1000);""".stripMargin)
    },

    // Explicit cursor protocol (declare_cursor_stmt / open / fetch / close,
    // Hplsql.g4) with %FOUND / %NOTFOUND / %ROWCOUNT attributes — the
    // fetch-while-found loop must agree with the ordered set-based oracle.
    Qd("q159_hplsql_open_fetch",
      """SELECT string_agg(n_name, ',' ORDER BY n_nationkey) || ',' AS names,
        |  CAST(sum(n_nationkey) AS BIGINT) AS total,
        |  CAST(count(*) AS INT) AS n
        |FROM nation""") { (s, dir) =>
      HplSql.run(s, dir,
        """DECLARE nm STRING;
          |DECLARE k BIGINT;
          |DECLARE names STRING := '';
          |DECLARE total BIGINT := 0;
          |DECLARE cnt INT := 0;
          |DECLARE c CURSOR FOR
          |  SELECT n_name, CAST(n_nationkey AS BIGINT) FROM nation ORDER BY n_nationkey;
          |OPEN c;
          |FETCH c INTO nm, k;
          |WHILE c%FOUND LOOP
          |  SET names = names || nm || ',';
          |  SET total = total + k;
          |  FETCH c INTO nm, k;
          |END LOOP;
          |SET cnt = c%ROWCOUNT;
          |CLOSE c;
          |SELECT names AS names, CAST(total AS BIGINT) AS total, CAST(cnt AS INT) AS n;""".stripMargin)
    },

    // FOR range loop (for_range_stmt, with REVERSE), simple-form CASE
    // statement, and REPEAT…UNTIL — all anchored to the warehouse via the
    // nation count so the oracle derives every value from data.
    Qd("q160_hplsql_case_repeat",
      """SELECT CASE WHEN ((n*(n+1))/2) % 2 = 1 THEN 'odd' ELSE 'even' END AS par,
        |  CAST((n*(n+1))/2 AS BIGINT) AS s,
        |  CAST(ceil(sqrt((n*(n+1))/2)) AS INT) AS isqrt,
        |  '321' AS rev
        |FROM (SELECT count(*) AS n FROM nation)""") { (s, dir) =>
      HplSql.run(s, dir,
        """DECLARE nc INT := (SELECT count(*) FROM nation);
          |DECLARE s BIGINT := 0;
          |FOR i IN 1 .. nc LOOP
          |  SET s = s + i;
          |END LOOP;
          |DECLARE par STRING;
          |CASE s % 2
          |  WHEN 1 THEN SET par = 'odd';
          |  ELSE SET par = 'even';
          |END CASE;
          |DECLARE p INT := 0;
          |REPEAT
          |  SET p = p + 1;
          |UNTIL p * p >= s END REPEAT;
          |DECLARE rv STRING := '';
          |FOR i IN REVERSE 3 .. 1 LOOP
          |  SET rv = rv || CAST(i AS STRING);
          |END LOOP;
          |SELECT par AS par, CAST(s AS BIGINT) AS s, CAST(p AS INT) AS isqrt, rv AS rev;""".stripMargin)
    },

    // OUT/INOUT parameter modes (create_routine_param_item,
    // Hplsql.g4:472-473): the procedure returns THROUGH its parameters —
    // the count lands in an OUT var, the running total accumulates through
    // an IN OUT var — and the caller's variables carry the final answer.
    Qd("q194_hplsql_out_param",
      """SELECT CAST(n AS INT) AS n_match, CAST(100 + n AS BIGINT) AS total
        |FROM (SELECT count(*) AS n FROM nation WHERE n_name LIKE '%A%')""") { (s, dir) =>
      HplSql.run(s, dir,
        """DECLARE nr INT := 0;
          |DECLARE t BIGINT := 100;
          |CREATE PROCEDURE match_stats(IN pat STRING, OUT n INT, IN OUT total BIGINT) AS
          |BEGIN
          |  SET n = (SELECT count(*) FROM nation WHERE n_name LIKE pat);
          |  SET total = total + n;
          |END;
          |CALL match_stats('%A%', nr, t);
          |SELECT CAST(nr AS INT) AS n_match, CAST(t AS BIGINT) AS total;""".stripMargin)
    },

    // Named condition handling (declare_condition_item Hplsql.g4:197,
    // signal_stmt :726, exception_block :112-117): a data-derived SIGNAL
    // routes to its named WHEN branch, not OTHERS — and the procedural
    // answer must equal the declarative CASE.
    Qd("q195_hplsql_signal",
      """SELECT CASE WHEN n < 10 THEN 'small:' || CAST(n AS VARCHAR)
        |            ELSE 'big' END AS status
        |FROM (SELECT count(*) AS n FROM region)""") { (s, dir) =>
      HplSql.run(s, dir,
        """DECLARE small_region CONDITION;
          |DECLARE status STRING := 'ok';
          |DECLARE n INT := (SELECT count(*) FROM region);
          |BEGIN
          |  IF n < 10 THEN SIGNAL small_region; END IF;
          |  SET status = 'big';
          |EXCEPTION
          |  WHEN small_region THEN SET status = 'small:' || CAST(n AS STRING);
          |  WHEN OTHERS THEN SET status = 'err';
          |END;
          |SELECT status AS status;""".stripMargin)
    },

    // EXECUTE IMMEDIATE (exec_stmt, Hplsql.g4:494-495): dynamic SQL built
    // at run time from variables — an aggregate whose COLUMN NAME is a
    // variable (the canonical dynamic-SQL use case the static grammar
    // cannot express), with INTO binding the first row into script
    // variables; plus a dynamic DDL command (view name assembled at run
    // time) consumed by a later static statement. A :var left INSIDE the
    // built text binds like any static statement's variable would.
    Qd("q201_hplsql_exec_immediate",
      """SELECT
        |  (SELECT count(*) FROM customer WHERE c_mktsegment = 'BUILDING') AS n_c,
        |  (SELECT CAST(round(sum(c_acctbal), 2) AS DOUBLE) FROM customer
        |   WHERE c_mktsegment = 'BUILDING') AS tot,
        |  (SELECT count(*) FROM nation WHERE n_regionkey = 0) AS n_nat""") { (s, dir) =>
      HplSql.run(s, dir,
        """DECLARE agg_col STRING := 'c_acctbal';
          |DECLARE seg_v STRING := 'BUILDING';
          |DECLARE n_c BIGINT := 0;
          |DECLARE tot DOUBLE := 0;
          |EXECUTE IMMEDIATE 'SELECT count(*), CAST(round(sum(' || agg_col ||
          |  '), 2) AS DOUBLE) FROM customer WHERE c_mktsegment = seg_v'
          |  INTO n_c, tot;
          |DECLARE vname STRING := 'g201_v';
          |EXEC 'CREATE OR REPLACE TEMPORARY VIEW ' || vname ||
          |  ' AS SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 0';
          |DECLARE nn BIGINT := (SELECT count(*) FROM g201_v);
          |SELECT CAST(n_c AS BIGINT) AS n_c, CAST(tot AS DOUBLE) AS tot,
          |       CAST(nn AS BIGINT) AS n_nat;""".stripMargin)
    },

    // CREATE FUNCTION (create_function_stmt, Hplsql.g4): script-defined
    // functions on both execution paths — `disc` is expression-bodied, so
    // it inlines into the engine SQL as a textual macro and runs PER ROW
    // inside whole-stage codegen over lineitem (the reference registers
    // HPL/SQL functions for exactly this embedded-in-SQL use); `grade` has
    // a multi-statement body and runs driver-interpreted in scalar context.
    // The integer-cents aggregate keeps the cross-engine sum exact.
    Qd("q205_hplsql_function",
      """WITH b AS (SELECT count(*) AS n FROM customer
        |           WHERE c_mktsegment = 'BUILDING')
        |SELECT l_returnflag AS rf,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |       AS BIGINT)) AS BIGINT) AS rev_cents,
        |  count(*) AS n,
        |  (SELECT CASE WHEN n >= 100 THEN 'high' ELSE 'low' END FROM b) AS tag
        |FROM lineitem GROUP BY l_returnflag ORDER BY rf""") { (s, dir) =>
      HplSql.run(s, dir,
        """CREATE FUNCTION disc_cents(p DOUBLE, d DOUBLE) RETURNS BIGINT AS
          |BEGIN
          |  RETURN CAST(round(p * (1 - d) * 100) AS BIGINT);
          |END;
          |CREATE FUNCTION grade(nn BIGINT) RETURNS STRING AS
          |BEGIN
          |  DECLARE g STRING;
          |  IF nn >= 100 THEN SET g = 'high'; ELSE SET g = 'low'; END IF;
          |  RETURN g;
          |END;
          |DECLARE nb BIGINT := (SELECT count(*) FROM customer
          |                      WHERE c_mktsegment = 'BUILDING');
          |DECLARE tag STRING := grade(nb);
          |SELECT l_returnflag AS rf,
          |  CAST(sum(disc_cents(l_extendedprice, l_discount)) AS BIGINT) AS rev_cents,
          |  count(*) AS n, tag AS tag
          |FROM lineitem GROUP BY l_returnflag ORDER BY rf;""".stripMargin)
    },

    // CREATE PACKAGE (create_package_stmt): a named grouping of package
    // variables + functions + procedures with qualified access — a
    // procedure CALL mutates package state, and a package function
    // referencing that state inlines per-row into the engine SQL with the
    // state bound at statement time (the reference's package scope,
    // Package.java). The oracle re-expresses the final state declaratively.
    Qd("q206_hplsql_package",
      """SELECT CASE WHEN c_acctbal < 1000.0 THEN 'below'
        |            ELSE 'at_or_above' END AS band,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
        |FROM customer GROUP BY 1 ORDER BY band""") { (s, dir) =>
      HplSql.run(s, dir,
        """CREATE PACKAGE seg AS
          |  thr DOUBLE := 0;
          |  FUNCTION bal_band(b DOUBLE) RETURNS STRING;
          |  FUNCTION bal_band(b DOUBLE) RETURNS STRING AS
          |  BEGIN
          |    RETURN CASE WHEN b < seg.thr THEN 'below' ELSE 'at_or_above' END;
          |  END;
          |  PROCEDURE set_thr(IN t DOUBLE) AS
          |  BEGIN SET seg.thr = t; END;
          |END;
          |CALL seg.set_thr(1000.0);
          |SELECT seg.bal_band(c_acctbal) AS band, count(*) AS n,
          |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
          |FROM customer GROUP BY 1 ORDER BY band;""".stripMargin)
    },

    // DECLARE CONTINUE HANDLER (declare_handler_item, Hplsql.g4:213): a
    // point-lookup loop over keys that run past the table's end — each
    // miss raises NOT FOUND (empty INTO bind), the CONTINUE handler counts
    // it and execution resumes with the next key; hits accumulate exact
    // integer cents. The oracle re-expresses the probe declaratively with
    // NULL scalar subqueries standing in for the misses.
    // Oracle replays the PROGRAM, not a plain sum: the accumulator is
    // DECLAREd 0 (an all-miss probe set yields 0, never NULL — the
    // regenerated r18 sf0.001 data exposed exactly this edge: customer has
    // fewer than 150 rows there, every probe misses, SUM over no hits was
    // NULL while acc stayed 0), and the `IF bal >= 0` guard skips negative
    // balances (TPC-H acctbal may be negative), which a bare SUM would
    // include. At sf0.01/sf0.1 the probed keys all exist with non-negative
    // balances, so checked results are unchanged there.
    Qd("q208_hplsql_handler",
      """WITH ks AS (SELECT (i + 1) * 150 AS k FROM range(12) r(i)),
        |hit AS (SELECT k, (SELECT CAST(round(c_acctbal * 100) AS BIGINT)
        |                   FROM customer WHERE c_custkey = k) AS cents
        |        FROM ks)
        |SELECT CAST(coalesce(sum(CASE WHEN cents >= 0 THEN cents END), 0) AS BIGINT) AS acc_cents,
        |       CAST(sum(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS INT) AS misses
        |FROM hit""") { (s, dir) =>
      HplSql.run(s, dir,
        """DECLARE bal BIGINT := 0;
          |DECLARE acc BIGINT := 0;
          |DECLARE misses INT := 0;
          |DECLARE CONTINUE HANDLER FOR NOT FOUND SET misses = misses + 1;
          |FOR i IN 1 .. 12 LOOP
          |  SET bal = -1;
          |  EXECUTE IMMEDIATE 'SELECT CAST(round(c_acctbal * 100) AS BIGINT)
          |    FROM customer WHERE c_custkey = ' || CAST(i * 150 AS STRING)
          |    INTO bal;
          |  IF bal >= 0 THEN SET acc = acc + bal; END IF;
          |END LOOP;
          |SELECT CAST(acc AS BIGINT) AS acc_cents, CAST(misses AS INT) AS misses;""".stripMargin)
    },

    // COPY (select)|table TO <target> (copy_stmt, `Hplsql.g4:621-622`,
    // `Copy.java:178` copyToFile): delimiter-text export of a query result,
    // plus the SQLINSERT line format (quoted values, NULL for nulls). The
    // checked result is the PLAIN export read back and parsed; the table
    // form and the SQLINSERT form are require()-pinned in the script's
    // aftermath (line shape, row counts, quote doubling).
    Qd("q337_hplsql_copy_to",
      """SELECT CAST(n_nationkey AS BIGINT) AS nk, n_name AS nm,
        |  CAST(n_regionkey AS BIGINT) AS rk
        |FROM nation WHERE n_nationkey % 2 = 0 ORDER BY nk""") { (s, dir) =>
      import org.apache.spark.sql.functions._
      val sf = new java.io.File(dir).getName.replace(".", "_")
      val root = s"${Engine.scratchRoot}/ddl/$sf/g337_copy"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(new org.apache.hadoop.fs.Path(root)))
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
      HplSql.run(s, dir,
        s"""DECLARE tgt STRING := '$root/plain';
           |COPY (SELECT n_nationkey, n_name, n_regionkey FROM nation
           |      WHERE n_nationkey % 2 = 0) TO tgt DELIMITER '|';
           |COPY nation TO '$root/whole_table';
           |COPY (SELECT n_nationkey, n_name || '''' FROM nation)
           |  TO '$root/ins' SQLINSERT nation_bak;
           |SELECT 1 AS ok;""".stripMargin)
      // table form: default tab delimiter, one line per nation row
      val whole = s.read.text(s"$root/whole_table")
      require(whole.count() == graft.Engine.table(s, dir, "nation").count(),
        "COPY <table> TO must export every row")
      require(whole.filter(size(split(col("value"), "\t", -1)) =!=
        graft.Engine.table(s, dir, "nation").columns.length).count() == 0,
        "tab-delimited line must have one field per column")
      // SQLINSERT form: INSERT-statement lines, quotes doubled ('' from the
      // appended quote), one line per row
      val ins = s.read.text(s"$root/ins")
      require(ins.filter(!col("value").rlike(
        "^INSERT INTO nation_bak VALUES \\('[0-9]+','.*'''\\);$")).count() == 0,
        "SQLINSERT lines must be INSERT statements with ''-doubled quotes")
      require(ins.count() == graft.Engine.table(s, dir, "nation").count(),
        "SQLINSERT must emit one statement per row")
      // the checked result: the plain export, parsed back
      s.read.option("sep", "|").option("quote", "")
        .schema("nk STRING, nm STRING, rk STRING").csv(s"$root/plain")
        .select(col("nk").cast("bigint").as("nk"), col("nm"),
          col("rk").cast("bigint").as("rk"))
        .orderBy("nk")
    },

    // COPY FROM LOCAL (Hplsql.g4:617-619, Copy.java:runFromLocal): the
    // file-transfer statement, previously descoped — now only the FTP
    // transport remains out of scope. Legs: directory walk (multi-file
    // naming → target/name), explicit multi-source list, OVERWRITE
    // idempotence, no-OVERWRITE duplicate rejection, and DELETE removing
    // sources. The checked result parses both landed copies back; DuckDB
    // recomputes the exported content from the base table.
    Qd("q352_hplsql_copy_from_local",
      """SELECT src, CAST(n_nationkey AS BIGINT) AS nk, n_name AS nm
        |FROM (
        |  SELECT 'dir' AS src, n_nationkey, n_name FROM nation WHERE n_regionkey < 2
        |  UNION ALL
        |  SELECT 'list', n_nationkey, n_name FROM nation WHERE n_regionkey < 2)
        |ORDER BY src, nk""") { (s, dir) =>
      import org.apache.spark.sql.functions._
      val sf = new java.io.File(dir).getName.replace(".", "_")
      val root = s"${Engine.scratchRoot}/ddl/$sf/g352_cfl"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      HplSql.run(s, dir,
        s"""COPY (SELECT n_nationkey, n_name FROM nation WHERE n_regionkey < 2)
           |  TO '$root/export' DELIMITER ',';
           |COPY FROM LOCAL $root/export TO $root/land_dir;
           |SELECT 1 AS ok;""".stripMargin)
      // writer-assigned part names: feed them back as an explicit source list
      val parts = new java.io.File(s"$root/export").listFiles()
        .filter(_.getName.startsWith("part-")).map(_.getAbsolutePath).sorted
      require(parts.nonEmpty, "export produced no part files")
      HplSql.run(s, dir,
        s"COPY FROM LOCAL ${parts.mkString(", ")} TO $root/land_list; " +
          "SELECT 1 AS ok;")
      // OVERWRITE re-copy is idempotent; a duplicate without OVERWRITE fails
      HplSql.run(s, dir,
        s"COPY FROM LOCAL $root/export TO $root/land_dir OVERWRITE; SELECT 1 AS ok;")
      require(scala.util.Try(HplSql.run(s, dir,
        s"COPY FROM LOCAL $root/export TO $root/land_dir; SELECT 1 AS ok;")).isFailure,
        "copying onto an existing destination without OVERWRITE must fail")
      // DELETE removes each source file after its copy
      HplSql.run(s, dir,
        s"""COPY FROM LOCAL $root/export TO $root/scratch;
           |COPY FROM LOCAL $root/scratch TO $root/land_del DELETE;
           |SELECT 1 AS ok;""".stripMargin)
      require(!new java.io.File(s"$root/scratch").listFiles()
        .exists(_.getName.startsWith("part-")),
        "DELETE must remove the source files after copying")
      def readBack(path: String, tag: String) =
        s.read.option("sep", ",").option("quote", "")
          .schema("nk STRING, nm STRING").csv(path)
          .select(lit(tag).as("src"), col("nk").cast("bigint").as("nk"),
            col("nm").as("nm"))
      readBack(s"$root/land_dir", "dir")
        .unionAll(readBack(s"$root/land_list", "list"))
        .orderBy("src", "nk")
    }
  )
}
