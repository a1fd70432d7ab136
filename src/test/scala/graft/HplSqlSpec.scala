package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.procedural.HplSql

/** Interpreter-level tests for the HPL/SQL subset (reference semantics:
  * `hplsql/src/main/java/org/apache/hive/hplsql/Exec.java:52`). The q148–
  * q150 CORRECTNESS rows pin the data-facing results; this spec pins the
  * language behavior — branch selection, loop termination, cursor binding,
  * substitution hygiene, and error paths.
  */
class HplSqlSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 4, appName = "graft-hplsql")
  val dir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  private def run1(script: String): org.apache.spark.sql.Row =
    HplSql.run(spark, dir, script).head()

  test("IF takes the first true branch; ELSE when none") {
    val r = run1(
      """DECLARE x INT := 7;
        |DECLARE lbl STRING;
        |IF x > 10 THEN SET lbl = 'gt10';
        |ELSIF x > 5 THEN SET lbl = 'gt5';
        |ELSE SET lbl = 'small';
        |END IF;
        |SELECT lbl AS lbl;""".stripMargin)
    assert(r.getString(0) == "gt5")
  }

  test("NULL condition is not taken (three-valued logic)") {
    val r = run1(
      """DECLARE x INT;
        |DECLARE lbl STRING := 'else';
        |IF x > 0 THEN SET lbl = 'then'; END IF;
        |SELECT lbl AS lbl;""".stripMargin)
    assert(r.getString(0) == "else")
  }

  test("WHILE iterates and terminates; DO..END WHILE form accepted") {
    val r = run1(
      """DECLARE i INT := 0;
        |DECLARE acc INT := 0;
        |WHILE i < 5 DO
        |  SET i = i + 1;
        |  SET acc = acc + i;
        |END WHILE;
        |SELECT acc AS acc;""".stripMargin)
    assert(r.getInt(0) == 15)
  }

  test("FOR cursor binds rec.col per row, in query order, and unbinds after") {
    val r = run1(
      """DECLARE s STRING := '';
        |FOR r IN (SELECT n_name FROM nation WHERE n_regionkey = 0 ORDER BY n_name) LOOP
        |  SET s = s || substr(r.n_name, 8, 2) || '.';
        |END LOOP;
        |SELECT s AS s;""".stripMargin)
    // region-0 nations ordered by name: NATION_0, NATION_10, NATION_15,
    // NATION_20, NATION_5 — suffix from char 8 of each
    assert(r.getString(0) == "0.10.15.20.5.")
    // rec vars must not leak past the loop
    val e = intercept[Exception](run1(
      """FOR r IN (SELECT n_name FROM nation LIMIT 1) LOOP
        |  PRINT r.n_name;
        |END LOOP;
        |SELECT r.n_name AS x;""".stripMargin))
    assert(e.getMessage != null)
  }

  test("substitution respects identifier boundaries and string literals") {
    val r = run1(
      """DECLARE n INT := 3;
        |SELECT n AS v, 'n is n' AS s, n_name AS nm
        |FROM nation WHERE n_nationkey = n;""".stripMargin)
    assert(r.getInt(0) == 3)
    assert(r.getString(1) == "n is n") // literal untouched
    assert(r.getString(2) == "NATION_3") // n_name / n_nationkey not clobbered by var n
  }

  test("variables carry engine values: string escaping round-trips") {
    val r = run1(
      """DECLARE s STRING := (SELECT 'O''Brien');
        |SELECT s AS s, length(s) AS l;""".stripMargin)
    assert(r.getString(0) == "O'Brien" && r.getInt(1) == 7)
  }

  test("SQL statements between control flow execute in order (DDL visible)") {
    val r = run1(
      """CREATE OR REPLACE TEMPORARY VIEW hpl_tmp AS SELECT 41 AS v;
        |DECLARE x INT := (SELECT v FROM hpl_tmp);
        |SELECT x + 1 AS v;""".stripMargin)
    assert(r.getInt(0) == 42)
  }

  test("errors: SET of undeclared var; runaway WHILE; missing result set") {
    assert(intercept[IllegalArgumentException](
      run1("SET nope = 1; SELECT 1 AS a;")).getMessage.contains("undeclared"))
    val saved = HplSql.MaxLoopIters
    HplSql.MaxLoopIters = 25 // keep the runaway loop cheap for the test
    try assert(intercept[IllegalArgumentException](run1(
      """DECLARE i INT := 0;
        |WHILE i >= 0 LOOP SET i = i + 1; END LOOP;
        |SELECT i AS i;""".stripMargin)).getMessage.contains("iterations"))
    finally HplSql.MaxLoopIters = saved
    assert(intercept[IllegalArgumentException](
      run1("DECLARE x INT := 1;")).getMessage.contains("no result set"))
  }

  test("comments and unterminated blocks") {
    val r = run1(
      """-- leading comment
        |DECLARE x INT := 1; /* block
        |   comment */
        |SELECT x AS x;""".stripMargin)
    assert(r.getInt(0) == 1)
    assert(intercept[IllegalArgumentException](run1(
      "IF 1 = 1 THEN SELECT 1 AS a;")).getMessage.contains("unterminated"))
  }

  test("EXIT breaks the innermost loop only; bare EXIT is unconditional") {
    val r = run1(
      """DECLARE outer INT := 0;
        |DECLARE total INT := 0;
        |WHILE outer < 3 LOOP
        |  SET outer = outer + 1;
        |  DECLARE inner INT := 0;
        |  WHILE 1 = 1 LOOP
        |    SET inner = inner + 1;
        |    SET total = total + 1;
        |    EXIT WHEN inner >= 2;
        |  END LOOP;
        |END LOOP;
        |SELECT CAST(outer AS INT) AS o, CAST(total AS INT) AS t;""".stripMargin)
    assert(r.getInt(0) == 3 && r.getInt(1) == 6,
      "inner EXIT must not terminate the outer loop")
    val r2 = run1(
      """DECLARE i INT := 0;
        |WHILE 1 = 1 LOOP SET i = i + 1; EXIT; END LOOP;
        |SELECT CAST(i AS INT) AS i;""".stripMargin)
    assert(r2.getInt(0) == 1)
  }

  test("EXIT WHEN NULL is not taken (3VL, like IF)") {
    val r = run1(
      """DECLARE x INT;
        |DECLARE i INT := 0;
        |WHILE i < 3 LOOP
        |  SET i = i + 1;
        |  EXIT WHEN x > 0;
        |END LOOP;
        |SELECT CAST(i AS INT) AS i;""".stripMargin)
    assert(r.getInt(0) == 3)
  }

  test("EXCEPTION WHEN OTHERS catches engine errors; SQLERRM bound in handler") {
    val r = run1(
      """DECLARE msg STRING := 'none';
        |BEGIN
        |  SELECT * FROM graft_missing_table_spec;
        |EXCEPTION WHEN OTHERS THEN
        |  SET msg = SQLERRM;
        |END;
        |SELECT msg AS msg;""".stripMargin)
    assert(r.getString(0) != null && r.getString(0) != "none",
      "handler must run with SQLERRM bound to the error message")
  }

  test("BEGIN without handler propagates; EXIT passes through a handler") {
    // no handler -> the engine error escapes to the caller
    intercept[Exception](run1(
      """BEGIN SELECT * FROM graft_missing_table_spec2; END;
        |SELECT 1 AS x;""".stripMargin))
    // EXIT inside a handled block inside a loop: loop control is NOT an
    // exception — the handler must not swallow it
    val r = run1(
      """DECLARE i INT := 0;
        |DECLARE caught INT := 0;
        |WHILE 1 = 1 LOOP
        |  SET i = i + 1;
        |  BEGIN
        |    EXIT WHEN i >= 2;
        |  EXCEPTION WHEN OTHERS THEN
        |    SET caught = caught + 1;
        |  END;
        |END LOOP;
        |SELECT CAST(i AS INT) AS i, CAST(caught AS INT) AS c;""".stripMargin)
    assert(r.getInt(0) == 2 && r.getInt(1) == 0,
      "EXIT must unwind through the exception block without triggering it")
  }

  test("procedure params bind per CALL, shadow and restore outer vars") {
    val r = run1(
      """DECLARE x INT := 99;
        |DECLARE got INT := 0;
        |CREATE PROCEDURE addx(x INT, y INT)
        |BEGIN
        |  SET got = x + y;
        |END;
        |CALL addx(2, 3);
        |SELECT CAST(got AS INT) AS got, CAST(x AS INT) AS x;""".stripMargin)
    assert(r.getInt(0) == 5, "param arithmetic inside the procedure")
    assert(r.getInt(1) == 99, "outer x restored after the call")
  }

  test("CALL errors: undefined procedure; arity mismatch; handler fires inside proc") {
    intercept[Exception](run1("CALL nosuch(1);\nSELECT 1 AS x;"))
    intercept[Exception](run1(
      """CREATE PROCEDURE p1(a INT) BEGIN SET a = a; END;
        |CALL p1(1, 2);
        |SELECT 1 AS x;""".stripMargin))
    val r = run1(
      """DECLARE ok STRING := 'no';
        |CREATE PROCEDURE f() BEGIN
        |  SELECT * FROM graft_missing_table_spec3;
        |EXCEPTION WHEN OTHERS THEN
        |  SET ok = 'handled';
        |END;
        |CALL f();
        |SELECT ok AS ok;""".stripMargin)
    assert(r.getString(0) == "handled")
  }

  test("OUT/INOUT params: copy-out on normal return, OUT enters NULL, modes parse in all forms") {
    val r = run1(
      """DECLARE a INT := 1;
        |DECLARE b INT := 10;
        |DECLARE got_null STRING := 'no';
        |CREATE PROCEDURE acc(IN x INT, OUT y INT, IN OUT z INT) AS
        |BEGIN
        |  IF y IS NULL THEN SET got_null = 'yes'; END IF;
        |  SET y = x * 100;
        |  SET z = z + x;
        |END;
        |CALL acc(7, a, b);
        |SELECT CAST(a AS INT) AS a, CAST(b AS INT) AS b, got_null AS gn;""".stripMargin)
    assert(r.getInt(0) == 700, "OUT param must copy out on return")
    assert(r.getInt(1) == 17, "INOUT must carry the caller value in and the final value out")
    assert(r.getString(2) == "yes", "OUT param must enter the body uninitialized (NULL)")
  }

  test("OUT copy-out: caller var untouched when the procedure throws; arg must be a variable") {
    val r = run1(
      """DECLARE a INT := 5;
        |CREATE PROCEDURE boom(OUT y INT) AS
        |BEGIN
        |  SET y = 99;
        |  SELECT 1 FROM no_such_table_xyz;
        |END;
        |BEGIN
        |  CALL boom(a);
        |EXCEPTION WHEN OTHERS THEN SET a = a;
        |END;
        |SELECT CAST(a AS INT) AS a;""".stripMargin)
    assert(r.getInt(0) == 5, "failed call must not copy out")
    intercept[Exception](run1(
      """CREATE PROCEDURE p(OUT y INT) AS BEGIN SET y = 1; END;
        |CALL p(1 + 2);
        |SELECT 1 AS x;""".stripMargin))
    intercept[Exception](run1(
      """CREATE PROCEDURE p(OUT y INT) AS BEGIN SET y = 1; END;
        |CALL p(undeclared_var);
        |SELECT 1 AS x;""".stripMargin))
  }

  test("named conditions: SIGNAL reaches its WHEN branch; OTHERS is the fallback; unmatched propagates") {
    val r = run1(
      """DECLARE log STRING := '';
        |DECLARE overdraft CONDITION;
        |DECLARE shortfall CONDITION;
        |BEGIN
        |  SIGNAL overdraft;
        |EXCEPTION
        |  WHEN shortfall THEN SET log = log || 'wrong;';
        |  WHEN overdraft THEN SET log = log || 'od:' || SQLERRM || ';';
        |  WHEN OTHERS THEN SET log = log || 'others;';
        |END;
        |BEGIN
        |  SIGNAL shortfall;
        |EXCEPTION
        |  WHEN overdraft THEN SET log = log || 'wrong2;';
        |  WHEN OTHERS THEN SET log = log || 'fellthrough;';
        |END;
        |SELECT log AS log;""".stripMargin)
    assert(r.getString(0) == "od:SIGNAL overdraft;fellthrough;")
    // a signal with no matching branch and no OTHERS propagates to the
    // outer block's handlers
    val r2 = run1(
      """DECLARE c1 CONDITION;
        |DECLARE hit STRING := 'no';
        |BEGIN
        |  BEGIN
        |    SIGNAL c1;
        |  EXCEPTION WHEN some_other THEN SET hit = 'inner';
        |  END;
        |EXCEPTION WHEN c1 THEN SET hit = 'outer';
        |END;
        |SELECT hit AS hit;""".stripMargin)
    assert(r2.getString(0) == "outer")
    // SIGNAL of an undeclared condition fails at the raise site
    intercept[Exception](run1("SIGNAL nope;\nSELECT 1 AS x;"))
  }

  test("explicit cursor: OPEN/FETCH/CLOSE protocol and attributes") {
    val r = run1(
      """DECLARE nm STRING;
        |DECLARE acc STRING := '';
        |DECLARE pre BOOLEAN;
        |DECLARE c CURSOR FOR SELECT r_name FROM region ORDER BY r_regionkey;
        |SET pre = c%ISOPEN;
        |OPEN c;
        |FETCH c INTO nm;
        |WHILE c%FOUND LOOP
        |  SET acc = acc || nm || '|';
        |  FETCH c INTO nm;
        |END LOOP;
        |DECLARE rc INT := c%ROWCOUNT;
        |DECLARE nf BOOLEAN := c%NOTFOUND;
        |CLOSE c;
        |SELECT acc AS acc, CAST(rc AS INT) AS rc, nf AS nf, pre AS pre,
        |  c%ISOPEN AS post;""".stripMargin)
    assert(r.getString(0).split('|').length == 5, "5 regions fetched in order")
    assert(r.getInt(1) == 5, "%ROWCOUNT counts successful fetches only")
    assert(r.getBoolean(2), "%NOTFOUND true after the failed fetch")
    assert(!r.getBoolean(3) && !r.getBoolean(4), "%ISOPEN false before OPEN and after CLOSE")
  }

  test("cursor errors: FETCH before OPEN; undeclared cursor; arity mismatch") {
    intercept[Exception](run1(
      """DECLARE v STRING;
        |DECLARE c CURSOR FOR SELECT r_name FROM region;
        |FETCH c INTO v;
        |SELECT 1 AS x;""".stripMargin))
    intercept[Exception](run1("OPEN nocur;\nSELECT 1 AS x;"))
    intercept[Exception](run1(
      """DECLARE v STRING;
        |DECLARE c CURSOR FOR SELECT r_name, r_regionkey FROM region;
        |OPEN c;
        |FETCH c INTO v;
        |SELECT 1 AS x;""".stripMargin))
  }

  test("FOR range: inclusive bounds, REVERSE order, empty range, EXIT, shadow restore") {
    // REVERSE follows the reference (Stmt.java:963 forRange): start at the
    // FIRST bound, decrement while >= the second — so REVERSE 3..1 runs
    // 3,2,1 and REVERSE 1..3 runs zero iterations (NOT Oracle's lo..hi).
    val r = run1(
      """DECLARE i STRING := 'outer';
        |DECLARE up STRING := '';
        |DECLARE down STRING := '';
        |DECLARE none INT := 0;
        |DECLARE rnone INT := 0;
        |FOR i IN 1 .. 4 LOOP SET up = up || CAST(i AS STRING); END LOOP;
        |FOR i IN REVERSE 3 .. 1 LOOP SET down = down || CAST(i AS STRING); END LOOP;
        |FOR i IN 5 .. 4 LOOP SET none = none + 1; END LOOP;
        |FOR i IN REVERSE 1 .. 3 LOOP SET rnone = rnone + 1; END LOOP;
        |DECLARE part INT := 0;
        |FOR i IN 1 .. 100 LOOP
        |  SET part = part + 1;
        |  EXIT WHEN i >= 3;
        |END LOOP;
        |SELECT up AS up, down AS down, CAST(none AS INT) AS none,
        |  CAST(rnone AS INT) AS rnone, CAST(part AS INT) AS part, i AS i;""".stripMargin)
    assert(r.getString(0) == "1234" && r.getString(1) == "321")
    assert(r.getInt(2) == 0, "descending bounds without REVERSE iterate zero times")
    assert(r.getInt(3) == 0,
      "REVERSE with ascending bounds iterates zero times (reference forRange)")
    assert(r.getInt(4) == 3, "EXIT WHEN leaves the range loop")
    assert(r.getString(5) == "outer", "loop variable restored after the loop")
  }

  test("CASE statement: searched and simple forms; no-match runs ELSE") {
    val r = run1(
      """DECLARE x INT := 7;
        |DECLARE a STRING; DECLARE b STRING; DECLARE c2 STRING;
        |CASE WHEN x > 10 THEN SET a = 'big'; WHEN x > 5 THEN SET a = 'mid';
        |ELSE SET a = 'small'; END CASE;
        |CASE x WHEN 7 THEN SET b = 'seven'; WHEN 8 THEN SET b = 'eight';
        |END CASE;
        |DECLARE y INT := 0;
        |CASE y WHEN 1 THEN SET c2 = 'one'; ELSE SET c2 = 'other'; END CASE;
        |SELECT a AS a, b AS b, c2 AS c2;""".stripMargin)
    assert(r.getString(0) == "mid" && r.getString(1) == "seven" && r.getString(2) == "other")
  }

  test("bounded recursion works; runaway recursion fails loudly, not with a stack overflow") {
    val r = run1(
      """DECLARE acc INT := 0;
        |CREATE PROCEDURE countdown(k INT)
        |BEGIN
        |  SET acc = acc + k;
        |  IF k > 1 THEN CALL countdown(k - 1); END IF;
        |END;
        |CALL countdown(10);
        |SELECT CAST(acc AS INT) AS acc;""".stripMargin)
    assert(r.getInt(0) == 55, "10-deep recursion accumulates 10+9+...+1")
    intercept[Exception](run1(
      """CREATE PROCEDURE forever() BEGIN CALL forever(); END;
        |CALL forever();
        |SELECT 1 AS x;""".stripMargin))
  }

  test("REPEAT runs the body at least once and stops when UNTIL is true") {
    val r = run1(
      """DECLARE n INT := 0;
        |REPEAT SET n = n + 1; UNTIL 1 = 1 END REPEAT;
        |DECLARE m INT := 0;
        |REPEAT SET m = m + 2; UNTIL m >= 7 END REPEAT;
        |SELECT CAST(n AS INT) AS n, CAST(m AS INT) AS m;""".stripMargin)
    assert(r.getInt(0) == 1, "true UNTIL still executes once")
    assert(r.getInt(1) == 8, "post-test loop: 2,4,6,8")
  }

  test("a substituted string value is never re-scanned for other variable names") {
    val r = run1(
      """DECLARE a STRING := 'x marks the spot';
        |DECLARE x INT := 5;
        |SELECT a AS a, x AS x;""".stripMargin)
    assert(r.getString(0) == "x marks the spot",
      "the x inside a's VALUE must not be substituted")
    assert(r.getInt(1) == 5)
  }

  test("result SELECT materializes at its point in script order (later DML invisible)") {
    val r = run1(
      s"""DROP TABLE IF EXISTS g_hpl_order_spec;
        |CREATE TABLE g_hpl_order_spec (v INT) USING parquet
        |  LOCATION '${Engine.scratchRoot}/ddl/hpl_order_spec';
        |INSERT OVERWRITE g_hpl_order_spec VALUES (1), (2);
        |SELECT count(*) AS n FROM g_hpl_order_spec;
        |INSERT INTO g_hpl_order_spec VALUES (3);""".stripMargin)
    assert(r.getLong(0) == 2, "the SELECT ran before the final INSERT")
  }

  test("CTE-prefixed DML is a command, not the script result") {
    val r = run1(
      s"""DROP TABLE IF EXISTS g_hpl_cte_spec;
        |CREATE TABLE g_hpl_cte_spec (v INT) USING parquet
        |  LOCATION '${Engine.scratchRoot}/ddl/hpl_cte_spec';
        |SELECT 42 AS answer;
        |WITH src AS (SELECT 7 AS v) INSERT OVERWRITE g_hpl_cte_spec SELECT v FROM src;""".stripMargin)
    assert(r.schema.fieldNames.sameElements(Array("answer")) && r.getInt(0) == 42,
      "the WITH...INSERT must not hijack lastResult")
  }

  test("';' inside a double-quoted literal does not split the statement") {
    val r = run1("""SELECT "a;b" AS v;""")
    assert(r.getString(0) == "a;b")
  }

  test("backslash-escaped quotes stay inside the literal (both quote styles)") {
    val r = run1("SELECT \"a\\\";b\" AS v, 'c\\';d' AS w;")
    assert(r.getString(0) == "a\";b", s"got ${r.getString(0)}")
    assert(r.getString(1) == "c';d", s"got ${r.getString(1)}")
  }

  test("nested handlers restore the outer SQLERRM binding") {
    val r = run1(
      """DECLARE outer_msg STRING := '';
        |BEGIN
        |  SELECT * FROM g_hpl_missing_outer;
        |EXCEPTION WHEN OTHERS THEN
        |  BEGIN
        |    SELECT * FROM g_hpl_missing_inner;
        |  EXCEPTION WHEN OTHERS THEN
        |    SET outer_msg = 'inner-handled';
        |  END;
        |  SET outer_msg = outer_msg || '|' || SQLERRM;
        |END;
        |SELECT outer_msg AS m;""".stripMargin)
    assert(r.getString(0).startsWith("inner-handled|"),
      "outer handler still sees ITS OWN SQLERRM after the nested handler ran")
    assert(r.getString(0).contains("g_hpl_missing_outer") ||
      r.getString(0).toUpperCase.contains("TABLE_OR_VIEW_NOT_FOUND"),
      s"outer SQLERRM should describe the OUTER failure, got: ${r.getString(0)}")
  }

  test("identifiers resolve case-insensitively in SET and FETCH (reference semantics)") {
    val r = run1(
      """DECLARE Total INT := 0;
        |SET TOTAL = total + 41;
        |DECLARE nm STRING;
        |DECLARE c CURSOR FOR SELECT r_name FROM region ORDER BY r_regionkey;
        |OPEN c;
        |FETCH c INTO NM;
        |CLOSE C;
        |SELECT total AS t, nm AS nm;""".stripMargin)
    assert(r.getInt(0) == 41, "SET TOTAL must bind the declared Total")
    assert(r.getString(1) != null, "FETCH INTO NM must bind nm")
  }

  test("nested FOR-cursors restore the outer record bindings") {
    val r = run1(
      """DECLARE acc STRING := '';
        |FOR r IN (SELECT r_name FROM region ORDER BY r_regionkey) LOOP
        |  FOR r IN (SELECT r_name FROM region WHERE r_regionkey = 0) LOOP
        |    SET acc = acc;
        |  END LOOP;
        |  SET acc = acc || r.r_name || ';';
        |END LOOP;
        |SELECT acc AS acc;""".stripMargin)
    val parts = r.getString(0).split(';').toSeq
    assert(parts.length == 5 && parts.distinct.length == 5,
      s"outer r.r_name must survive the shadowing inner loop, got: ${r.getString(0)}")
  }

  test("a negative variable value after '-' does not form a '--' comment") {
    val r = run1(
      """DECLARE v INT := (SELECT -5);
        |DECLARE x INT := 10;
        |SET x = x - v;
        |SELECT CAST(x AS INT) AS x;""".stripMargin)
    assert(r.getInt(0) == 15, "x - (-5) = 15, not a swallowed comment")
  }

  test("EXECUTE IMMEDIATE binds INTO vars; dynamic text re-binds script vars") {
    val r = run1(
      """DECLARE lim INT := 2;
        |DECLARE n BIGINT := 0;
        |DECLARE top STRING := '';
        |EXECUTE IMMEDIATE 'SELECT count(*), max(r_name) FROM (SELECT r_name' ||
        |  ' FROM region ORDER BY r_regionkey LIMIT lim)' INTO n, top;
        |SELECT CAST(n AS BIGINT) AS n, top AS top;""".stripMargin)
    assert(r.getLong(0) == 2L, "dynamic LIMIT lim must bind the declared lim")
    assert(r.getString(1) == "AMERICA", s"got ${r.getString(1)}")
  }

  test("EXECUTE IMMEDIATE INTO arity mismatch and NULL text fail clearly") {
    val a = intercept[IllegalArgumentException](run1(
      """DECLARE n INT := 0;
        |EXECUTE IMMEDIATE 'SELECT 1, 2' INTO n;
        |SELECT 1 AS x;""".stripMargin))
    assert(a.getMessage.contains("arity"), s"got: ${a.getMessage}")
    val b = intercept[IllegalArgumentException](run1(
      """DECLARE s STRING;
        |EXECUTE IMMEDIATE s;
        |SELECT 1 AS x;""".stripMargin))
    assert(b.getMessage.contains("NULL"), s"got: ${b.getMessage}")
  }

  test("EXIT outside any loop raises a clear error, not a control throwable") {
    val e = intercept[IllegalArgumentException](run1(
      "IF 1 = 1 THEN EXIT; END IF;\nSELECT 1 AS x;"))
    assert(e.getMessage.contains("EXIT outside"),
      s"expected a clear message, got: ${e.getMessage}")
  }

  test("expression-bodied CREATE FUNCTION inlines per-row into engine SQL") {
    val r = HplSql.run(spark, dir,
      """CREATE FUNCTION taxed(amt DOUBLE, rate DOUBLE) RETURNS DOUBLE AS
        |BEGIN RETURN round(amt * (1 + rate), 2); END;
        |SELECT r_regionkey AS rk, taxed(CAST(r_regionkey AS DOUBLE) * 100, 0.1) AS t
        |FROM region ORDER BY rk;""".stripMargin).collect()
    assert(r.length == 5)
    assert(r.map(_.getDouble(1)).toSeq == Seq(0.0, 110.0, 220.0, 330.0, 440.0))
  }

  test("nested function calls expand inside-out; args may reference columns") {
    val r = run1(
      """CREATE FUNCTION inc(x INT) RETURNS INT AS BEGIN RETURN x + 1; END;
        |CREATE FUNCTION twice(x INT) RETURNS INT AS BEGIN RETURN inc(inc(x)); END;
        |SELECT max(twice(CAST(r_regionkey AS INT))) AS m FROM region;""".stripMargin)
    assert(r.getInt(0) == 6) // max key 4 + 2
  }

  test("statement-bodied function runs driver-side in scalar context") {
    val r = run1(
      """CREATE FUNCTION grade(n BIGINT) RETURNS STRING AS
        |BEGIN
        |  DECLARE g STRING;
        |  IF n >= 3 THEN SET g = 'high'; ELSE SET g = 'low'; END IF;
        |  RETURN g;
        |END;
        |DECLARE a STRING := grade(5);
        |DECLARE b STRING := grade(1);
        |SELECT a AS a, b AS b;""".stripMargin)
    assert(r.getString(0) == "high" && r.getString(1) == "low")
  }

  test("statement-bodied function with a per-row column argument fails clearly") {
    val e = intercept[Exception](run1(
      """CREATE FUNCTION g(n BIGINT) RETURNS STRING AS
        |BEGIN DECLARE s STRING := 'x'; RETURN s; END;
        |SELECT g(r_regionkey) AS v FROM region;""".stripMargin))
    assert(e.getMessage.contains("multi-statement body"),
      s"expected the constant-argument diagnostic, got: ${e.getMessage}")
  }

  test("function params are dynamically scoped and restored after the call") {
    val r = run1(
      """DECLARE x INT := 99;
        |CREATE FUNCTION f(x INT) RETURNS INT AS
        |BEGIN RETURN x * 2; END;
        |DECLARE y INT := f(7);
        |SELECT x AS x, y AS y;""".stripMargin)
    // macro path: f(7) inlines to ((7) * 2); the script x stays 99
    assert(r.getInt(0) == 99 && r.getInt(1) == 14)
  }

  test("OR REPLACE redefines; recursive expansion fails loudly") {
    val r = run1(
      """CREATE FUNCTION f(x INT) RETURNS INT AS BEGIN RETURN x + 1; END;
        |CREATE OR REPLACE FUNCTION f(x INT) RETURNS INT AS BEGIN RETURN x + 10; END;
        |SELECT f(1) AS v;""".stripMargin)
    assert(r.getInt(0) == 11)
    val e = intercept[Exception](run1(
      """CREATE FUNCTION loopy(x INT) RETURNS INT AS
        |BEGIN RETURN loopy(x) + 1; END;
        |SELECT loopy(1) AS v;""".stripMargin))
    assert(e.getMessage.contains("expansion depth") ||
      e.getMessage.contains("recursion"),
      s"expected the depth diagnostic, got: ${e.getMessage}")
  }

  test("RETURN exits a procedure early; copy-out still applies") {
    val r = run1(
      """DECLARE res INT := 0;
        |CREATE PROCEDURE p(IN n INT, OUT out_v INT) AS
        |BEGIN
        |  SET out_v = 1;
        |  IF n > 0 THEN RETURN; END IF;
        |  SET out_v = 2;
        |END;
        |CALL p(5, res);
        |SELECT res AS res;""".stripMargin)
    assert(r.getInt(0) == 1, "RETURN must skip the rest of the body; OUT copy-out applies")
  }

  test("DECLARE CONTINUE HANDLER resumes; EXIT handler leaves the block") {
    val r = run1(
      """DECLARE err INT := 0;
        |DECLARE ok INT := 0;
        |DECLARE CONTINUE HANDLER FOR SQLEXCEPTION SET err = err + 1;
        |SELECT * FROM g_no_such_table_1;
        |SET ok = 1;
        |SELECT err AS err, ok AS ok;""".stripMargin)
    assert(r.getInt(0) == 1 && r.getInt(1) == 1,
      "CONTINUE: handler ran once, execution resumed")
    val r2 = run1(
      """DECLARE err INT := 0;
        |BEGIN
        |  DECLARE EXIT HANDLER FOR SQLEXCEPTION SET err = 99;
        |  SELECT * FROM g_no_such_table_2;
        |  SET err = 1;
        |END;
        |SELECT err AS err;""".stripMargin)
    assert(r2.getInt(0) == 99, "EXIT: handler ran, rest of the block skipped")
  }

  test("handler conditions: NOT FOUND on empty bind, named condition, scope ends with block") {
    val r = run1(
      """DECLARE v INT := -1;
        |DECLARE flag INT := 0;
        |DECLARE CONTINUE HANDLER FOR NOT FOUND SET flag = 1;
        |EXECUTE IMMEDIATE 'SELECT 5 WHERE 1 = 0' INTO v;
        |SELECT flag AS flag, v AS v;""".stripMargin)
    assert(r.getInt(0) == 1 && r.getInt(1) == -1)
    val r2 = run1(
      """DECLARE my_cond CONDITION;
        |DECLARE hits INT := 0;
        |DECLARE CONTINUE HANDLER FOR my_cond SET hits = hits + 1;
        |SIGNAL my_cond;
        |SIGNAL my_cond;
        |SELECT hits AS hits;""".stripMargin)
    assert(r2.getInt(0) == 2, "named-condition handler fires per SIGNAL")
    // a handler's scope ends with its block: later failures propagate
    val e = intercept[Exception](run1(
      """BEGIN
        |  DECLARE CONTINUE HANDLER FOR SQLEXCEPTION PRINT 'x';
        |END;
        |SELECT * FROM g_no_such_table_3;
        |SELECT 1 AS x;""".stripMargin))
    assert(e.getMessage.toLowerCase.contains("g_no_such_table_3") ||
      e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"))
  }

  test("RESIGNAL re-raises the handled condition outward; bare RESIGNAL errors") {
    val r = run1(
      """DECLARE my_err CONDITION;
        |DECLARE trail STRING := '';
        |BEGIN
        |  BEGIN
        |    SIGNAL my_err;
        |  EXCEPTION
        |    WHEN my_err THEN
        |      SET trail = trail || 'inner;';
        |      RESIGNAL;
        |  END;
        |  SET trail = trail || 'unreached;';
        |EXCEPTION
        |  WHEN my_err THEN SET trail = trail || 'outer;';
        |END;
        |SELECT trail AS trail;""".stripMargin)
    assert(r.getString(0) == "inner;outer;",
      "resignal must propagate the SAME condition past its own block")
    val e = intercept[IllegalArgumentException](run1("RESIGNAL;\nSELECT 1 AS x;"))
    assert(e.getMessage.contains("RESIGNAL outside"))
  }

  test("CREATE PACKAGE: qualified members, package variables, forward declarations") {
    val r = run1(
      """CREATE PACKAGE stats AS
        |  cnt INT := 0;
        |  FUNCTION double_it(x INT) RETURNS INT;
        |  FUNCTION double_it(x INT) RETURNS INT AS
        |  BEGIN RETURN x * 2; END;
        |  PROCEDURE bump(IN by INT) AS
        |  BEGIN SET stats.cnt = stats.cnt + by; END;
        |END;
        |CALL stats.bump(3);
        |CALL stats.bump(4);
        |SELECT stats.cnt AS c, stats.double_it(10) AS d,
        |       max(stats.double_it(CAST(r_regionkey AS INT))) AS m
        |FROM region;""".stripMargin)
    assert(r.getInt(0) == 7, "package variable accumulates across CALLs")
    assert(r.getInt(1) == 20, "qualified macro call in scalar position")
    assert(r.getInt(2) == 8, "qualified macro call per-row over a table")
  }

  test("package names do not collide with unqualified ones; END pkg tail accepted") {
    val r = run1(
      """CREATE FUNCTION f(x INT) RETURNS INT AS BEGIN RETURN x + 1; END;
        |CREATE PACKAGE p AS
        |  FUNCTION f(x INT) RETURNS INT AS BEGIN RETURN x + 100; END;
        |END p;
        |SELECT f(1) AS a, p.f(1) AS b;""".stripMargin)
    assert(r.getInt(0) == 2 && r.getInt(1) == 101)
  }

  test("function names resolve case-insensitively; string literals are never rewritten") {
    val r = run1(
      """CREATE FUNCTION Tag(x INT) RETURNS STRING AS
        |BEGIN RETURN 'v' || CAST(x AS STRING); END;
        |SELECT TAG(3) AS a, 'TAG(3)' AS b;""".stripMargin)
    assert(r.getString(0) == "v3" && r.getString(1) == "TAG(3)")
  }

  test("a failing statement inside a declared handler body dispatches OUTWARD") {
    // SQL/PSM: the firing handler is not active during its own body — the
    // body's failure must reach the OUTER handler, not re-enter the inner
    // one (which would recurse to StackOverflowError)
    val r = run1(
      """DECLARE a INT := 0;
        |DECLARE oh INT := 0;
        |DECLARE CONTINUE HANDLER FOR SQLEXCEPTION SET oh = oh + 1;
        |BEGIN
        |  DECLARE CONTINUE HANDLER FOR SQLEXCEPTION
        |  BEGIN
        |    SET a = a + 1;
        |    SELECT * FROM g_no_such_table_inner;
        |    SET a = a + 100;
        |  END;
        |  SELECT * FROM g_no_such_table_outer;
        |  SET a = a + 10;
        |END;
        |SELECT a AS a, oh AS oh;""".stripMargin)
    assert(r.getInt(1) == 1, "outer handler caught the body's failure exactly once")
    assert(r.getInt(0) == 111,
      "inner fired once (1), outer CONTINUE resumed the body (100), " +
      "inner CONTINUE resumed the block (10)")
  }

  test("RESIGNAL inside a DECLARE handler body re-raises to the outer handler only") {
    val r = run1(
      """DECLARE flow STRING := '';
        |DECLARE CONTINUE HANDLER FOR SQLEXCEPTION SET flow = flow || 'O';
        |BEGIN
        |  DECLARE CONTINUE HANDLER FOR SQLEXCEPTION
        |  BEGIN
        |    SET flow = flow || 'I';
        |    RESIGNAL;
        |  END;
        |  SELECT * FROM g_no_such_table_rs;
        |  SET flow = flow || 'C';
        |END;
        |SELECT flow AS flow;""".stripMargin)
    assert(r.getString(0) == "IOC",
      "inner handler ran, RESIGNAL went outward (not back to itself), " +
      "both CONTINUEs resumed")
  }

  test("doubled quotes stay in-string: a function name after '' is not expanded") {
    val r = run1(
      """CREATE FUNCTION add1(x INT) RETURNS INT AS BEGIN RETURN x + 1; END;
        |SELECT 'it''s add1(1) here' AS s, add1(2) AS y;""".stripMargin)
    assert(r.getString(0) == "it's add1(1) here",
      "the literal must survive verbatim — '' must not flip the in-string state")
    assert(r.getInt(1) == 3, "the call outside the literal still expands")
    // and as a function ARGUMENT: the doubled quote must not derail the
    // balanced-paren arg scanner either
    val r2 = run1(
      """CREATE FUNCTION wrap(s STRING) RETURNS STRING AS
        |BEGIN RETURN concat('[', s, ']'); END;
        |SELECT wrap('a''b)c') AS w;""".stripMargin)
    assert(r2.getString(0) == "[a'b)c]",
      "a ')' hidden behind a doubled quote must not close the call")
  }

  // ---------------------------------------------------------------- COPY TO

  private def copyRoot(tag: String): String = {
    val d = s"${Engine.scratchRoot}/hplsql-copy-spec/$tag"
    val p = new org.apache.hadoop.fs.Path(d)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    d
  }

  private def lines(dir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    spark.read.text(dir).collect().map(_.getString(0)).toSeq
  }

  test("COPY (select) TO writes delimiter-joined values; NULL cells render empty") {
    val root = copyRoot("plain")
    run1(
      s"""COPY (SELECT 1 AS a, CAST(NULL AS STRING) AS b, 'x|y' AS c) TO '$root/f' DELIMITER '|';
         |SELECT 1 AS ok;""".stripMargin)
    assert(lines(s"$root/f") == Seq("1||x|y"),
      "null renders empty, values joined by the delimiter (no quoting — Copy.java:241)")
  }

  test("COPY default delimiter is TAB; table form copies every column") {
    val root = copyRoot("table")
    run1(
      s"""COPY region TO '$root/t';
         |SELECT 1 AS ok;""".stripMargin)
    val got = lines(s"$root/t")
    assert(got.size == spark.sql("SELECT count(*) FROM region").head().getLong(0))
    assert(got.forall(_.count(_ == '\t') == spark.table("region").columns.length - 1))
  }

  test("COPY SQLINSERT emits INSERT lines with ''-doubled quotes and NULL for nulls") {
    val root = copyRoot("ins")
    run1(
      s"""COPY (SELECT 2 AS a, 'it''s' AS b, CAST(NULL AS INT) AS c)
         |  TO '$root/i' SQLINSERT tgt;
         |SELECT 1 AS ok;""".stripMargin)
    assert(lines(s"$root/i") == Seq("INSERT INTO tgt VALUES ('2','it''s',NULL);"),
      "every value quoted via Utils.quoteString semantics; nulls as bare NULL")
  }

  test("COPY target and delimiter may be variables/expressions") {
    val root = copyRoot("expr")
    run1(
      s"""DECLARE d STRING := ';';
         |DECLARE base STRING := '$root';
         |COPY (SELECT 7 AS a, 8 AS b) TO base || '/e' DELIMITER d;
         |SELECT 1 AS ok;""".stripMargin)
    assert(lines(s"$root/e") == Seq("7;8"))
  }

  test("COPY bare-path target may contain option-keyword segments (/at/, /delimiter/)") {
    val root = copyRoot("barepath")
    run1(
      s"""COPY (SELECT 3 AS a) TO $root/at/delimiter/f;
         |SELECT 1 AS ok;""".stripMargin)
    assert(lines(s"$root/at/delimiter/f") == Seq("3"),
      "glued path segments must not parse as COPY options")
  }

  test("COPY with a typo'd variable in a target EXPRESSION errors instead of writing to a literal dir") {
    val e = intercept[Exception](run1(
      """DECLARE base STRING := '/tmp/x';
        |COPY (SELECT 1 AS a) TO bse || '/e';
        |SELECT 1 AS ok;""".stripMargin))
    assert(!new java.io.File("bse || '/e'").exists())
  }

  test("COPY FROM FTP and COPY ... AT <conn> are rejected with clear errors") {
    val e1 = intercept[IllegalArgumentException](run1(
      "COPY FROM FTP ftp.example.com USER 'u' PWD 'p';\nSELECT 1 AS ok;"))
    assert(e1.getMessage.contains("descoped"))
    val e2 = intercept[IllegalArgumentException](run1(
      "COPY (SELECT 1 AS a) TO '/tmp/y' AT conn1;\nSELECT 1 AS ok;"))
    assert(e2.getMessage.contains("descoped"))
  }

  test("COPY FROM LOCAL: single-file exact-target vs multi-file naming, " +
      "IGNORE downgrades an exists-collision, subdir relative paths kept") {
    val base = new java.io.File(s"${Engine.scratchRoot}/hplsqlspec/cfl")
    org.apache.commons.io.FileUtils.deleteQuietly(base)
    val srcDir = new java.io.File(base, "src"); srcDir.mkdirs()
    val sub = new java.io.File(srcDir, "sub"); sub.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(srcDir, "a.txt").toPath, "A")
    java.nio.file.Files.writeString(new java.io.File(sub, "b.txt").toPath, "B")
    // single source FILE → the target path IS the destination file
    run1(s"COPY FROM LOCAL $base/src/a.txt TO $base/one.txt;\nSELECT 1 AS ok;")
    assert(java.nio.file.Files.readString(
      new java.io.File(base, "one.txt").toPath) == "A")
    // directory walk → multi naming: top file at target/name, subdir file
    // at target/sub/name (createLocalFileList relative-path chain)
    run1(s"COPY FROM LOCAL $base/src TO $base/land;\nSELECT 1 AS ok;")
    assert(java.nio.file.Files.readString(
      new java.io.File(base, "land/a.txt").toPath) == "A")
    assert(java.nio.file.Files.readString(
      new java.io.File(base, "land/sub/b.txt").toPath) == "B")
    // a duplicate copy fails without OVERWRITE, is swallowed with IGNORE
    intercept[Exception](run1(
      s"COPY FROM LOCAL $base/src TO $base/land;\nSELECT 1 AS ok;"))
    run1(s"COPY FROM LOCAL $base/src TO $base/land IGNORE;\nSELECT 1 AS ok;")
    assert(java.nio.file.Files.readString(
      new java.io.File(base, "land/a.txt").toPath) == "A")
  }
}
