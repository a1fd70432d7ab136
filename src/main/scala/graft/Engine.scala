package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session bootstrap + table registry for the engine.
  *
  * Hive's query lifecycle (reference: `ql/src/java/org/apache/hadoop/hive/ql/Driver.java:1081`
  * run → compile → execute) collapses into Catalyst here: `Engine.sql` delegates
  * to Spark SQL after registering the warehouse tables as temp views, and
  * `HiveFunctionPack` fills the function-surface gaps
  * (reference: `ql/src/java/org/apache/hadoop/hive/ql/exec/FunctionRegistry.java:183-492`).
  *
  * Scale notes (100 TB design):
  *  - all reads are Parquet with full Catalyst pushdown (filters + pruning);
  *  - AQE on: runtime coalescing, skew-join splitting, join-strategy re-plan;
  *  - broadcast threshold left to Spark, but dimension tables are explicitly
  *    broadcast in the query pack where the star schema guarantees small size.
  */
object Engine {

  val TableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Root of every scratch and managed dir the engine, its queries and its
    * tools write: `target` under the working directory, so two checkouts
    * never share one. */
  val scratchRoot: String = s"${sys.props("user.dir")}/target"

  /** Build a local session configured the way the driver expects.
    * [[graft.plans.GraftExtensions]] injects the PointLookup optimizer rule
    * and the matchpath planner strategy; the experimental-methods fallback
    * covers the getOrCreate-returns-existing-session case. */
  def session(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new plans.GraftExtensions)
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Hive 2.1 evaluation semantics, not ANSI: x/0 and malformed casts
      // yield NULL (`GenericUDFOPDivide`, `UDFToInteger` — both return null
      // rather than raise), numeric overflow wraps. Spark 4 defaults ANSI
      // on; the reference's qtest corpus assumes the legacy behavior.
      .config("spark.sql.ansi.enabled", "false")
      // Hive renders/parses datetimes through SimpleDateFormat
      // (`UDFDateFormat`, `GenericUDFFromUnixTime`); Spark's CORRECTED
      // policy switches to java.time patterns where 'u', 'YYYY', 'F' etc.
      // mean different things. LEGACY restores SimpleDateFormat semantics
      // (FunctionPack3Spec pins a divergent pattern).
      .config("spark.sql.legacy.timeParserPolicy", "LEGACY")
      // Session-wide policy (not a hidden per-call mutation): TIMESTAMP(NANOS)
      // parquet columns (the events table) read as raw long nanos; queries
      // convert explicitly with timestamp_micros(ns DIV 1000).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Timestamps WRITE as INT64 micros, not the legacy INT96 default:
      // same values on read (Spark and DuckDB read both), 4 fewer bytes
      // per value, and — the reason this matters here — parquet records
      // min/max statistics for INT64 where INT96 gets none, so footer-
      // derived file skipping ([[operators.DataSkipping]]) covers
      // timestamp columns (optimization guide §6: verify stats
      // effectiveness; INT96 silently disables them).
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // managed tables (q165 TRUNCATE/DROP PARTITION — external tables
      // reject TRUNCATE) need a deterministic warehouse rooted at this
      // checkout — not an absolute literal that a second checkout or
      // concurrent session would collide on
      .config("spark.sql.warehouse.dir", s"$scratchRoot/warehouse")
      // v2 output commit: task commit renames files straight into the
      // destination instead of v1's two-stage per-file rename cascade at
      // job commit (guide §6 — commit cost is pure driver-side wall on a
      // many-small-writes lifecycle; the index/txn stores publish through
      // their own tmp+atomic-rename discipline on top, so v1's
      // job-level atomicity buys nothing here). Scale-independent: v2 is
      // the standard recommendation wherever rename is cheap or the
      // store is object-like.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // getOrCreate may return a pre-existing session built WITHOUT
    // GraftExtensions (withExtensions only applies to fresh sessions) — fall
    // back to experimental registration then. planner.strategies sees both
    // extension-injected and experimental strategies, so the guard also
    // prevents double registration on a fresh session (which would run every
    // injected rule twice per optimizer pass).
    if (!spark.sessionState.planner.strategies.contains(plans.GraftStrategies)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ plans.GraftStrategies
      spark.experimental.extraOptimizations = spark.experimental.extraOptimizations :+
        plans.PointLookupRule :+ plans.StatsOnlyAnsweringRule :+
        plans.RelyConstraintRule
    }
    spark
  }

  /** Read one warehouse table from an sf directory.
    *
    * `events.parquet` has carried its `ts` in two encodings across testdata
    * generations, so normalize by the READ schema, not by assumption:
    * TIMESTAMP(NANOS) arrives as long nanos (nanosAsLong) and truncates to
    * microseconds with integer division (ns since epoch exceeds 2^53, so
    * float division would lose precision — DuckDB's ns→us conversion
    * truncates the same way); TIMESTAMP without UTC adjustment arrives as
    * TIMESTAMP_NTZ and casts to the session-UTC timestamp, the same wall
    * clock DuckDB reads. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val p = s"$dir/$name.parquet"
    val df = spark.read.schema(operators.MetaCache.schema(spark, p)).parquet(p)
    if (name == "events") df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    } else df
  }

  /** SQL expression converting the RAW int64 `ts` a schema-pinned reader
    * (the streaming source, which cannot consult session confs at analysis
    * time) gets out of events.parquet into epoch MICROseconds — `ts DIV
    * 1000` when the file carries TIMESTAMP(NANOS) (long under nanosAsLong),
    * `ts` verbatim when it carries a microsecond timestamp (read raw by the
    * pinned long schema). One footer probe, no data read. */
  def eventsTsMicrosExpr(spark: SparkSession, dir: String): String = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    operators.MetaCache.schema(spark, s"$dir/events.parquet")("ts")
      .dataType match {
      case org.apache.spark.sql.types.LongType => "ts DIV 1000"
      case _ => "ts"
    }
  }

  /** Register every warehouse table as a temp view (idempotent) and install
    * the Hive-gap function pack. Returns the session for chaining.
    *
    * Cached per (session, dir): a bench/verify run invokes this before every
    * query, and re-deriving 10 view definitions (parquet footer reads) per
    * query is pure fixed overhead. No query replaces a base-table view with
    * different content (q119 re-registers `orders` with the identical
    * definition), so a hit is always safe. */
  private val RegisteredKey = "graft.registered.dir"
  def registerAll(spark: SparkSession, dir: String): SparkSession = {
    if (!spark.conf.getOption(RegisteredKey).contains(dir)) {
      TableNames.foreach { n =>
        table(spark, dir, n).createOrReplaceTempView(n)
      }
      functions.HiveFunctionPack.register(spark)
      spark.conf.set(RegisteredKey, dir)
    }
    spark
  }

  /** SQL entry point — Hive Driver.run analog. INSERT/UPDATE/DELETE/MERGE
    * against a table registered with [[operators.TxnSql.register]] routes
    * to the transaction log (the metastore's transactional-table flag
    * deciding the ACID path, re-expressed); the statement returns the
    * table's post-DML snapshot. Everything else goes to Spark's parser
    * after [[operators.TxnSql.rewriteReads]] swaps registered txn-table
    * references (including `VERSION AS OF` time travel) for snapshot
    * views — a statement naming no txn table passes through verbatim. */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    registerAll(spark, dir)
    if (security.SqlStdAuth.handles(query)) {
      return if (security.SqlStdAuth.returnsRows(query))
        security.SqlStdAuth.query(spark, query)
      else {
        security.SqlStdAuth.exec(query)
        spark.sql("SELECT 'OK' AS result")
      }
    }
    authorize(spark, query)
    if (operators.TxnSql.handles(query)) {
      if (operators.TxnSql.returnsRows(query)) operators.TxnSql.query(spark, query)
      else {
        operators.TxnSql.exec(spark, query)
        operators.TxnSql.table(spark, operators.TxnSql.targetOf(query).get)
      }
    } else if (operators.TxnSql.handlesDdl(query)) {
      operators.TxnSql.execDdl(spark, query)
    } else if (sources.KvSql.handlesDdl(query) || sources.KvSql.handles(query)) {
      sources.KvSql.exec(spark, query)
    } else if (operators.TableConstraints.handlesDdl(query)) {
      operators.TableConstraints.execDdl(spark, query)
    } else if (operators.MatView.handles(query)) {
      operators.MatView.exec(spark, query)
    } else if (operators.IndexZooSql.handles(query)) {
      // vector / fulltext index DDL + TOPK probes — persisted-registry
      // routing, so CREATE in one session serves probes from any later one
      operators.IndexZooSql.sql(spark, query)
    } else {
      val df = spark.sql(operators.TxnSql.rewriteReads(spark, query))
      // transparent materialized-view rewrite: answered from a FRESH MV's
      // state when the aggregate derives from one, otherwise untouched
      operators.MatView.tryRewrite(spark, df).getOrElse(df)
    }
  }

  /** Statement→required-privilege mapping per the reference's
    * `Operation2Privilege.java:304` (QUERY op): inputs need SELECT, INSERT
    * outputs INSERT, INSERT OVERWRITE outputs INSERT+DELETE, DELETE needs
    * DELETE, UPDATE needs UPDATE, TRUNCATE needs DELETE (`:272`), MERGE —
    * one statement that may do all three — needs INSERT+UPDATE+DELETE.
    * Input relations come from the parsed (unresolved) plan; statements in
    * an extension grammar Spark cannot parse check only their regex-extracted
    * target — their sources are temp-view reads the same SELECT check
    * already governs when issued through this front end. No-op unless
    * [[security.SqlStdAuth.enable]] ran. */
  private def authorize(spark: SparkSession, query: String): Unit = {
    if (!security.SqlStdAuth.isEnabled) return
    val s = query.trim
    val up = s.toUpperCase
    def inputs: Seq[String] = scala.util.Try {
      spark.sessionState.sqlParser.parsePlan(s).collect {
        case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
          r.multipartIdentifier.last.toLowerCase
      }
    }.getOrElse(Nil).distinct
    val Target = "(?is)^(?:INSERT\\s+(?:INTO|OVERWRITE)\\s+(?:TABLE\\s+)?|UPDATE\\s+|DELETE\\s+FROM\\s+|MERGE\\s+INTO\\s+|TRUNCATE\\s+(?:TABLE\\s+)?)([A-Za-z_][A-Za-z0-9_]*).*".r
    val target = s match { case Target(t) => Some(t.toLowerCase); case _ => None }
    val needs: Seq[(String, String)] =
      if (up.startsWith("INSERT OVERWRITE"))
        target.toSeq.flatMap(t => Seq("INSERT" -> t, "DELETE" -> t)) ++
          inputs.filterNot(target.contains).map("SELECT" -> _)
      else if (up.startsWith("INSERT"))
        target.toSeq.map("INSERT" -> _) ++
          inputs.filterNot(target.contains).map("SELECT" -> _)
      else if (up.startsWith("UPDATE")) target.toSeq.map("UPDATE" -> _)
      else if (up.startsWith("DELETE")) target.toSeq.map("DELETE" -> _)
      else if (up.startsWith("TRUNCATE")) target.toSeq.map("DELETE" -> _)
      else if (up.startsWith("MERGE"))
        target.toSeq.flatMap(t => Seq("INSERT" -> t, "UPDATE" -> t, "DELETE" -> t)) ++
          inputs.filterNot(target.contains).map("SELECT" -> _)
      else inputs.map("SELECT" -> _)
    security.SqlStdAuth.require("QUERY", needs)
  }
}
