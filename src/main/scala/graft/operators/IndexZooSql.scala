package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ONE TEXTUAL DDL SURFACE OVER THE INDEX ZOO (VERDICT r15 task 5): the
  * vector and full-text index families all have programmatic
  * build/probe lifecycles (q345–q381); this routes them from SQL text the
  * way [[TxnSql.execIndexDdl]] routes `CREATE INDEX … AS
  * 'COMPACT'|'BLOOM'|'BITMAP'` onto the skipping/bloom/bitmap sidecars
  * (the reference's index-handler DDL,
  * `ql/.../index/HiveIndexHandler.java:60`, generalized to the engine's
  * retrieval indexes — the reference itself has no vector surface).
  *
  * {{{
  *   CREATE VECTOR INDEX <i> ON <t> (<col>) AS 'GRAPH'|'BINARY'|'IVF_PQ'
  *     [OPTIONS (k=v, ...)]            -- m/m1/buckets, stride/ncent, path
  *   CREATE FULLTEXT INDEX <i> ON <t> (<col>) AS 'BM25'|'POSITIONAL'
  *     [OPTIONS (buckets=64, path=...)]
  *   DROP VECTOR INDEX <i> / DROP FULLTEXT INDEX <i>
  *   SHOW VECTOR INDEXES              -- both families, one frame
  *   VECTOR TOPK ON <t> (<col>) QUERIES <qview> LIMIT <k> [OPTIONS (...)]
  *   FULLTEXT TOPK ON <t> (<col>) QUERIES ((1,'spark join'), ...) LIMIT <k>
  *   PHRASE TOPK ON <t> (<col>) PHRASES ((1,'spark join'), ...) LIMIT <k>
  *   HYBRID TOPK ON <t> (<textCol>) VECTORS <t2> (<embCol>)
  *     QUERIES ((1,'spark join',7), ...) LIMIT <k>   -- BM25+vector RRF+MMR
  * }}}
  *
  * The PROBE statements address the TABLE, not the index — exactly how
  * the reference's queries stay unchanged while `CompactIndexHandler`
  * decides whether an index accelerates them: when a registered index
  * covers (table, column) the probe routes to its persisted form
  * ([[GraphAnn.probeIndex]], [[BinaryAnn.probeIndex]],
  * [[IvfPq.probeIndex]], [[Retrieval.bm25TopKIndexed]],
  * [[Retrieval.phraseTopKIndexed]]); after DROP the SAME statement
  * degrades to the full-scan path ([[AnnSearch.bruteTopK]] /
  * [[Retrieval.bm25TopK]] / [[Retrieval.phraseTopK]]) — degraded means
  * slower, never wrong, the [[TxnMergeOnRead.dropSidecars]] posture.
  * 'SQ8' is deliberately absent: it is a codec whose engine form
  * re-encodes per probe (q360, [[ScalarQuantizer.sqTopK]]) — declaring it
  * an at-rest index here would misrepresent what is persisted.
  *
  * THE REGISTRY IS PERSISTED (VERDICT r16 task 4 — the metastore analog
  * made literal): every CREATE writes a `_registry/<name>` k=v file
  * under [[managedRoot]] (the [[IndexStore]] manifest's codec and
  * commit: temp write + no-overwrite rename), every statement resolves
  * against the directory listing, and DROP retires the file with the
  * index — so an index
  * created in one session probes from a fresh one with no re-CREATE, and
  * the old JVM-global in-memory map (two sessions silently sharing
  * definitions that then died with the process) is gone. Each entry also
  * records a FINGERPRINT of the base table's input files at CREATE time;
  * a probe whose table resolves to DIFFERENT files fails loudly instead
  * of routing to a stale index (re-pointing a temp view at new data was
  * previously silent). A probe whose table does not resolve at all is
  * legitimate — every persisted index is self-contained — and skips the
  * check. Single-writer DDL contract, as [[TxnSql]]. Statements this
  * object does not handle fall through to `spark.sql` in [[sql]];
  * [[graft.Engine.sql]] dispatches index statements here transparently.
  */
object IndexZooSql {

  private case class Entry(name: String, family: String, kind: String,
    table: String, col: String, path: String, fingerprint: String)

  /** Managed root for indexes whose CREATE carries no `path` option; the
    * persisted registry lives at `$managedRoot/_registry`. */
  @volatile var managedRoot: String = s"${graft.Engine.scratchRoot}/ddl/indexzoo"

  private def registryDir = s"$managedRoot/_registry"

  private def hfs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Fingerprint of the table's current input files (sorted md5) — "-"
    * when the relation exposes none (an in-memory view): content checks
    * are then impossible and skipped. Parquet part files are
    * uniquely named per write, so re-pointed views and regenerated data
    * both miss. */
  private def tableFingerprint(spark: SparkSession, table: String): String = {
    val files = spark.table(table).inputFiles
    if (files.isEmpty) "-"
    else java.security.MessageDigest.getInstance("MD5")
      .digest(files.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  private def writeEntry(spark: SparkSession, e: Entry): Unit =
    require(Stores.commitOnce(hfs(spark, registryDir),
      new org.apache.hadoop.fs.Path(s"$registryDir/${e.name}"),
      IndexStore.encode(Seq("name" -> e.name, "family" -> e.family,
        "kind" -> e.kind, "table" -> e.table, "col" -> e.col,
        "path" -> e.path, "fingerprint" -> e.fingerprint))),
      s"index ${e.name} already exists")

  private def readEntry(spark: SparkSession,
      p: org.apache.hadoop.fs.Path): Entry = {
    val kv = IndexStore.readKv(hfs(spark, registryDir), p)
    Entry(kv("name"), kv("family"), kv("kind"), kv("table"), kv("col"),
      kv("path"), kv.getOrElse("fingerprint", "-"))
  }

  private def entries(spark: SparkSession): Seq[Entry] = {
    val f = hfs(spark, registryDir)
    val d = new org.apache.hadoop.fs.Path(registryDir)
    if (!f.exists(d)) Nil
    else f.listStatus(d).toSeq.filter(s => !s.getPath.getName.startsWith("."))
      .map(s => readEntry(spark, s.getPath))
  }

  def handles(sqlText: String): Boolean = {
    val up = sqlText.trim.toUpperCase
    Seq("CREATE VECTOR INDEX", "CREATE FULLTEXT INDEX",
      "DROP VECTOR INDEX", "DROP FULLTEXT INDEX", "SHOW VECTOR INDEXES",
      "ALTER VECTOR INDEX", "ALTER FULLTEXT INDEX",
      "VECTOR TOPK", "FULLTEXT TOPK", "PHRASE TOPK", "HYBRID TOPK")
      .exists(up.startsWith)
  }

  /** Execute one statement; non-index statements delegate to spark.sql. */
  def sql(spark: SparkSession, sqlText: String): DataFrame = {
    val s = sqlText.trim.stripSuffix(";").trim
    val up = s.toUpperCase
    if (!handles(s)) spark.sql(s)
    else if (up.startsWith("CREATE")) execCreate(spark, s)
    else if (up.startsWith("ALTER")) execAlter(spark, s)
    else if (up.startsWith("DROP")) execDrop(spark, s)
    else if (up.startsWith("SHOW")) show(spark)
    else if (up.startsWith("VECTOR TOPK")) execVectorTopK(spark, s)
    else if (up.startsWith("FULLTEXT TOPK")) execFulltextTopK(spark, s)
    else if (up.startsWith("HYBRID TOPK")) execHybridTopK(spark, s)
    else execPhraseTopK(spark, s)
  }

  private def fail(s: String, why: String): Nothing =
    throw new IllegalArgumentException(s"$why: $s")

  private def parseOpts(tail: String, s: String): Map[String, String] =
    "(?is)OPTIONS\\s*\\(([^)]*)\\)".r.findFirstMatchIn(tail) match {
      case None => Map.empty
      case Some(m) => m.group(1).split(",").iterator.map(_.trim)
        .filter(_.nonEmpty).map { kv =>
          val parts = kv.split("=", 2)
          require(parts.length == 2, s"OPTIONS must be k=v pairs: $s")
          parts(0).trim.toLowerCase ->
            parts(1).trim.stripPrefix("'").stripSuffix("'")
        }.toMap
    }

  private def intOpt(o: Map[String, String], k: String, dflt: Int): Int =
    o.get(k).map(_.toInt).getOrElse(dflt)

  private def show(spark: SparkSession): DataFrame = {
    import spark.implicits._
    entries(spark)
      .map(e => (e.name, e.family, e.kind, e.table, e.col, e.path))
      .sortBy(_._1)
      .toDF("idx_name", "family", "idx_kind", "tbl_name", "col_name", "path")
  }

  /** The registered index covering (table, col) among `kinds`, if any —
    * resolved from the persisted registry, so yesterday's CREATE routes
    * today's probe. VECTOR probes accept any vector kind (so CREATE
    * enforces one vector index per column — probe routing stays
    * deterministic); the two FULLTEXT kinds serve DIFFERENT probe
    * statements (BM25 scoring vs positional phrases) and may coexist on
    * one column. A resolved entry whose base table is live under a
    * DIFFERENT file set than at CREATE fails loudly (stale-index guard);
    * an unresolvable table skips the check — the probe serves entirely
    * from the index. */
  private def covering(spark: SparkSession, family: String, table: String,
      col: String, kinds: Set[String]): Option[Entry] = {
    val hit = entries(spark).find(e => e.family == family && kinds(e.kind) &&
      e.table == table.toLowerCase && e.col == col.toLowerCase)
    hit.foreach { e =>
      if (e.fingerprint != "-" && spark.catalog.tableExists(e.table)) {
        val now = tableFingerprint(spark, e.table)
        require(now == "-" || now == e.fingerprint,
          s"index ${e.name} was built over different data than $table now " +
            "reads (input-file fingerprint mismatch) — DROP and re-CREATE " +
            "the index, or restore the original table")
      }
    }
    hit
  }

  private def execCreate(spark: SparkSession, s: String): DataFrame = {
    val m = ("(?is)^CREATE\\s+(VECTOR|FULLTEXT)\\s+INDEX\\s+" +
      "([A-Za-z_][A-Za-z0-9_]*)\\s+ON\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s*" +
      "\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*\\)\\s+AS\\s+'([A-Za-z0-9_]+)'(.*)$").r
      .findFirstMatchIn(s).getOrElse(fail(s,
        "CREATE VECTOR|FULLTEXT INDEX <i> ON <t> (<col>) AS '<kind>' " +
          "[OPTIONS (...)] expected"))
    val family = m.group(1).toUpperCase
    val name = m.group(2).toLowerCase
    val (table, cname) = (m.group(3), m.group(4))
    val kind = m.group(5).toUpperCase
    val opts = parseOpts(m.group(6), s)
    val validKinds =
      if (family == "VECTOR") Set("GRAPH", "BINARY", "IVF_PQ")
      else Set("BM25", "POSITIONAL")
    require(validKinds(kind),
      s"$family index kind must be one of ${validKinds.mkString("|")} " +
        s"(got '$kind'; SQ8 is a per-probe codec — see q360): $s")
    require(!entries(spark).exists(_.name == name),
      s"index $name already exists")
    val clashKinds = if (family == "VECTOR") validKinds else Set(kind)
    entries(spark).find(e => e.family == family && clashKinds(e.kind) &&
        e.table == table.toLowerCase && e.col == cname.toLowerCase)
      .foreach(e => fail(s,
        s"index ${e.name} (${e.kind}) already covers $table($cname)"))
    val df = spark.table(table)
    require(df.columns.map(_.toLowerCase).contains(cname.toLowerCase),
      s"column $cname does not exist on $table")
    // the build commits a new manifest at `path`, replacing (and then
    // deleting) whatever index was there
    val path = opts.getOrElse("path", s"$managedRoot/$name")
    family match {
      case "VECTOR" =>
        val vdf = df.select(col("id"), df(cname).as("embedding"))
        kind match {
          case "GRAPH" => GraphAnn.writeIndex(vdf, path,
            m = intOpt(opts, "m", 8), m1 = intOpt(opts, "m1", 4),
            nBuckets = intOpt(opts, "buckets", 16),
            maxLayers = intOpt(opts, "maxlayers", 19))
          case "BINARY" => BinaryAnn.buildIndex(vdf, path)
          case "IVF_PQ" => IvfPq.buildIndex(vdf, path,
            centroidStride = intOpt(opts, "stride", 40),
            m = intOpt(opts, "m", 16),
            ncent = intOpt(opts, "ncent", 16),
            pqStride = intOpt(opts, "pqstride", 7))
        }
      case "FULLTEXT" =>
        val tdf = df.select(df("doc_id"), df(cname).as("text"))
        kind match {
          case "BM25" => Retrieval.bm25WriteIndex(tdf, path,
            nBuckets = intOpt(opts, "buckets", 64))
          case "POSITIONAL" => Retrieval.phraseWriteIndex(tdf, path,
            nBuckets = intOpt(opts, "buckets", 64))
        }
    }
    writeEntry(spark, Entry(name, family, kind, table.toLowerCase,
      cname.toLowerCase, path, tableFingerprint(spark, table)))
    show(spark)
  }

  /** Index-maintenance DML as text — the lifecycle the programmatic CRUD
    * family already has (q354/q371/q380/q389), behind one statement each:
    *
    *   ALTER VECTOR   INDEX i ADD FROM <view> [OPTIONS (...)]  — addBatch
    *   ALTER VECTOR   INDEX i REMOVE FROM <view>               — tombstones
    *   ALTER VECTOR   INDEX i COMPACT                          — fold
    *   ALTER FULLTEXT INDEX i ADD FROM <view>                  — bm25/pos
    *   ALTER FULLTEXT INDEX i COMPACT
    *
    * ADD reads (id, <indexed col>) / (doc_id, <indexed col>) from the
    * view; REMOVE reads its `id` column. REMOVE is VECTOR-only: the
    * fulltext postings are per-document and write-once per batch — a
    * fulltext corpus shrink is a DROP + re-CREATE (or upstream delete
    * before ingest), and saying so loudly beats silently wrong scores.
    * ALTER deliberately does NOT touch the CREATE-time base-table
    * fingerprint: maintenance grows the index AWAY from the base snapshot
    * by design (the CDC posture — the index tracks a log, q389), while
    * the fingerprint keeps guarding against the base VIEW being re-pointed
    * at different data. */
  private def execAlter(spark: SparkSession, s: String): DataFrame = {
    val m = ("(?is)^ALTER\\s+(VECTOR|FULLTEXT)\\s+INDEX\\s+" +
      "([A-Za-z_][A-Za-z0-9_]*)\\s+" +
      "(ADD\\s+FROM\\s+([A-Za-z_][A-Za-z0-9_.]*)|" +
      "REMOVE\\s+FROM\\s+([A-Za-z_][A-Za-z0-9_.]*)|COMPACT)\\s*(.*)$").r
      .findFirstMatchIn(s).getOrElse(fail(s,
        "ALTER VECTOR|FULLTEXT INDEX <i> ADD FROM <v> | REMOVE FROM <v> " +
          "| COMPACT [OPTIONS (...)] expected"))
    val family = m.group(1).toUpperCase
    val name = m.group(2).toLowerCase
    val action = m.group(3).trim.split("\\s+")(0).toUpperCase
    val view = Option(m.group(4)).orElse(Option(m.group(5)))
    val opts = parseOpts(m.group(6), s)
    val e = entries(spark).find(_.name == name).getOrElse(
      fail(s, s"no ${family.toLowerCase} index $name"))
    require(e.family == family, s"index $name is a ${e.family} index")
    action match {
      case "ADD" =>
        val df = spark.table(view.get)
        if (family == "VECTOR") {
          val vdf = df.select(col("id"), df(e.col).as("embedding"))
          e.kind match {
            case "GRAPH" => GraphAnn.addBatch(e.path, vdf,
              ef1 = intOpt(opts, "ef1", 8), hops1 = intOpt(opts, "hops1", 2),
              ef = intOpt(opts, "ef", 16), hops = intOpt(opts, "hops", 2))
            case "BINARY" => BinaryAnn.addBatch(vdf, e.path)
            case "IVF_PQ" => IvfPq.addBatch(vdf, e.path)
          }
        } else {
          val tdf = df.select(df("doc_id"), df(e.col).as("text"))
          e.kind match {
            case "BM25" => Retrieval.bm25AddBatch(tdf, e.path)
            case "POSITIONAL" => Retrieval.phraseAddBatch(tdf, e.path)
          }
        }
      case "REMOVE" =>
        require(family == "VECTOR",
          "REMOVE FROM supports VECTOR indexes only — fulltext postings " +
            "are per-document write-once; DROP and re-CREATE instead: " + s)
        val ids = spark.table(view.get).select(col("id"))
        e.kind match {
          case "GRAPH" => GraphAnn.removeBatch(e.path, ids)
          case "BINARY" => BinaryAnn.removeBatch(ids, e.path)
          case "IVF_PQ" => IvfPq.removeIds(ids, e.path)
        }
      case "COMPACT" =>
        e.kind match {
          case "GRAPH" => GraphAnn.compactIndex(spark, e.path)
          case "BINARY" => BinaryAnn.compactIndex(spark, e.path)
          case "IVF_PQ" => IvfPq.compactIndex(spark, e.path)
          case "BM25" => Retrieval.bm25CompactIndex(spark, e.path)
          case "POSITIONAL" => Retrieval.phraseCompactIndex(spark, e.path)
        }
    }
    show(spark)
  }

  private def execDrop(spark: SparkSession, s: String): DataFrame = {
    val m = ("(?is)^DROP\\s+(VECTOR|FULLTEXT)\\s+INDEX\\s+" +
      "([A-Za-z_][A-Za-z0-9_]*)\\s*$").r.findFirstMatchIn(s)
      .getOrElse(fail(s, "DROP VECTOR|FULLTEXT INDEX <i> expected"))
    val name = m.group(2).toLowerCase
    val e = entries(spark).find(_.name == name).getOrElse(
      fail(s, s"no ${m.group(1).toLowerCase} index $name"))
    require(e.family == m.group(1).toUpperCase,
      s"index $name is a ${e.family} index")
    hfs(spark, registryDir)
      .delete(new org.apache.hadoop.fs.Path(s"$registryDir/$name"), false)
    IndexStore.drop(spark, e.path) // managed semantics, as TxnSql's DROP TABLE
    show(spark)
  }

  /** Parse `((1,'spark join'), (2,'dup'))` into (id, terms) pairs —
    * queries tokenize on single spaces, the [[Retrieval]] convention. */
  private def parseQueryLits(lit: String, s: String): Seq[(Int, Seq[String])] = {
    val pairs = "\\(\\s*(\\d+)\\s*,\\s*'([^']*)'\\s*\\)".r
      .findAllMatchIn(lit)
      .map(m => m.group(1).toInt -> m.group(2).split(" ").toSeq
        .filter(_.nonEmpty)).toSeq
    require(pairs.nonEmpty, s"no (id,'terms') pairs in: $s")
    pairs
  }

  private def execVectorTopK(spark: SparkSession, s: String): DataFrame = {
    val m = ("(?is)^VECTOR\\s+TOPK\\s+ON\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s*" +
      "\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*\\)\\s+QUERIES\\s+" +
      "([A-Za-z_][A-Za-z0-9_.]*)\\s+LIMIT\\s+(\\d+)(.*)$").r
      .findFirstMatchIn(s).getOrElse(fail(s,
        "VECTOR TOPK ON <t> (<col>) QUERIES <q> LIMIT <k> [OPTIONS (...)] " +
          "expected"))
    val (table, c, qname) = (m.group(1), m.group(2), m.group(3))
    val k = m.group(4).toInt
    val opts = parseOpts(m.group(5), s)
    val qdf = spark.table(qname)
      .select(col("id"), spark.table(qname)(c).as("embedding"))
    val out = covering(spark, "VECTOR", table, c,
        Set("GRAPH", "BINARY", "IVF_PQ")) match {
      case Some(e) => e.kind match {
        case "GRAPH" => GraphAnn.probeIndex(qdf, e.path, k,
          ef1 = intOpt(opts, "ef1", 8), hops1 = intOpt(opts, "hops1", 2),
          ef = intOpt(opts, "ef", 16), hops = intOpt(opts, "hops", 2))
        case "BINARY" => BinaryAnn.probeIndex(qdf, e.path, k,
          shortlist = intOpt(opts, "shortlist", math.max(k, 64)))
        case "IVF_PQ" =>
          // self-contained probe: the rescore reads the index's own
          // id-bucketed vector store — the base table need not be live
          IvfPq.probeIndex(qdf, IvfPq.openIndex(spark, e.path), k,
            nprobe = intOpt(opts, "nprobe", 4),
            shortlist = intOpt(opts, "shortlist", 64))
      }
      case None =>
        // DEGRADED: the exact full-scan path — slower, never wrong
        val corpus = spark.table(table).select(col("id"),
          spark.table(table)(c).as("embedding"))
        AnnSearch.bruteTopK(qdf, corpus, k)
    }
    out.select(col("qid"), col("cid"), col("rk").cast("bigint").as("rk"),
      col("cos"))
  }

  private def execFulltextTopK(spark: SparkSession, s: String): DataFrame = {
    val m = ("(?is)^FULLTEXT\\s+TOPK\\s+ON\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s*" +
      "\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*\\)\\s+QUERIES\\s*" +
      "\\((.*)\\)\\s+LIMIT\\s+(\\d+)\\s*$").r.findFirstMatchIn(s)
      .getOrElse(fail(s,
        "FULLTEXT TOPK ON <t> (<col>) QUERIES ((id,'terms'), ...) " +
          "LIMIT <k> expected"))
    val (table, c) = (m.group(1), m.group(2))
    val queries = parseQueryLits(m.group(3), s)
    val k = m.group(4).toInt
    covering(spark, "FULLTEXT", table, c, Set("BM25")) match {
      case Some(e) => Retrieval.bm25TopKIndexed(spark, e.path, queries, k)
      case None =>
        // DEGRADED: one-shot scoring over the raw table — identical rows
        // (the index changes where bytes are read, never a score)
        val docs = spark.table(table).select(col("doc_id"),
          spark.table(table)(c).as("text"))
        Retrieval.bm25TopK(docs, queries, k)
    }
  }

  private def execPhraseTopK(spark: SparkSession, s: String): DataFrame = {
    val m = ("(?is)^PHRASE\\s+TOPK\\s+ON\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s*" +
      "\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*\\)\\s+PHRASES\\s*" +
      "\\((.*)\\)\\s+LIMIT\\s+(\\d+)\\s*$").r.findFirstMatchIn(s)
      .getOrElse(fail(s,
        "PHRASE TOPK ON <t> (<col>) PHRASES ((id,'terms'), ...) " +
          "LIMIT <k> expected"))
    val (table, c) = (m.group(1), m.group(2))
    val phrases = parseQueryLits(m.group(3), s)
    val k = m.group(4).toInt
    covering(spark, "FULLTEXT", table, c, Set("POSITIONAL")) match {
      case Some(e) => Retrieval.phraseTopKIndexed(spark, e.path, phrases, k)
      case None =>
        val docs = spark.table(table).select(col("doc_id"),
          spark.table(table)(c).as("text"))
        Retrieval.phraseTopK(docs, phrases, k)
    }
  }

  /** HYBRID retrieval as ONE statement (the q384 RAG composition in pure
    * SQL): lexical BM25 top-`nlex` fused with dense cosine top-`ndense`
    * by reciprocal-rank fusion (top-`nfuse`), then MMR-diversified to the
    * LIMIT k picks. Two table refs because that IS the data model — a
    * document corpus and a vector corpus sharing ids:
    *
    *   HYBRID TOPK ON <tdocs> (<textCol>) VECTORS <temb> (<embCol>)
    *     QUERIES ((id,'terms',anchorVecId), ...) LIMIT <k>
    *     [OPTIONS (nlex=20, ndense=16, nfuse=16, lam=0.7, mu=0.3, ...)]
    *
    * Each stage routes to its covering persisted index when one exists
    * (BM25 bucket-pruned probe; GRAPH descent / BINARY Hamming / IVF_PQ
    * ADC for the dense list) and degrades to the exact one-shot path when
    * it does not — identical rows either way, the family contract. The
    * MMR rerank reads anchor/candidate vectors from `temb` (bounded
    * candidate set, [[Mmr.mmrRerank]]'s broadcast shape). */
  private def execHybridTopK(spark: SparkSession, s: String): DataFrame = {
    val m = ("(?is)^HYBRID\\s+TOPK\\s+ON\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s*" +
      "\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*\\)\\s+VECTORS\\s+" +
      "([A-Za-z_][A-Za-z0-9_.]*)\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*\\)" +
      "\\s+QUERIES\\s*\\((.*)\\)\\s+LIMIT\\s+(\\d+)(.*)$").r
      .findFirstMatchIn(s).getOrElse(fail(s,
        "HYBRID TOPK ON <t> (<textCol>) VECTORS <t2> (<embCol>) QUERIES " +
          "((id,'terms',anchorId), ...) LIMIT <k> [OPTIONS (...)] expected"))
    val (tDocs, tCol, tEmb, eCol) =
      (m.group(1), m.group(2), m.group(3), m.group(4))
    val k = m.group(6).toInt
    val opts = parseOpts(m.group(7), s)
    val trip = "\\(\\s*(\\d+)\\s*,\\s*'([^']*)'\\s*,\\s*(\\d+)\\s*\\)".r
      .findAllMatchIn(m.group(5))
      .map(g => (g.group(1).toInt,
        g.group(2).split(" ").toSeq.filter(_.nonEmpty),
        g.group(3).toLong)).toSeq
    require(trip.nonEmpty, s"no (id,'terms',anchorId) triples in: $s")
    val queries = trip.map { case (q, ts, _) => q -> ts }
    val anchors = trip.map { case (q, _, a) => q -> a }.toMap
    val nLex = intOpt(opts, "nlex", 20)
    val nDense = intOpt(opts, "ndense", 16)
    val nFuse = intOpt(opts, "nfuse", 16)
    val lam = opts.get("lam").map(_.toDouble).getOrElse(0.7)
    val mu = opts.get("mu").map(_.toDouble).getOrElse(0.3)

    val lex = (covering(spark, "FULLTEXT", tDocs, tCol, Set("BM25")) match {
      case Some(e) => Retrieval.bm25TopKIndexed(spark, e.path, queries, nLex)
      case None =>
        val docs = spark.table(tDocs).select(col("doc_id"),
          spark.table(tDocs)(tCol).as("text"))
        Retrieval.bm25TopK(docs, queries, nLex)
    }).select(col("query_id"), col("doc_id"), col("rk"))

    val emb = spark.table(tEmb).select(col("id"),
      spark.table(tEmb)(eCol).as("embedding"))
    val aDf = emb.filter(
      col("id").isin(anchors.values.toSeq.map(Long.box): _*))
    val denseRaw = covering(spark, "VECTOR", tEmb, eCol,
        Set("GRAPH", "BINARY", "IVF_PQ")) match {
      case Some(e) => e.kind match {
        case "GRAPH" => GraphAnn.probeIndex(aDf, e.path, nDense,
          ef1 = intOpt(opts, "ef1", 8), hops1 = intOpt(opts, "hops1", 2),
          ef = intOpt(opts, "ef", 16), hops = intOpt(opts, "hops", 2))
        case "BINARY" => BinaryAnn.probeIndex(aDf, e.path, nDense,
          shortlist = intOpt(opts, "shortlist", math.max(nDense, 64)))
        case "IVF_PQ" => IvfPq.probeIndex(aDf,
          IvfPq.openIndex(spark, e.path), nDense,
          nprobe = intOpt(opts, "nprobe", 4),
          shortlist = intOpt(opts, "shortlist", 64))
      }
      case None => AnnSearch.bruteTopK(aDf, emb, nDense)
    }
    import spark.implicits._
    val qv = anchors.toSeq.toDF("query_id", "qvec_id")
    val dense = denseRaw.join(broadcast(qv), col("qid") === col("qvec_id"))
      .select(col("query_id"), col("cid").as("doc_id"), col("rk"))
    val fused = Retrieval.rrfFuse(Seq(lex, dense), nFuse)
    Mmr.mmrRerank(fused.select(col("query_id"), col("doc_id"),
      col("rrf_micro").as("rel_micro")), emb, k, lam, mu)
  }

  /** Test/lifecycle hook: clear the persisted registry (index files at
    * explicit paths untouched). */
  private[graft] def reset(spark: SparkSession): Unit =
    hfs(spark, registryDir)
      .delete(new org.apache.hadoop.fs.Path(registryDir), true)
}
