package graft.sources

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{ColumnBridge => CB}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{KvDecodeFixed, KvEncodeFixed}
import graft.operators.Stores

/** Spark-native re-expression of the reference's HBase / Accumulo storage
  * handlers — the KV-table *semantics*, without the external service.
  *
  * What the reference provides (`hbase-handler/.../HBaseStorageHandler.java`,
  * `accumulo-handler/.../AccumuloStorageHandler.java`) is a mapping from a
  * Hive table onto a sorted, region-sharded key-value store:
  *
  *  - **Column mapping** (`ColumnMappings.java:111`,
  *    `AccumuloHiveConstants.ROWID`): a spec string `":key,f:q,f:q2#b,m:*"`
  *    pairs each Hive column with the row key, a `family:qualifier` cell, or
  *    a whole column family as a `MAP` column (`LazyHBaseCellMap.java:93`,
  *    including the qualifier-*prefix* form `f:pre.*`). `#b` selects
  *    fixed-width binary storage per column, `#s`/default selects UTF-8
  *    string storage (`ColumnMappings.java:146-233`); `:timestamp` exposes
  *    the cell version as a BIGINT column.
  *  - **Scan-range predicate decomposition**
  *    (`HBaseStorageHandler.decomposePredicate:545`, `HBaseScanRange.java:32`):
  *    key comparisons are pulled out of the WHERE clause and become a
  *    start/stop-row scan (or a point-get list); everything else runs as a
  *    residual filter over the scanned rows.
  *  - **LSM write semantics**: writes are Puts — latest cell version wins;
  *    Deletes are tombstone markers that mask older cells (cell / family /
  *    row granularity); a major compaction merges files and drops masked
  *    data without changing any visible result.
  *
  * The connector-to-a-live-service part is out of scope (no HBase/Accumulo
  * here, and a socket client would not be a Spark re-expression anyway).
  * Everything *semantic* is implemented over a local region-sharded store:
  *
  *  - Cells live in parquet "region files" `(k, f, q, v binary, ts, del)`,
  *    range-partitioned and sorted by row key per write generation — the
  *    analog of region-server HFiles. A manifest sidecar records each file's
  *    [kmin, kmax], which is exactly the bound an HFile trailer carries.
  *  - `decomposeKeyPredicate` walks the Catalyst expression of an arbitrary
  *    filter `Column` and splits it into a key filter (points or range) plus
  *    a residual, like `IndexPredicateAnalyzer`. The key filter prunes
  *    region files through the manifest; the FULL original predicate is
  *    still applied to the scanned rows, so correctness never depends on the
  *    decomposition being exhaustive — only pruning does (the reference has
  *    the same property: the scan range narrows IO, filters re-check).
  *  - Merged reads resolve cell versions relationally: winner-per-cell via
  *    `max_by` over put timestamps, tombstones mask cells with
  *    `put.ts <= marker.ts` at cell/family/row granularity (HBase Delete
  *    semantics), all as keyed aggregations — no driver-side state, so the
  *    merge scales with partitions, not with table size.
  *
  * 100 TB shape: point-gets and key ranges touch only the region files whose
  * bounds intersect (scanProfile proves it); write amplification is bounded
  * by generations and reset by `compact`, which is itself a single shuffled
  * rewrite. Timestamps are write-generation ordinals, not wall-clock — the
  * deterministic analog of HBase's cell timestamp that keeps every result
  * oracle-replayable (documented deviation).
  */
object KvStorageHandler {

  private val MANIFEST_DIR = "_kv_manifest"

  // del codes, mirroring HBase KeyValue.Type
  private val PUT = 0
  private val DEL_CELL = 1 // DeleteColumn: masks (k, f, q) cells with ts <= marker
  private val DEL_FAMILY = 2 // DeleteFamily: masks (k, f) cells
  private val DEL_ROW = 3 // Delete (whole row)

  // ---------------------------------------------------------------- mapping

  /** One Hive column bound to a `family:qualifier` cell. */
  final case class ScalarCell(col: String, family: String, qualifier: String,
      binary: Boolean, t: DataType)

  /** One Hive MAP column bound to a whole family (`f:*`) or a qualifier
    * prefix slice of it (`f:pre.*`). Map keys are the (prefix-stripped)
    * qualifiers; values decode per the storage specifier. */
  final case class FamilyMap(col: String, family: String, qualPrefix: String,
      binary: Boolean, valueType: DataType)

  final case class KvMapping(keyCol: String, timestampCol: Option[String],
      scalars: Seq[ScalarCell], maps: Seq[FamilyMap],
      keyFields: Option[StructType] = None) {
    def columns: Seq[String] =
      Seq(keyCol) ++ timestampCol ++ scalars.map(_.col) ++ maps.map(_.col)
  }

  /** Composite-key part separator (`HBaseCompositeKey` extends LazyStruct,
    * whose level-1 separator is ^A). Key parts must not contain it. */
  val KEY_SEP: Char = '\u0001'

  /** Parse an `hbase.columns.mapping`-style spec against the Hive-side
    * schema. Mirrors `ColumnMappings.parseColumnsMapping`: entry count must
    * equal the column count, exactly one `:key`, at most one `:timestamp`
    * (BIGINT), `f:*` entries require MAP columns, `#b` requires a
    * fixed-width-codable type. Row keys are strings here (the reference's
    * raw-byte row keys sort bytewise; a string key is the order-preserving
    * surface of that). */
  def parseMapping(schema: StructType, spec: String): KvMapping = {
    val entries = spec.split(",").map(_.trim)
    require(entries.length == schema.length,
      s"mapping has ${entries.length} entries but schema has ${schema.length} " +
        "columns (the reference raises the same count mismatch, ColumnMappings.java:111)")
    var key: Option[String] = None
    var keyStruct: Option[StructType] = None
    var tsCol: Option[String] = None
    val scalars = Seq.newBuilder[ScalarCell]
    val maps = Seq.newBuilder[FamilyMap]
    entries.zip(schema.fields).foreach { case (e0, field) =>
      val (e, storage) = e0.split("#").toList match {
        case one :: Nil => (one, "s")
        case one :: st :: Nil if st == "b" || st == "s" => (one, st)
        case _ => throw new IllegalArgumentException(
          s"bad storage specifier in '$e0' (want #b or #s)")
      }
      val binary = storage == "b"
      if (e == ":key") {
        require(key.isEmpty, "duplicate :key entry")
        field.dataType match {
          case StringType => ()
          case st: StructType =>
            // composite row key (HBaseCompositeKey.java:56 — a LazyStruct
            // over the key bytes, parts joined by the ^A separator)
            require(st.fields.nonEmpty, ":key struct must have fields")
            st.fields.foreach(f => require(f.dataType match {
              case StringType | IntegerType | LongType | ShortType => true
              case _ => false
            }, s"composite :key part ${f.name} must be string/integral, " +
              s"got ${f.dataType.sql}"))
            keyStruct = Some(st)
          case other => throw new IllegalArgumentException(
            s":key column must be STRING or STRUCT, got ${other.sql}")
        }
        key = Some(field.name)
      } else if (e == ":timestamp") {
        require(tsCol.isEmpty, "duplicate :timestamp entry")
        require(field.dataType == LongType,
          s":timestamp column must be BIGINT, got ${field.dataType.sql} " +
            "(ColumnMappings.java:139)")
        tsCol = Some(field.name)
      } else {
        val parts = e.split(":", 2)
        require(parts.length == 2 && parts(0).nonEmpty,
          s"cell mapping '$e' must be family:qualifier")
        val (fam, qual) = (parts(0), parts(1))
        if (qual == "*" || qual.endsWith(".*")) {
          val prefix = if (qual == "*") "" else qual.dropRight(1) // keep the dot
          field.dataType match {
            case MapType(StringType, vt, _) =>
              if (binary) Codable.require(vt)
              maps += FamilyMap(field.name, fam, prefix, binary, vt)
            case other => throw new IllegalArgumentException(
              s"family mapping '$e' needs MAP<STRING,_>, got ${other.sql}")
          }
        } else {
          if (binary) Codable.require(field.dataType)
          scalars += ScalarCell(field.name, fam, qual, binary, field.dataType)
        }
      }
    }
    val sc = scalars.result(); val mp = maps.result()
    require(sc.nonEmpty || mp.nonEmpty,
      "mapping must bind at least one cell beyond :key")
    KvMapping(key.getOrElse(throw new IllegalArgumentException(
      "mapping must contain :key (AccumuloHiveConstants.ROWID)")),
      tsCol, sc, mp, keyStruct)
  }

  private object Codable {
    def require(t: DataType): Unit = t match {
      case BooleanType | ShortType | IntegerType | LongType | FloatType | DoubleType => ()
      case other => throw new IllegalArgumentException(
        s"#b (binary storage) supports boolean/short/int/long/float/double, got ${other.sql}")
    }
  }

  // ------------------------------------------------------------ encode side

  private def encodeValue(c: Column, t: DataType, binary: Boolean): Column =
    if (binary) CB.column(KvEncodeFixed(CB.expression(c.cast(t))))
    else encode(c.cast(t).cast(StringType), "UTF-8")

  private def decodeValue(c: Column, t: DataType, binary: Boolean): Column =
    if (binary) CB.column(KvDecodeFixed(CB.expression(c), t))
    else decode(c, "UTF-8").cast(t)

  /** Row-key expression for a mapping: the string key itself, or composite
    * struct parts joined by KEY_SEP (null in any part nulls the whole key —
    * such rows are rejected at write, HBase raises on null keys too). */
  private def keyExpr(m: KvMapping): Column = m.keyFields match {
    case Some(st) =>
      val parts = st.fields.toSeq.map(f =>
        col(m.keyCol).getField(f.name).cast(StringType))
      // a part containing the separator would shift every later field on
      // read (split-based reconstruction) — reject inside the write job
      val sepInPart = parts.map(_.contains(KEY_SEP.toString)).reduce(_ || _)
      when(sepInPart, raise_error(lit(
          "composite key part contains the \\u0001 separator")))
        .otherwise(
          concat(parts.flatMap(p => Seq(p, lit(KEY_SEP.toString))).dropRight(1): _*))
    case None => col(m.keyCol).cast(StringType)
  }

  /** Explode a Hive-side DataFrame into cells per the mapping. Null scalar
    * values produce NO cell (HBase stores nothing for null; LazyHBaseCellMap
    * likewise skips empty values on read). `vis` is the write batch's
    * visibility label (`accumulo.visibility.label` — a table-level label,
    * AccumuloSerDeParameters.java:54; empty = unlabeled, visible to all). */
  private def toCells(df: DataFrame, m: KvMapping, gen: Long,
      vis: String): DataFrame = {
    // null keys fail INSIDE the write job (no extra pass): HBase raises on
    // null row keys; a composite key with any null part is null as a whole
    val k = when(keyExpr(m).isNull, raise_error(lit(
        "null row key (or null composite key part) — HBase rejects null keys")))
      .otherwise(keyExpr(m)).as("k")
    val scalarCells = m.scalars.map { sc =>
      df.select(k, lit(sc.family).as("f"), lit(sc.qualifier).as("q"),
          encodeValue(col(sc.col), sc.t, sc.binary).as("v"),
          lit(gen).as("ts"), lit(PUT).as("del"), lit(vis).as("vis"))
        .filter(col("v").isNotNull)
    }
    val mapCells = m.maps.map { fm =>
      df.select(k, explode(coalesce(col(fm.col), map())).as(Seq("mq", "mv")))
        .select(col("k"), lit(fm.family).as("f"),
          concat(lit(fm.qualPrefix), col("mq")).as("q"),
          encodeValue(col("mv"), fm.valueType, fm.binary).as("v"),
          lit(gen).as("ts"), lit(PUT).as("del"), lit(vis).as("vis"))
        .filter(col("v").isNotNull)
    }
    (scalarCells ++ mapCells).reduce(_.union(_))
  }

  // ---------------------------------------------------------------- layout

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(root: String, gen: Long): Path =
    new Path(s"$root/$MANIFEST_DIR/" + f"$gen%05d" + ".tsv")

  private def enc(s: String): String = URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String = URLDecoder.decode(s, "UTF-8")

  private final case class RegionFile(gen: Long, path: String, kmin: String, kmax: String)
  private final case class Generation(gen: Long, base: Boolean, files: Seq[RegionFile])

  /** Publish one manifest file per write generation through the one commit
    * primitive ([[Stores.commitOnce]]: body to a temp file, then a
    * no-overwrite publish), so a visible manifest is always complete and
    * two racing writers cannot both claim a generation ordinal. */
  private def writeManifest(f: FileSystem, root: String, g: Generation): Unit = {
    val p = manifestPath(root, g.gen)
    val body = (s"gen\t${g.gen}\tbase\t${g.base}" +:
      g.files.map(r => s"${r.path}\t${enc(r.kmin)}\t${enc(r.kmax)}")).mkString("\n")
    if (!Stores.commitOnce(f, p, body))
      throw new java.io.IOException(
        s"KV generation ${g.gen} at $root was claimed by another writer")
  }

  private def readManifests(f: FileSystem, root: String): Seq[Generation] = {
    val dir = new Path(s"$root/$MANIFEST_DIR")
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).toSeq.filter(_.getPath.getName.endsWith(".tsv"))
      .sortBy(_.getPath.getName).map { st =>
        val in = f.open(st.getPath)
        val body = try {
          val buf = new Array[Byte](st.getLen.toInt)
          in.readFully(buf); new String(buf, StandardCharsets.UTF_8)
        } finally in.close()
        val lines = body.split("\n").toSeq
        val hdr = lines.head.split("\t")
        val gen = hdr(1).toLong
        val base = hdr(3).toBoolean
        val files = lines.tail.filter(_.nonEmpty).map { l =>
          val c = l.split("\t")
          RegionFile(gen, c(0), dec(c(1)), dec(c(2)))
        }
        Generation(gen, base, files)
      }
  }

  /** Generations visible to a read: the newest base (compaction output) and
    * everything after it — the LSM view. */
  private def liveGenerations(f: FileSystem, root: String): Seq[Generation] = {
    val all = readManifests(f, root)
    val lastBase = all.filter(_.base).map(_.gen).sorted.lastOption.getOrElse(Long.MinValue)
    all.filter(_.gen >= lastBase)
  }

  private def nextGen(f: FileSystem, root: String): Long =
    readManifests(f, root).map(_.gen).sorted.lastOption.getOrElse(0L) + 1L

  /** Write one generation of region files: range-partitioned and sorted by
    * row key (the HFile invariant), then record per-file [kmin, kmax] in the
    * manifest. Bounds decode from the just-written PARQUET FOOTERS
    * driver-side (r18 — the [[graft.operators.DataSkipping]] footer
    * discipline: parquet string statistics are exact-or-absent and compare
    * in unsigned UTF-8 order, exactly [[KeyFilter.cmp]]'s order), replacing
    * the per-write Spark aggregate + collect that re-read every region
    * file's key column (JobProfile: ~1.1 s of q336's five generation
    * writes). Any doubt about any file's stats falls back to the exact
    * original aggregate — a production commit hook would capture bounds at
    * write time like an HFile trailer does. */
  private def writeGeneration(spark: SparkSession, root: String, gen: Long,
      cells: DataFrame, base: Boolean, regions: Int): Unit = {
    val dir = s"$root/gen-" + f"$gen%05d"
    cells.repartitionByRange(regions, col("k"))
      .sortWithinPartitions("k", "f", "q")
      .write.mode("errorifexists").parquet(dir)
    val bounds = footerKeyBounds(spark, dir).getOrElse(
        spark.read.parquet(dir)
          .groupBy(input_file_name().as("file"))
          .agg(min("k").as("kmin"), max("k").as("kmax"))
          .collect() // O(#region files), not O(rows)
          .map(r => (new Path(r.getString(0)).getName,
            r.getString(1), r.getString(2))).toSeq)
      .map { case (name, kmin, kmax) =>
        RegionFile(gen, s"gen-" + f"$gen%05d" + "/" + name, kmin, kmax) }
    writeManifest(fs(spark, root), root, Generation(gen, base, bounds.toSeq.sortBy(_.path)))
  }

  /** Per-file (fileName, kmin, kmax) of `dir`'s `k` column decoded from
    * parquet footers — a driver-side metadata read, no Spark job. Returns
    * None (→ caller runs the exact aggregate) on ANY doubt: unreadable
    * footer, missing/null statistics, non-BINARY physical type, or a
    * NULL-bearing key chunk (`k` is the row key and never NULL; a file
    * claiming otherwise is not one this path should describe). Zero-row
    * files are skipped — the aggregate path yields no group for them
    * either. */
  private def footerKeyBounds(spark: SparkSession,
      dir: String): Option[Seq[(String, String, String)]] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.BINARY
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val f = fs(spark, dir)
    val files = f.listStatus(new Path(dir)).toSeq.filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val out = Seq.newBuilder[(String, String, String)]
    files.foreach { st =>
      val footer = try {
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try r.getFooter finally r.close()
      } catch { case _: Exception => return None }
      val blocks = footer.getBlocks.asScala.toSeq
      if (blocks.map(_.getRowCount).sum > 0) {
        var mn: UTF8String = null
        var mx: UTF8String = null
        blocks.foreach { b =>
          val chunk = b.getColumns.asScala.find(_.getPath.toDotString == "k")
            .getOrElse(return None)
          if (b.getRowCount > 0) {
            val s = chunk.getStatistics
            if (s == null || !s.hasNonNullValue ||
                chunk.getPrimitiveType.getPrimitiveTypeName != BINARY ||
                (s.isNumNullsSet && s.getNumNulls > 0)) return None
            val lo = UTF8String.fromString(
              s.genericGetMin.asInstanceOf[Binary].toStringUsingUTF8)
            val hi = UTF8String.fromString(
              s.genericGetMax.asInstanceOf[Binary].toStringUsingUTF8)
            if (mn == null || lo.compareTo(mn) < 0) mn = lo
            if (mx == null || hi.compareTo(mx) > 0) mx = hi
          }
        }
        if (mn == null) return None
        out += ((st.getPath.getName, mn.toString, mx.toString))
      }
    }
    Some(out.result())
  }

  // ----------------------------------------------------------------- writes

  /** Put a batch: upsert cells for every row of `df` per the mapping. Within
    * one batch at most one value per (key, cell) may appear — enforced by a
    * deterministic max-value resolution at read time, mirroring HBase's
    * same-timestamp tie-break. */
  def put(spark: SparkSession, root: String, df: DataFrame, m: KvMapping,
      regions: Int = 8, visibility: String = ""): Unit = {
    if (visibility.nonEmpty) VisibilityExpr.parse(visibility) // fail fast on bad labels
    val gen = nextGen(fs(spark, root), root)
    writeGeneration(spark, root, gen, toCells(df, m, gen, visibility),
      base = false, regions)
  }

  /** Tombstone key expression: a STRING key column passes through; a
    * composite STRUCT column joins its parts with KEY_SEP exactly like the
    * write path, so deletes against composite-key stores mask real keys
    * (a struct cast straight to string would render "{a, b}" and mask
    * nothing — a silent no-op delete). */
  private def tombstoneKey(keys: DataFrame, keyCol: String): Column =
    keys.schema(keyCol).dataType match {
      case st: StructType =>
        val parts = st.fields.toSeq.map(f =>
          col(keyCol).getField(f.name).cast(StringType))
        when(parts.map(_.isNull).reduce(_ || _), raise_error(lit(
            "null composite key part in delete")))
          .otherwise(
            concat(parts.flatMap(p => Seq(p, lit(KEY_SEP.toString))).dropRight(1): _*))
      case _ => col(keyCol).cast(StringType)
    }

  /** Delete whole rows (HBase Delete / Accumulo row deletion): a row
    * tombstone masks every cell of the key with ts <= the marker's. */
  def deleteRows(spark: SparkSession, root: String, keys: DataFrame,
      keyCol: String, regions: Int = 8): Unit = {
    val gen = nextGen(fs(spark, root), root)
    val cells = keys.select(tombstoneKey(keys, keyCol).as("k"),
      lit("").as("f"), lit("").as("q"), lit(null).cast(BinaryType).as("v"),
      lit(gen).as("ts"), lit(DEL_ROW).as("del"), lit("").as("vis"))
    writeGeneration(spark, root, gen, cells, base = false, regions)
  }

  /** Delete one cell for each key (HBase DeleteColumn). */
  def deleteCells(spark: SparkSession, root: String, keys: DataFrame,
      keyCol: String, family: String, qualifier: String, regions: Int = 8): Unit = {
    val gen = nextGen(fs(spark, root), root)
    val cells = keys.select(tombstoneKey(keys, keyCol).as("k"),
      lit(family).as("f"), lit(qualifier).as("q"),
      lit(null).cast(BinaryType).as("v"),
      lit(gen).as("ts"), lit(DEL_CELL).as("del"), lit("").as("vis"))
    writeGeneration(spark, root, gen, cells, base = false, regions)
  }

  /** Delete a whole column family for each key (HBase DeleteFamily). */
  def deleteFamily(spark: SparkSession, root: String, keys: DataFrame,
      keyCol: String, family: String, regions: Int = 8): Unit = {
    val gen = nextGen(fs(spark, root), root)
    val cells = keys.select(tombstoneKey(keys, keyCol).as("k"),
      lit(family).as("f"), lit("").as("q"), lit(null).cast(BinaryType).as("v"),
      lit(gen).as("ts"), lit(DEL_FAMILY).as("del"), lit("").as("vis"))
    writeGeneration(spark, root, gen, cells, base = false, regions)
  }

  /** Major compaction: merge every live generation, keep only visible cells
    * (winners not masked by tombstones), rewrite as a single base generation.
    * Result-invariant by construction — the spec asserts it. */
  def compact(spark: SparkSession, root: String, regions: Int = 8): Unit = {
    val winners = visibleCells(spark, root, None, None) // keeps original put ts + vis
    val gen = nextGen(fs(spark, root), root)
    writeGeneration(spark, root, gen,
      winners.select("k", "f", "q", "v", "ts", "vis").withColumn("del", lit(PUT)),
      base = true, regions)
  }

  // --------------------------------------------------- predicate decompose

  /** Key filter extracted from a predicate — the `HBaseScanRange` analog.
    * `lower`/`upper` are (bound, inclusive); `points` short-circuits to a
    * multi-get. */
  final case class KeyFilter(points: Option[Seq[String]],
      lower: Option[(String, Boolean)], upper: Option[(String, Boolean)]) {
    import KeyFilter.cmp
    def isFullScan: Boolean = points.isEmpty && lower.isEmpty && upper.isEmpty

    private def geLower(s: String): Boolean = lower.forall {
      case (b, incl) => if (incl) cmp(s, b) >= 0 else cmp(s, b) > 0
    }
    private def leUpper(s: String): Boolean = upper.forall {
      case (b, incl) => if (incl) cmp(s, b) <= 0 else cmp(s, b) < 0
    }
    def admitsKey(s: String): Boolean =
      points.forall(_.contains(s)) && geLower(s) && leUpper(s)

    /** Can a file with key bounds [kmin, kmax] contain an admitted key? */
    def admitsFile(kmin: String, kmax: String): Boolean = points match {
      case Some(ps) => ps.exists(p => cmp(p, kmin) >= 0 && cmp(p, kmax) <= 0 && admitsKey(p))
      case None =>
        val aboveLower = lower.forall { case (b, incl) => if (incl) cmp(kmax, b) >= 0 else cmp(kmax, b) > 0 }
        val belowUpper = upper.forall { case (b, incl) => if (incl) cmp(kmin, b) <= 0 else cmp(kmin, b) < 0 }
        aboveLower && belowUpper
    }

    def intersect(o: KeyFilter): KeyFilter = {
      val ps = (points, o.points) match {
        case (Some(a), Some(b)) => Some(a.intersect(b))
        case (a, b) => a.orElse(b)
      }
      // Tightest lower = byte-wise max (exclusive beats inclusive at equal
      // bound); tightest upper = byte-wise min (exclusive beats inclusive).
      def tighter(a: (String, Boolean), b: (String, Boolean), wantMax: Boolean) = {
        val c = cmp(a._1, b._1)
        if (c != 0) { if ((c > 0) == wantMax) a else b }
        else if (!a._2) a else b // at equal bound the exclusive one is tighter
      }
      def tight(a: Option[(String, Boolean)], b: Option[(String, Boolean)], wantMax: Boolean) =
        (a, b) match {
          case (Some(x), Some(y)) => Some(tighter(x, y, wantMax))
          case (x, y) => x.orElse(y)
        }
      KeyFilter(ps, tight(lower, o.lower, wantMax = true), tight(upper, o.upper, wantMax = false))
    }
  }

  object KeyFilter {
    val full: KeyFilter = KeyFilter(None, None, None)
    def points(ps: Seq[String]): KeyFilter = KeyFilter(Some(ps), None, None)
    /** Byte-wise UTF-8 key comparison — HBase compares raw bytes, and the
      * per-file kmin/kmax bounds come from Spark's UTF8String (byte-wise)
      * min/max; Java String ordering (UTF-16 code units) diverges for
      * supplementary characters, which would silently prune live files. */
    private[sources] def cmp(a: String, b: String): Int =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
  }

  /** Cell-version scan bound — the `Scan.setTimeRange(start, end)` analog
    * (end EXCLUSIVE, the HBase TimeRange contract). Restricts which PUT
    * cells a scan sees BEFORE version resolution, so `ts <= T` predicates
    * read the winning version *as of T*, not "rows whose latest version is
    * <= T" — exactly what the reference's pushed timestamp conditions do
    * (`HiveHBaseTableInputFormat.setupTimeRange:310-335`). */
  final case class TsRange(start: Long, end: Long) {
    def isFull: Boolean = start == Long.MinValue && end == Long.MaxValue
    def intersect(o: TsRange): TsRange =
      TsRange(math.max(start, o.start), math.min(end, o.end))
  }
  object TsRange {
    val full: TsRange = TsRange(Long.MinValue, Long.MaxValue)
    private[sources] def incl(t: Long): Long = // end bound that includes t
      if (t == Long.MaxValue) Long.MaxValue else t + 1L
  }

  /** Extract a cell time range from conjuncts on the `:timestamp` column,
    * mirroring `setupTimeRange` op by op (= → [t, t+1); < → end=t;
    * <= → end=t+1; > → start=t+1; >= → start=t). Conjunct bounds intersect
    * to the tightest range (the reference's loop overwrites in order — for
    * the well-formed `ts >= a AND ts < b` shape the two agree; intersection
    * is the sound generalization). Anything else — ORs, non-literal
    * comparands, other columns — contributes nothing (stays residual; the
    * caller re-applies the full predicate over the scanned rows). */
  def decomposeTsRange(pred: Column, tsCol: String): TsRange = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions._
    def isTs(e: Expression): Boolean = e match {
      case a: UnresolvedAttribute => a.nameParts.mkString(".").equalsIgnoreCase(tsCol)
      case a: Attribute => a.name.equalsIgnoreCase(tsCol)
      case _ => false
    }
    def litLong(e: Expression): Option[Long] = e match {
      case Literal(v: Long, LongType) => Some(v)
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case Literal(v: Short, ShortType) => Some(v.toLong)
      case _ => None
    }
    import TsRange.incl
    // `op` as written column-first; the mirrored literal-first form flips
    def bound(op: String, t: Long): TsRange = op match {
      case "=" => TsRange(t, incl(t))
      case "<" => TsRange(Long.MinValue, t)
      case "<=" => TsRange(Long.MinValue, incl(t))
      case ">" => TsRange(incl(t), Long.MaxValue)
      case ">=" => TsRange(t, Long.MaxValue)
      case _ => TsRange.full
    }
    def flip(op: String): String = op match {
      case "<" => ">" case "<=" => ">=" case ">" => "<" case ">=" => "<="
      case other => other
    }
    def opOf(e: Expression): Option[(String, Seq[Expression])] = e match {
      case And(l, r) => Some(("and", Seq(l, r)))
      case EqualTo(a, b) => Some(("=", Seq(a, b)))
      case GreaterThanOrEqual(a, b) => Some((">=", Seq(a, b)))
      case GreaterThan(a, b) => Some((">", Seq(a, b)))
      case LessThanOrEqual(a, b) => Some(("<=", Seq(a, b)))
      case LessThan(a, b) => Some(("<", Seq(a, b)))
      case f: UnresolvedFunction if f.nameParts.length == 1 =>
        Some((f.nameParts.head.toLowerCase match {
          case "==" | "equal_to" => "="
          case o => o
        }, f.arguments))
      case _ => None
    }
    def walk(e: Expression): TsRange = opOf(e) match {
      case Some(("and", Seq(l, r))) => walk(l).intersect(walk(r))
      case Some((op, Seq(a, b))) if isTs(a) && litLong(b).isDefined =>
        bound(op, litLong(b).get)
      case Some((op, Seq(a, b))) if isTs(b) && litLong(a).isDefined =>
        bound(flip(op), litLong(a).get)
      case _ => TsRange.full
    }
    walk(CB.converted(pred))
  }

  /** Split `pred` into (key filter, residual) like
    * `HBaseStorageHandler.decomposePredicate` + `IndexPredicateAnalyzer`:
    * conjuncts that compare the key column to literals become the scan
    * range / point list; every other conjunct (including any OR — the
    * reference sends disjunctions to the residual too) stays residual.
    * The caller re-applies the FULL predicate after pruning, so the
    * decomposition only has to be sound for pruning, never exhaustive.
    * For OR-aware pruning use [[decomposeKeyDisjuncts]] — this single-
    * filter surface keeps the reference's exact contract (any disjunction
    * ⇒ full scan + whole-predicate residual).
    *
    * Walks the PUBLIC Catalyst tree obtained via `ColumnBridge.expression`
    * (the Column API's private ColumnNode AST converts to unresolved
    * Catalyst nodes — `UnresolvedAttribute`/`Literal`, with comparisons as
    * either concrete `BinaryComparison`s or `UnresolvedFunction`s depending
    * on how the Column was built; both shapes are matched). */
  def decomposeKeyPredicate(pred: Column, keyCol: String): (KeyFilter, Option[Column]) = {
    val (kfs, residual) = decomposeKeyDisjuncts(pred, keyCol)
    if (kfs.size == 1) (kfs.head, residual)
    else (KeyFilter.full, Some(pred))
  }

  /** Disjunction of disjuncts-of-key-filters — no more than this many
    * branches survive an OR/AND expansion before the decomposition gives up
    * and falls back to a (sound) full scan. Time-sliced rowkey predicates
    * are a handful of ranges; thousands would mean admitsFile work per
    * region file starts to matter. */
  private val MaxDisjuncts = 32

  /** OR-aware key-predicate decomposition — EXCEEDS the reference (its
    * `IndexPredicateAnalyzer` sends any disjunction whole to the residual,
    * scanning every region): the result is a UNION of [[KeyFilter]]s, one
    * per reachable disjunct, and a file is read iff SOME disjunct admits it
    * — so `k BETWEEN a AND b OR k BETWEEN c AND d` (time-sliced rowkeys)
    * scans only the two covering file sets, never the gap between them.
    * Soundness: every row satisfying a disjunct is admitted by that
    * disjunct's filter (conjunct extraction only widens), so union
    * admission covers the whole predicate; the caller still re-applies the
    * FULL predicate after pruning. AND distributes pairwise over the
    * branch sets ((A∪B)∩(C∪D) = ∪ pairwise intersects); branch counts are
    * capped at [[MaxDisjuncts]], overflowing to the full-scan filter. The
    * residual is `None` only when EVERY branch was captured exactly. */
  def decomposeKeyDisjuncts(pred: Column, keyCol: String): (Seq[KeyFilter], Option[Column]) = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions._
    def isKey(e: Expression): Boolean = e match {
      case a: UnresolvedAttribute => a.nameParts.mkString(".").equalsIgnoreCase(keyCol)
      case a: Attribute => a.name.equalsIgnoreCase(keyCol)
      case _ => false
    }
    def litStr(e: Expression): Option[String] = e match {
      case Literal(s: String, StringType) => Some(s)
      case Literal(u: UTF8String, StringType) => Some(u.toString)
      case _ => None
    }
    def lower(s: String, incl: Boolean) =
      (Seq(KeyFilter(None, Some((s, incl)), None)), Nil)
    def upper(s: String, incl: Boolean) =
      (Seq(KeyFilter(None, None, Some((s, incl)))), Nil)
    // Normalize the two surface shapes into (op, args); non-matching ops
    // fall through to the residual.
    def opOf(e: Expression): Option[(String, Seq[Expression])] = e match {
      case And(l, r) => Some(("and", Seq(l, r)))
      case Or(l, r) => Some(("or", Seq(l, r)))
      case EqualTo(a, b) => Some(("=", Seq(a, b)))
      case GreaterThanOrEqual(a, b) => Some((">=", Seq(a, b)))
      case GreaterThan(a, b) => Some((">", Seq(a, b)))
      case LessThanOrEqual(a, b) => Some(("<=", Seq(a, b)))
      case LessThan(a, b) => Some(("<", Seq(a, b)))
      case In(k, vs) => Some(("in", k +: vs))
      case InSet(k, vs) => Some(("in", k +: vs.toSeq.map(Literal(_))))
      case f: UnresolvedFunction if f.nameParts.length == 1 =>
        Some((f.nameParts.head.toLowerCase, f.arguments))
      case _ => None
    }
    // (union-of-disjunct filters, residual conjuncts). Overflowing either
    // combinator collapses to the full-scan filter + whole-node residual —
    // always sound, never exhaustive.
    def walk(e: Expression): (Seq[KeyFilter], Seq[Expression]) = opOf(e) match {
      case Some((op, args)) => (op, args.toList) match {
        case ("and", l :: r :: Nil) =>
          val (fl, rl) = walk(l); val (fr, rr) = walk(r)
          if (fl.size * fr.size > MaxDisjuncts) (Seq(KeyFilter.full), Seq(e))
          // distinct: a non-key OR yields (full, full) branches, and
          // without dedup the cross product would turn ONE real bound into
          // duplicate disjuncts — collapsing the single-filter surface to
          // a full scan for `k >= a AND (x=1 OR y=2)` shapes (a pruning
          // regression the r14 self-review caught)
          else ((for (a <- fl; b <- fr) yield a.intersect(b)).distinct, rl ++ rr)
        case ("or", l :: r :: Nil) =>
          val (fl, rl) = walk(l); val (fr, rr) = walk(r)
          if (fl.size + fr.size > MaxDisjuncts) (Seq(KeyFilter.full), Seq(e))
          // a residual on EITHER branch forces the whole OR residual: the
          // conjunction-shaped residual list cannot express "this conjunct
          // applies only inside its disjunct"
          else ((fl ++ fr).distinct, if (rl.isEmpty && rr.isEmpty) Nil else Seq(e))
        case ("=" | "==" | "equal_to", a :: b :: Nil) if isKey(a) && litStr(b).isDefined =>
          (Seq(KeyFilter.points(Seq(litStr(b).get))), Nil)
        case ("=" | "==" | "equal_to", a :: b :: Nil) if isKey(b) && litStr(a).isDefined =>
          (Seq(KeyFilter.points(Seq(litStr(a).get))), Nil)
        case ("in", key :: vs) if isKey(key) && vs.nonEmpty && vs.forall(litStr(_).isDefined) =>
          (Seq(KeyFilter.points(vs.flatMap(litStr))), Nil)
        case (">=", a :: b :: Nil) if isKey(a) && litStr(b).isDefined => lower(litStr(b).get, true)
        case (">", a :: b :: Nil) if isKey(a) && litStr(b).isDefined => lower(litStr(b).get, false)
        case ("<=", a :: b :: Nil) if isKey(a) && litStr(b).isDefined => upper(litStr(b).get, true)
        case ("<", a :: b :: Nil) if isKey(a) && litStr(b).isDefined => upper(litStr(b).get, false)
        // mirrored literal-first bounds: lit <= key is a LOWER bound on key
        case (">=", a :: b :: Nil) if isKey(b) && litStr(a).isDefined => upper(litStr(a).get, true)
        case (">", a :: b :: Nil) if isKey(b) && litStr(a).isDefined => upper(litStr(a).get, false)
        case ("<=", a :: b :: Nil) if isKey(b) && litStr(a).isDefined => lower(litStr(a).get, true)
        case ("<", a :: b :: Nil) if isKey(b) && litStr(a).isDefined => lower(litStr(a).get, false)
        case _ => (Seq(KeyFilter.full), Seq(e))
      }
      case None => (Seq(KeyFilter.full), Seq(e))
    }
    val (kfs, residual) = walk(CB.converted(pred))
    (kfs, residual.reduceOption(And).map(CB.column))
  }

  // ------------------------------------------------------------------ reads

  private def readCells(spark: SparkSession, root: String,
      kf: Option[Seq[KeyFilter]]): DataFrame = {
    val gens = liveGenerations(fs(spark, root), root)
    val files = gens.flatMap(_.files)
    // union admission: a file is read iff SOME disjunct admits it
    val kept = kf match {
      case Some(fsq) if !fsq.exists(_.isFullScan) =>
        files.filter(r => fsq.exists(_.admitsFile(r.kmin, r.kmax)))
      case _ => files
    }
    if (kept.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("k", StringType), StructField("f", StringType),
          StructField("q", StringType), StructField("v", BinaryType),
          StructField("ts", LongType), StructField("del", IntegerType),
          StructField("vis", StringType))))
    else {
      // mergeSchema: a store may mix generations written before and after
      // visibility support; without it the sampled-file schema could DROP
      // the vis column of labeled files (silently erasing restrictions)
      val df = spark.read.option("mergeSchema", "true")
        .parquet(kept.map(r => s"$root/${r.path}"): _*)
      // pre-visibility generations surface vis as NULL -> unlabeled
      if (df.columns.contains("vis"))
        df.withColumn("vis", coalesce(col("vis"), lit("")))
      else df.withColumn("vis", lit(""))
    }
  }

  /** (files scanned, files total) for a key filter — the pruning evidence. */
  def scanProfile(spark: SparkSession, root: String, kf: KeyFilter): (Int, Int) =
    scanProfileUnion(spark, root, Seq(kf))

  /** [[scanProfile]] over a union of disjunct filters
    * ([[decomposeKeyDisjuncts]]): scanned = files SOME disjunct admits. */
  def scanProfileUnion(spark: SparkSession, root: String,
      kfs: Seq[KeyFilter]): (Int, Int) = {
    val files = liveGenerations(fs(spark, root), root).flatMap(_.files)
    val kept = if (kfs.exists(_.isFullScan)) files
      else files.filter(r => kfs.exists(_.admitsFile(r.kmin, r.kmax)))
    (kept.size, files.size)
  }

  /** Visible cells after version resolution, tombstone masking, and (when
    * `auths` is given) the authorization filter; keeps the winning put's ts
    * and label. Pruning by key filter is sound because every cell and
    * every tombstone of a key lives inside files whose [kmin, kmax] covers
    * that key.
    *
    * Authorization order matches Accumulo's scan iterator stack (the
    * VisibilityFilter sits ABOVE the VersioningIterator): versions resolve
    * first, THEN unauthorized winners are dropped — a newer cell your auths
    * cannot see HIDES the older visible version, it does not fall back to
    * it. Label evaluation is driver-side over the DISTINCT labels (bounded
    * by the number of write batches — `accumulo.visibility.label` is a
    * table-level property, AccumuloSerDeParameters.java:54) and applied as
    * an `isin` filter, so the scan itself never parses expressions per row. */
  private def visibleCells(spark: SparkSession, root: String,
      kf: Option[Seq[KeyFilter]], auths: Option[Set[String]],
      tsr: Option[TsRange] = None): DataFrame = {
    val cells = readCells(spark, root, kf)
    // The time range restricts PUT cells only. Tombstones stay unrestricted:
    // HBase's ScanQueryMatcher tracks delete markers with
    // `tr.withinOrAfterTimeRange(ts)` — i.e. any marker at or after the
    // range start, including markers NEWER than the range end, still masks
    // (the infamous "a delete hides older data even from time-range scans
    // until major compaction"). A marker before the range start can only
    // mask puts that are themselves out of range, so applying every
    // tombstone is result-identical and simpler.
    val puts0 = cells.filter(col("del") === PUT)
    val puts = tsr match {
      case Some(r) if !r.isFull =>
        puts0.filter(col("ts") >= r.start && col("ts") < r.end)
      case _ => puts0
    }
    // winner per (k, f, q): highest ts; same-ts ties resolve to max value
    // (deterministic stand-in for HBase's memstore sequence-id tie-break)
    val win = puts.groupBy("k", "f", "q")
      .agg(max_by(struct(col("v"), col("vis")), struct(col("ts"), col("v"))).as("w"),
        max("ts").as("ts"))
      .select(col("k"), col("f"), col("q"), col("w.v").as("v"), col("ts"),
        col("w.vis").as("vis"))
    val dCell = cells.filter(col("del") === DEL_CELL)
      .groupBy("k", "f", "q").agg(max("ts").as("dc"))
    val dFam = cells.filter(col("del") === DEL_FAMILY)
      .groupBy("k", "f").agg(max("ts").as("df"))
    val dRow = cells.filter(col("del") === DEL_ROW)
      .groupBy("k").agg(max("ts").as("dr"))
    val masked = win.join(dCell, Seq("k", "f", "q"), "left")
      .join(dFam, Seq("k", "f"), "left")
      .join(dRow, Seq("k"), "left")
      .filter(col("ts") > coalesce(greatest(col("dc"), col("df"), col("dr")),
        lit(Long.MinValue)))
      .select("k", "f", "q", "v", "ts", "vis")
    auths match {
      case None => masked
      case Some(as) =>
        // distinct labels from the RAW put cells — a narrow scan-side
        // distinct (no joins), superset of the winners' labels, bounded by
        // the number of write batches (labels are per-batch table config)
        val labels = puts.select("vis").distinct().collect().map(_.getString(0))
        val ok = labels.filter(l => VisibilityExpr.visible(l, as)).toSeq
        masked.filter(col("vis").isin(ok: _*))
    }
  }

  /** Pivot visible cells to the Hive-side row view: one row per key that has
    * at least one visible cell (the HBase notion of row existence); absent
    * cells decode to NULL; `:timestamp` = max visible cell version. A
    * composite key reconstructs to its struct column by splitting on
    * KEY_SEP and casting parts back to the declared field types. */
  private def rowView(spark: SparkSession, root: String, m: KvMapping,
      kf: Option[Seq[KeyFilter]], auths: Option[Set[String]],
      tsr: Option[TsRange] = None): DataFrame = {
    val cells = visibleCells(spark, root, kf, auths, tsr)
    val aggs =
      m.scalars.map { sc =>
        max(when(col("f") === sc.family && col("q") === sc.qualifier, col("v")))
          .as("__c_" + sc.col)
      } ++
      m.maps.map { fm =>
        map_from_entries(array_sort(collect_list(
          when(col("f") === fm.family &&
            (if (fm.qualPrefix.isEmpty) lit(true) else col("q").startsWith(fm.qualPrefix)),
            struct(col("q").substr(lit(fm.qualPrefix.length + 1), lit(Int.MaxValue)).as("mk"),
              col("v").as("mv")))))).as("__m_" + fm.col)
      } ++
      m.timestampCol.map(tc => max(col("ts")).as("__t_" + tc)).toSeq
    val grouped = cells.groupBy(col("k")).agg(aggs.head, aggs.tail: _*)
    val keyOut = m.keyFields match {
      case Some(st) =>
        val parts = split(col("k"), KEY_SEP.toString)
        struct(st.fields.toSeq.zipWithIndex.map { case (f, i) =>
          parts.getItem(i).cast(f.dataType).as(f.name)
        }: _*).as(m.keyCol)
      case None => col("k").as(m.keyCol)
    }
    val outCols = Seq(keyOut) ++
      m.timestampCol.map(tc => col("__t_" + tc).as(tc)).toSeq ++
      m.scalars.map(sc => decodeValue(col("__c_" + sc.col), sc.t, sc.binary).as(sc.col)) ++
      m.maps.map(fm => transform_values(col("__m_" + fm.col),
        (_, v) => decodeValue(v, fm.valueType, fm.binary)).as(fm.col))
    grouped.select(outCols: _*)
  }

  /** Full-table read. `auths` = the scanner's authorization set
    * (`accumulo.authorizations`); None reads every cell — the connector
    * user's full-auth default. */
  def read(spark: SparkSession, root: String, m: KvMapping,
      auths: Option[Set[String]] = None): DataFrame =
    rowView(spark, root, m, None, auths)

  /** Predicate-pushdown scan: decompose `pred` on the key column, prune
    * region files through the manifest, then apply the FULL predicate over
    * the merged row view — scan ranges narrow IO, filters re-check, exactly
    * the reference contract. */
  def scan(spark: SparkSession, root: String, m: KvMapping, pred: Column,
      auths: Option[Set[String]] = None): DataFrame = {
    val kfs = m.keyFields match {
      case Some(st) => Seq(decomposeCompositePredicate(pred, m.keyCol, st))
      case None => decomposeKeyDisjuncts(pred, m.keyCol)._1
    }
    // `:timestamp` conjuncts push into the cell time range (setupTimeRange):
    // version resolution then runs over the restricted cells, so the scan
    // reads as-of. Re-applying the full predicate afterwards stays sound —
    // the surfaced ts is the max put ts INSIDE the range, which satisfies
    // every pushed conjunct by construction, and unpushed ts shapes (ORs,
    // !=) evaluate over the row view exactly like the reference's residual.
    val tsr = m.timestampCol.map(tc => decomposeTsRange(pred, tc)).filter(!_.isFull)
    rowView(spark, root, m, Some(kfs), auths, tsr).filter(pred)
  }

  /** Composite-key decomposition (`CompositeHBaseKeyFactory` +
    * `AbstractHBaseKeyPredicateDecomposer`): equality conjuncts on a
    * LEADING run of key struct fields become a key prefix — a point when
    * every field is bound, otherwise the range [prefix·SEP, prefix·(SEP+1))
    * that covers exactly the keys sharing that field prefix. Everything
    * else stays residual (the caller re-applies the full predicate). */
  def decomposeCompositePredicate(pred: Column, keyCol: String,
      keySchema: StructType): KeyFilter = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedExtractValue, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions._
    def fieldOf(e: Expression): Option[String] = e match {
      // col("key")("part") / col("key.part")
      case UnresolvedExtractValue(a: UnresolvedAttribute, Literal(f, StringType))
          if a.nameParts.mkString(".").equalsIgnoreCase(keyCol) =>
        Some(f.toString.toLowerCase)
      case a: UnresolvedAttribute if a.nameParts.length == 2 &&
          a.nameParts.head.equalsIgnoreCase(keyCol) =>
        Some(a.nameParts(1).toLowerCase)
      case _ => None
    }
    // ONLY string literals participate: parts are stored as raw strings, so
    // a typed literal (e.g. === 1L against a zero-padded part) must NOT
    // prune — it falls through to the residual re-check over a full scan,
    // which stays correct where a raw-string prefix range would silently
    // drop every matching file
    def litStr(e: Expression): Option[String] = e match {
      case Literal(v: String, StringType) => Some(v)
      case Literal(u: UTF8String, StringType) => Some(u.toString)
      case _ => None
    }
    var eq = Map.empty[String, String]
    def walk(e: Expression): Unit = e match {
      case And(l, r) => walk(l); walk(r)
      case EqualTo(a, b) =>
        (fieldOf(a), litStr(b), fieldOf(b), litStr(a)) match {
          case (Some(f), Some(v), _, _) => eq += (f -> v)
          case (_, _, Some(f), Some(v)) => eq += (f -> v)
          case _ => ()
        }
      case f: UnresolvedFunction if f.nameParts.length == 1 =>
        (f.nameParts.head.toLowerCase, f.arguments.toList) match {
          case ("and", l :: r :: Nil) => walk(l); walk(r)
          case ("=" | "==" | "equal_to", a :: b :: Nil) =>
            (fieldOf(a), litStr(b), fieldOf(b), litStr(a)) match {
              case (Some(fd), Some(v), _, _) => eq += (fd -> v)
              case (_, _, Some(fd), Some(v)) => eq += (fd -> v)
              case _ => ()
            }
          case _ => ()
        }
      case _ => ()
    }
    walk(CB.converted(pred))
    val fieldsLower = keySchema.fields.toSeq.map(_.name.toLowerCase)
    val prefix = fieldsLower.takeWhile(eq.contains).map(eq)
    if (prefix.isEmpty) KeyFilter.full
    else if (prefix.length == keySchema.fields.length)
      KeyFilter.points(Seq(prefix.mkString(KEY_SEP.toString)))
    else {
      val p = prefix.mkString(KEY_SEP.toString)
      KeyFilter(None, Some((p + KEY_SEP, true)), Some((p + (KEY_SEP + 1).toChar, false)))
    }
  }

  /** Accumulo column-visibility expressions (`ColumnVisibility`): labels
    * combined with `&` (and) and `|` (or), parenthesized; `&` binds
    * tighter. An empty expression is visible to every scanner. */
  object VisibilityExpr {
    sealed trait Node
    private case class Label(name: String) extends Node
    private case class AndN(ns: Seq[Node]) extends Node
    private case class OrN(ns: Seq[Node]) extends Node

    def parse(s: String): Node = {
      val (n, rest) = parseOr(s.replaceAll("\\s+", ""), 0)
      require(rest == s.replaceAll("\\s+", "").length,
        s"bad visibility expression '$s' (trailing input at $rest)")
      n
    }

    private def parseOr(s: String, at: Int): (Node, Int) = {
      var (n, p) = parseAnd(s, at)
      val ns = Seq.newBuilder[Node]; ns += n
      while (p < s.length && s.charAt(p) == '|') {
        val (m, p2) = parseAnd(s, p + 1); ns += m; p = p2
      }
      val all = ns.result()
      (if (all.length == 1) all.head else OrN(all), p)
    }
    private def parseAnd(s: String, at: Int): (Node, Int) = {
      var (n, p) = parseFactor(s, at)
      val ns = Seq.newBuilder[Node]; ns += n
      while (p < s.length && s.charAt(p) == '&') {
        val (m, p2) = parseFactor(s, p + 1); ns += m; p = p2
      }
      val all = ns.result()
      (if (all.length == 1) all.head else AndN(all), p)
    }
    private def parseFactor(s: String, at: Int): (Node, Int) = {
      require(at < s.length, s"bad visibility expression '$s' (ends early)")
      if (s.charAt(at) == '(') {
        val (n, p) = parseOr(s, at + 1)
        require(p < s.length && s.charAt(p) == ')',
          s"bad visibility expression '$s' (unclosed paren)")
        (n, p + 1)
      } else {
        var p = at
        while (p < s.length && (s.charAt(p).isLetterOrDigit ||
          "._:-".contains(s.charAt(p)))) p += 1
        require(p > at, s"bad visibility expression '$s' (empty label at $at)")
        (Label(s.substring(at, p)), p)
      }
    }

    private def eval(n: Node, auths: Set[String]): Boolean = n match {
      case Label(l) => auths.contains(l)
      case AndN(ns) => ns.forall(eval(_, auths))
      case OrN(ns) => ns.exists(eval(_, auths))
    }

    /** Is a cell labeled `expr` visible to a scanner holding `auths`? */
    def visible(expr: String, auths: Set[String]): Boolean =
      expr.isEmpty || eval(parse(expr), auths)
  }
}
