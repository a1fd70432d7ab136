package graft.operators

import java.util.UUID

import scala.collection.immutable.SortedMap
import scala.util.{Success, Try}

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, JoinedRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{StructField, StructType}

/** Merge-on-read DML under **concurrent writers** — the engine's one ACID
  * table format, which SQL DML, the DML queries and streaming ingest
  * ([[graft.streaming.StreamOps.replayIntoTxn]]) all commit into: an
  * optimistic transaction log giving snapshot-isolated reads and
  * first-committer-wins writes.
  *
  * The reference serializes writers through the metastore's transaction
  * manager: `metastore/.../txn/TxnHandler.java:104` hands out write ids from
  * a SQL-backed sequence and `ql/.../io/AcidUtils.java:226` has every reader
  * filter delta directories by the committed-transaction list — the
  * directory listing alone is never trusted. The same split — an authority
  * for "what is committed" separate from the data files — is how the
  * open-source lakehouse formats do multi-writer ACID without a lock server
  * (Delta Lake's `_delta_log` of atomically-created ordinal entries,
  * VLDB 2020; Apache Iceberg's snapshot pointer), and that is the shape
  * re-expressed here, because on a 1000-executor cluster an embedded
  * metastore does not exist and a log of atomic file creations does.
  *
  * Layout:
  * {{{
  *   root/_txnlog/00000000000000000007.json   one atomically-renamed entry
  *                                            per committed version
  *   root/_txnlog/00000000000000000016.ckpt   checkpoint: reconciled state
  *                                            at version 16 (see below)
  *   root/base_<uuid>/                        full rows + __row_id
  *   root/delta_<uuid>/{insert,delete}/       uncommitted until a log entry
  *                                            references the dir
  * }}}
  *
  * A write stages its rows with one bounded action ([[stage]]): a stage
  * of at most [[Stores.ID_CAP]] rows — every OLTP-sized statement — is
  * one driver-written parquet file per half (`insert/part-00000.parquet`,
  * `delete/part-00000.parquet`), the form a Spark write of the same frame
  * has; in a larger stage the rows the action handed over are that file
  * and Spark writes the rest as its part files beside it.
  *
  * A snapshot is read the way the reference's ACID reader merges a base
  * and its deltas into one record stream: ONE parquet scan over the base
  * files and the files of every live `insert/` half at the declared
  * schema, less the rows the live `delete/` halves kill. While those
  * halves hold at most [[Stores.ID_CAP]] rows — every OLTP-sized history
  * — their rids are in hand on the driver, as Hive 2.2's
  * `VectorizedOrcAcidRowBatchReader` loads a split's delete events into
  * an in-memory registry instead of merge-reading them: [[stage]]
  * records the rids of the delete half it writes, and a half not in hand
  * (a fresh JVM, a Spark-written stage) is read on the driver, bounded by
  * its footers' row counts. The scan is then filtered by one named
  * predicate over a broadcast of those rids; the read is one scan and
  * spends no job on the deletes. Above the cap the scan is left-anti
  * joined on `__row_id` against ONE scan of every live `delete/` half
  * pruned to the id. A dir's files are listed once and memoized (uuid
  * dirs never change), so building a read lists nothing and runs no job
  * however many delta dirs are live.
  *
  * Surface (one lakehouse table in ~15 calls):
  * {{{
  *   create / read / readAt(v) / currentVersion      snapshots + time travel
  *   changesBetween(from, to)                        CDC, O(changes in range)
  *   insert / insertBatch(key, rows)                 append; exactly-once form
  *   update / delete / merge                         row-grain optimistic DML
  *   compact / compactMinor                          MAJOR (O(table)) / MINOR
  *                                                   (O(deltas)) folds
  *   vacuum(retainVersions, pruneLog)                the only place data dies
  *   addColumns / restore(v)                         metadata-only schema
  *                                                   evolution + rollback
  *   checkpoint                                      explicit metadata fold
  *   readPruned(bands) / analyze / scanProfile       file-level data
  *                                                   skipping ([[DataSkipping]])
  * }}}
  *
  * Data directories are uuid-named, so concurrent writers never contend on
  * a path; a directory not referenced by the log is invisible garbage, never
  * data. COMMIT is write-temp-then-atomic-rename: the entry body is fully
  * written to `_txnlog/.tmp_<uuid>` and then renamed (no-overwrite) onto the
  * next ordinal — exactly one of N racing writers wins the name, and a
  * visible entry file is ALWAYS complete, so a writer that dies mid-commit
  * leaves only an invisible temp file and can never burn an ordinal (the
  * same discipline as Delta's HDFS LogStore, which puts a commit into the
  * log via temp-file + atomic rename). Rename-without-overwrite is atomic
  * on HDFS; on the local filesystem (where `rename` can clobber) commits
  * also serialize through a per-root JVM lock — exact for local[n] (one JVM
  * by definition), and the documented deployment contract everywhere else
  * is "the FS rename-without-overwrite must be atomic", the contract the
  * lakehouse log stores state.
  *
  * '''Checkpoints — O(tail) metadata, not O(all versions ever).''' Without
  * them, every read and every commit would re-open every entry file ever
  * committed, an unbounded driver-side cost at production commit rates. A
  * checkpoint file at version V (Delta's `_last_checkpoint` shape) stores
  * the RECONCILED state at V — base dir, live delta entries, burned batch
  * keys with their canonical versions, added columns — so a reader loads
  * one checkpoint plus the entries above it: the per-operation metadata
  * cost is O(entries since the last checkpoint), flat in the table's
  * age. One is written automatically every [[checkpointInterval]] commits
  * (by whichever writer lands the multiple — best-effort, a failed
  * checkpoint never fails the commit), and on demand via [[checkpoint]].
  * Checkpoint size is O(live state): live deltas are bounded by compaction
  * cadence; batch keys accrue one short line per ingested batch (the same
  * growth Delta carries for SetTransaction actions). Entry files below a
  * checkpoint stay on disk for time travel / CDC below it (the slow path
  * replays them) until [[vacuum]]`(pruneLog = true)` retires them, after
  * which history below the oldest checkpoint fails with a clear error.
  *
  * Isolation semantics (snapshot isolation, first committer wins):
  *  - Readers replay the log to a version and never look at directory
  *    listings, so a half-staged or abandoned write is unobservable and
  *    reads are repeatable for a pinned version.
  *  - INSERT appends rows that did not exist in any snapshot; it commutes
  *    with every concurrent action and commits without conflict checks.
  *  - UPDATE/DELETE read a snapshot, stage (delete-events, new-versions)
  *    from it, and at commit time abort-and-recompute only if a version
  *    committed above their snapshot deleted one of the SAME rows — the
  *    conflict grain is the row-id set, not the table: the log entry
  *    records a compact footprint summary of the staged delete (per-tag
  *    seq ranges), summaries that can't intersect clear without any data
  *    read, and only a possible overlap pays the exact delete-vs-delete
  *    semi-join (both sides pruned to the id column). Mutations with
  *    disjoint footprints — different partitions, different tenants, the
  *    normal state of a busy 100 TB table — therefore commit concurrently
  *    without recompute, mirroring the reference's partition-grain locks
  *    (`metastore/.../txn/TxnHandler.java` enqueueLockWithRetry) and
  *    Delta/Iceberg file-grain conflict detection, but exact to the row.
  *    A competing mutate whose delete dir was RETIRED by vacuum while our
  *    snapshot was pinned is treated as a conflict (recompute), never
  *    silently cleared: "no delete half was ever staged" (footprint `-`)
  *    is provably safe, "the log references a dir that is gone" is a stale
  *    snapshot, and clearing it would commit a lost update.
  *    Phantoms are permitted (a concurrent INSERT a mutation's predicate
  *    would have matched is not a conflict) — snapshot isolation, the same
  *    write-conflict contract as Delta's WriteSerializable default.
  *  - Compaction entries claim the folded version prefix; insert/mutate
  *    deltas committed while the compactor ran stay live on top of the new
  *    base. Two compactions (major or minor) must not fold concurrently —
  *    the loser's fold would re-apply rows the winner already folded — so
  *    a compactor aborts (returns false) when another compaction landed
  *    above its snapshot; the reference serializes compactions the same
  *    way through the Initiator's queue.
  *  - Data-dir GC is [[vacuum]]'s job, never the compactor's: superseded
  *    dirs survive until they fall out of the retention window, so pinned
  *    [[readAt]]/[[changesBetween]] snapshots keep working across
  *    compactions — the lakehouse retention contract.
  */
object TxnMergeOnRead {

  private val RID = "__row_id"
  private val LOG_DIR = "_txnlog"
  private val MAX_COMMIT_ATTEMPTS = 50

  /** Commits at multiples of this version interval write a checkpoint.
    * Tunable seam for specs (smaller interval = more boundary coverage);
    * production default keeps per-op metadata at ≤16 entry opens. */
  private[graft] var checkpointInterval: Long = 16L

  /** One committed version. `folds` is the version prefix a compaction
    * supersedes (0 for plain DML entries; the restore target for restore
    * entries). `fp` is a mutate entry's delete footprint summary:
    * `tag:minSeq:maxSeq` items joined by `;`, or `*` when the mutation
    * touched rows from more than [[FP_MAX_TAGS]] writer tags (then only the
    * exact rid check can clear it). Entries are tiny ([[Entry]] is a
    * fixed-width line, not a manifest): the row data lives in parquet, the
    * log only names directories — the property that keeps log replay cheap
    * no matter the table size. */
  private case class Entry(version: Long, action: String, dir: String,
      folds: Long, fp: String = "")

  private object Entry {
    // fixed field order, no JSON library needed (none is on the classpath)
    def render(e: Entry): String =
      s"""{"version":${e.version},"action":"${e.action}","dir":"${e.dir}","folds":${e.folds},"fp":"${e.fp}"}"""
    private val P =
      """\{"version":(\d+),"action":"(\w+)","dir":"([^"]*)","folds":(\d+),"fp":"([^"]*)"\}""".r
    // pre-round-10 logs used a 4-field form without "fp"; parse it with
    // fp = "" (which the conflict path treats conservatively — always
    // exact-checked) so old tables stay readable
    private val P4 =
      """\{"version":(\d+),"action":"(\w+)","dir":"([^"]*)","folds":(\d+)\}""".r
    def parse(s: String): Entry = s.trim match {
      case P(v, a, d, f, fp) => Entry(v.toLong, a, d, f.toLong, fp)
      case P4(v, a, d, f) => Entry(v.toLong, a, d, f.toLong, "")
      case other => throw new IllegalStateException(s"corrupt log entry: $other")
    }
  }

  /** Reconciled log state at `version`: everything a reader needs to
    * continue the replay from there without opening older entry files.
    * `batchCanon` maps each batch-insert fp (`b:<key>`) ever committed at
    * or below `version` — including restored-away ones (keys stay burned)
    * — to its canonical (lowest) version. */
  private case class Ckpt(version: Long, base: String,
      deltas: SortedMap[Long, Entry], batchCanon: Map[String, Long],
      cols: Vector[(String, String)],
      constraints: Vector[(String, String)] = Vector.empty)

  /** A loaded log: the latest usable checkpoint (if any) plus the entries
    * strictly above it, in version order. `floor` is the oldest version the
    * view can truncate to without re-reading pre-checkpoint entry files. */
  private case class View(ckpt: Option[Ckpt], tail: Seq[Entry]) {
    def floor: Long = ckpt.map(_.version).getOrElse(0L)
    def lastVersion: Long = tail.lastOption.map(_.version).getOrElse(floor)
  }

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def entryPath(root: String, version: Long): Path =
    new Path(s"$root/$LOG_DIR/" + f"$version%020d" + ".json")

  private def ckptPath(root: String, version: Long): Path =
    new Path(s"$root/$LOG_DIR/" + f"$version%020d" + ".ckpt")

  private def readBody(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** One listing of the log dir → (entry files, checkpoint files), each as
    * (version-from-filename, path), unsorted. Temp files are invisible. */
  private def listLog(f: FileSystem, root: String)
      : (Seq[(Long, Path)], Seq[(Long, Path)]) = {
    val dir = new Path(s"$root/$LOG_DIR")
    if (!f.exists(dir)) return (Seq.empty, Seq.empty)
    val all = f.listStatus(dir).toSeq.map(_.getPath)
    def ver(p: Path, suffix: String): Long =
      p.getName.stripSuffix(suffix).toLong
    (all.filter(_.getName.endsWith(".json")).map(p => (ver(p, ".json"), p)),
      all.filter(_.getName.endsWith(".ckpt")).map(p => (ver(p, ".ckpt"), p)))
  }

  /** Parse entry files (sorted by caller). Rename-committed entries are
    * always complete, so every visible file must parse — a failure is real
    * corruption, reported immediately. */
  private def readEntryFiles(f: FileSystem, files: Seq[(Long, Path)]): Seq[Entry] =
    files.sortBy(_._1).map { case (named, p) =>
      val e = Entry.parse(readBody(f, p))
      require(e.version == named, s"log entry $named declares version ${e.version}")
      e
    }

  // ---- checkpoint serialization (line-oriented, deterministic) ----------

  private def renderCkpt(c: Ckpt): String = {
    val sb = new StringBuilder
    sb.append("v=").append(c.version).append('\n')
    sb.append("base=").append(c.base).append('\n')
    c.deltas.values.foreach(e => sb.append("d=").append(Entry.render(e)).append('\n'))
    c.batchCanon.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb.append("b=").append(k).append(':').append(v).append('\n') }
    c.cols.foreach { case (n, t) =>
      sb.append("c=").append(n).append('=').append(t).append('\n') }
    c.constraints.foreach { case (n, e) =>
      sb.append("k=").append(n).append('=').append(e).append('\n') }
    sb.toString
  }

  private def parseCkpt(s: String): Ckpt = {
    var version = -1L
    var base: String = null
    var deltas = SortedMap.empty[Long, Entry]
    var batch = Map.empty[String, Long]
    var cols = Vector.empty[(String, String)]
    var constraints = Vector.empty[(String, String)]
    s.linesIterator.filter(_.nonEmpty).foreach { line =>
      val i = line.indexOf('=')
      require(i > 0, s"corrupt checkpoint line: $line")
      (line.substring(0, i), line.substring(i + 1)) match {
        case ("v", v) => version = v.toLong
        case ("base", b) => base = b
        case ("d", d) => val e = Entry.parse(d); deltas += (e.version -> e)
        case ("b", kv) =>
          val j = kv.lastIndexOf(':') // batch keys may themselves contain ':'
          batch += kv.substring(0, j) -> kv.substring(j + 1).toLong
        case ("c", nt) =>
          val j = nt.indexOf('=')
          cols :+= (nt.substring(0, j), nt.substring(j + 1))
        case ("k", ne) => // CHECK constraint: name=expr (name has no '=')
          val j = ne.indexOf('=')
          constraints :+= (ne.substring(0, j), ne.substring(j + 1))
        case _ => throw new IllegalStateException(s"corrupt checkpoint line: $line")
      }
    }
    require(version > 0 && base != null, "corrupt checkpoint: missing header")
    Ckpt(version, base, deltas, batch, cols, constraints)
  }

  // ---- view loading ------------------------------------------------------

  private def prunedError(root: String, oldest: Long): Nothing =
    throw new IllegalStateException(
      s"history of $root below version $oldest was pruned by vacuum; " +
      "time travel, CDC, and restore below the oldest checkpoint are unavailable")

  /** Full replay from entry files alone (the slow path for history below a
    * checkpoint). Fails with a clear error once vacuum has pruned them. */
  private def fullView(f: FileSystem, root: String): View = {
    val (entryFiles, ckptFiles) = listLog(f, root)
    val es = readEntryFiles(f, entryFiles)
    // pruned history: the entry chain no longer starts at version 1 — or
    // is gone entirely, with only checkpoints (and their tails) remaining
    if (es.headOption.exists(_.version != 1L) ||
        (es.isEmpty && ckptFiles.nonEmpty)) {
      val oldest = ckptFiles.map(_._1).sorted.headOption
        .orElse(es.headOption.map(_.version)).getOrElse(1L)
      prunedError(root, oldest)
    }
    View(None, es)
  }

  /** The newest checkpoint at or below `upTo` that parses. */
  private def latestCkpt(f: FileSystem, ckptFiles: Seq[(Long, Path)],
      upTo: Long): Option[Ckpt] =
    ckptFiles.filter(_._1 <= upTo).sortBy(-_._1).iterator
      .map { case (v, p) => Try(parseCkpt(readBody(f, p))).toOption
        .filter(_.version == v) }
      .collectFirst { case Some(c) => c }

  /** Latest usable checkpoint + tail — the O(entries since last checkpoint)
    * fast path every operation takes. A tail RESTORE to a version below the
    * checkpoint reads that version's state through [[truncateView]]. */
  private def readView(f: FileSystem, root: String): View = {
    val (entryFiles, ckptFiles) = listLog(f, root)
    latestCkpt(f, ckptFiles, Long.MaxValue) match {
      case None =>
        val es = readEntryFiles(f, entryFiles)
        if (es.nonEmpty && es.head.version != 1L)
          prunedError(root, es.head.version)
        View(None, es)
      case Some(c) =>
        View(Some(c), readEntryFiles(f, entryFiles.filter(_._1 > c.version)))
    }
  }

  /** The view truncated to versions ≤ v. Below the checkpoint floor this
    * is a full replay while the log still starts at version 1; once vacuum
    * has pruned it, a replay from the newest checkpoint at or below v
    * (clear error if there is none). */
  private def truncateView(f: FileSystem, root: String, view: View,
      v: Long): View =
    if (v >= view.floor) View(view.ckpt, view.tail.takeWhile(_.version <= v))
    else {
      val (entryFiles, ckptFiles) = listLog(f, root)
      if (entryFiles.exists(_._1 == 1L))
        View(None, readEntryFiles(f, entryFiles.filter(_._1 <= v)))
      else latestCkpt(f, ckptFiles, v) match {
        case Some(c) => View(Some(c), readEntryFiles(f,
          entryFiles.filter { case (n, _) => n > c.version && n <= v }))
        case None => prunedError(root, ckptFiles.map(_._1).sorted.headOption
          .orElse(entryFiles.map(_._1).sorted.headOption).getOrElse(1L))
      }
    }

  /** Head version from file NAMES alone — no file opens. */
  private def lastVersionOnDisk(f: FileSystem, root: String): Long = {
    val (entryFiles, ckptFiles) = listLog(f, root)
    (entryFiles.map(_._1) ++ ckptFiles.map(_._1)).foldLeft(0L)(math.max)
  }

  /** Entries strictly above version v, opened by name filter — the conflict
    * scan's working set (small: only what landed since our snapshot). */
  private def entriesAbove(f: FileSystem, root: String, v: Long): Seq[Entry] =
    readEntryFiles(f, listLog(f, root)._1.filter(_._1 > v))

  /** The live state at a view: current base dir plus committed delta dirs in
    * version order. Replay is a pure fold over checkpoint state + tail.
    *
    * Batch-keyed inserts dedup FIRST-WINS here: two [[insertBatch]] calls
    * racing the same key can both slip past the committed-check and both
    * win an ordinal (check-then-act is not atomic across writers); the
    * log cannot retract an entry, so the READER is the authority — only
    * the lowest-versioned entry per batch key counts, later ones are
    * invisible garbage vacuum may retire. Deterministic at every prefix,
    * so time travel and folds agree. */
  private def liveStateV(f: FileSystem, root: String,
      view: View): (String, SortedMap[Long, Entry]) = {
    var base: String = view.ckpt.map(_.base).orNull
    var deltas = view.ckpt.map(_.deltas).getOrElse(SortedMap.empty[Long, Entry])
    var seenBatch: Set[String] =
      view.ckpt.map(_.batchCanon.keySet).getOrElse(Set.empty)
    // restore targets at or above the floor are states this forward pass
    // has ALREADY folded (versions are contiguous ordinals) — memoize each
    // post-entry state so a restore (or chain of restores) is an O(1)
    // lookup, not a refold of its prefix (which would go exponential on a
    // restore-heavy tail)
    val at = scala.collection.mutable.Map.empty[Long, (String, SortedMap[Long, Entry])]
    view.tail.foreach { e =>
      e.action match {
        case "create" => base = e.dir; deltas = SortedMap.empty
        case "insert" if e.fp.startsWith("b:") =>
          if (!seenBatch(e.fp)) {
            seenBatch += e.fp
            deltas += (e.version -> e)
          }
        case "insert" | "mutate" => deltas += (e.version -> e)
        case "compact" =>
          base = e.dir
          deltas = deltas.rangeFrom(e.folds + 1)
        case "minor" => // folds deltas ≤ folds into one delta, base untouched
          deltas = deltas.rangeFrom(e.folds + 1) + (e.version -> e)
        case "schema" => () // metadata-only: handled by addedCols/snapshotAt
        case "constraint" => () // metadata-only: handled by constraintsV
        case "restore" => // head becomes the state at version `folds`
          val (b, d) =
            if (e.folds == view.floor && view.ckpt.isDefined)
              (view.ckpt.get.base, view.ckpt.get.deltas)
            else at.getOrElse(e.folds,
              liveStateV(f, root, truncateView(f, root, view, e.folds)))
          base = b; deltas = d
      }
      at(e.version) = (base, deltas)
    }
    require(base != null, s"table at $root has no create entry")
    (base, deltas)
  }

  /** Canonical (lowest) version per batch-insert fp across the whole view —
    * checkpoint keys win over tail re-occurrences by construction. */
  private def batchCanonOf(view: View): Map[String, Long] = {
    val tailMap = view.tail
      .filter(e => e.action == "insert" && e.fp.startsWith("b:"))
      .groupBy(_.fp).map { case (k, es) => k -> es.map(_.version).min }
    tailMap ++ view.ckpt.map(_.batchCanon).getOrElse(Map.empty)
  }

  /** Columns ADDED by schema entries in the view (`ALTER TABLE ADD
    * COLUMNS` re-expression): `(name, typeDDL)` in declaration order. A
    * restore rolls the schema back with the data (columns added between
    * the target and the restore vanish from the head). */
  private def addedColsV(f: FileSystem, root: String,
      view: View): Vector[(String, String)] = {
    var acc = view.ckpt.map(_.cols).getOrElse(Vector.empty)
    val at = scala.collection.mutable.Map.empty[Long, Vector[(String, String)]]
    view.tail.foreach { e =>
      e.action match {
        // "schema" = ALTER TABLE ADD COLUMNS; an "insert" whose fp carries
        // a "c:" marker is a mergeSchema INSERT — data and schema in ONE
        // atomic entry. The lowercase-dedup makes two racing mergeSchema
        // writers adding the same column converge (first declaration wins,
        // including its type) instead of doubling the projection.
        case a if a == "schema" ||
            (a == "insert" && e.fp.startsWith("c:")) =>
          val have = scala.collection.mutable.Set(acc.map(_._1.toLowerCase): _*)
          e.fp.stripPrefix("c:").split(";").filter(_.nonEmpty).foreach { it =>
            val Array(n, t) = it.split("=", 2)
            if (have.add(n.toLowerCase)) acc :+= ((n, t))
          }
        case "restore" =>
          acc =
            if (e.folds == view.floor && view.ckpt.isDefined) view.ckpt.get.cols
            else at.getOrElse(e.folds,
              addedColsV(f, root, truncateView(f, root, view, e.folds)))
        case _ => ()
      }
      at(e.version) = acc
    }
    acc
  }

  /** CHECK constraints in force at the view's head: `(name, sqlExpr)`
    * in declaration order — the fold mirrors [[addedColsV]] (checkpoint
    * seed, add/drop entries, restore recursion: rolling below a
    * constraint's version REMOVES it, metadata and data revert
    * together). */
  private def constraintsV(f: FileSystem, root: String,
      view: View): Vector[(String, String)] = {
    val b64 = java.util.Base64.getUrlDecoder
    var acc = view.ckpt.map(_.constraints).getOrElse(Vector.empty)
    val at = scala.collection.mutable.Map.empty[Long, Vector[(String, String)]]
    view.tail.foreach { e =>
      e.action match {
        case "constraint" =>
          val body = e.fp.stripPrefix("k:")
          if (body.startsWith("-")) acc = acc.filterNot(_._1 == body.drop(1))
          else {
            val Array(n, enc) = body.stripPrefix("+").split("=", 2)
            acc :+= (n, new String(b64.decode(enc), "UTF-8"))
          }
        case "restore" =>
          acc =
            if (e.folds == view.floor && view.ckpt.isDefined)
              view.ckpt.get.constraints
            else at.getOrElse(e.folds,
              constraintsV(f, root, truncateView(f, root, view, e.folds)))
        case _ => ()
      }
      at(e.version) = acc
    }
    acc
  }

  /** Fail iff `rows` violates any constraint in force — SQL semantics: a
    * CHECK passes on TRUE **or NULL**, violates only on FALSE — over the
    * STAGED rows only (never the table); all violated names are reported
    * together. Rows in hand (`local`: a [[LocalRelation]]) are checked by
    * a projection the optimizer folds into the relation, so no job runs;
    * otherwise one aggregate job counts every constraint at once. */
  private def enforceConstraints(rows: DataFrame,
      constraints: Seq[(String, String)], op: String, root: String,
      local: Boolean): Unit = {
    if (constraints.isEmpty) return
    val bad = rows.select(constraints.map { case (n, c) =>
      when(!coalesce(expr(c), lit(true)), 1L).otherwise(0L).as(n) }: _*)
    val counts: Seq[Long] =
      if (local) {
        val rs = bad.collect()
        constraints.indices.map(i => rs.iterator.map(_.getLong(i)).sum)
      } else {
        val r = bad.agg(sum(bad.columns.head), bad.columns.tail.map(sum): _*)
          .head()
        constraints.indices.map(r.getLong)
      }
    val violated = constraints.indices.filter(counts(_) > 0)
      .map(i => s"${constraints(i)._1} CHECK (${constraints(i)._2}): " +
        s"${counts(i)} row(s)")
    if (violated.nonEmpty) throw new IllegalArgumentException(
      s"$op on $root violates constraint(s) ${violated.mkString("; ")}")
  }

  // ---- generated columns (Delta GENERATED ALWAYS AS) -------------------
  //
  // A generated column is stored as TWO pieces of existing, checkpoint- and
  // restore-proof metadata: its materialized data (an ordinary column,
  // computed at write time — so file-level min/max data skipping applies,
  // the Delta partition-pruning pairing) and a RESERVED CHECK constraint
  // `__gen_<col>` whose expression is `<col> <=> (<defining expr>)`. The
  // constraint is the enforcement net (a writer that SUPPLIES the column
  // with inconsistent values fails loudly, Delta's behavior) and the
  // defining expression is recovered from it when a write path must
  // COMPUTE the column (INSERT/batch-insert omitting it; UPDATE/MERGE
  // recomputing it after SET). Riding the constraint machinery means
  // checkpoints seed declarations past pruned logs and a RESTORE below the
  // declaration removes data and metadata together — for free.

  private val GEN = "__gen_"

  /** Parse generated-column declarations out of the constraint set. */
  private def gensFrom(constraints: Seq[(String, String)]): Seq[(String, String)] =
    constraints.collect { case (n, e) if n.startsWith(GEN) =>
      val c = n.substring(GEN.length)
      val pre = s"$c <=> ("
      require(e.startsWith(pre) && e.endsWith(")"),
        s"corrupt generated-column constraint $n: $e")
      c -> e.substring(pre.length, e.length - 1)
    }

  /** Generated columns in force at the current head: (name, definingExpr). */
  def generatedColsOf(spark: SparkSession, root: String): Seq[(String, String)] =
    gensFrom(constraintsOf(spark, root))

  /** `rows` with every DECLARED generated column the writer did NOT supply
    * computed from its defining expression; supplied values pass through
    * and are verified by the reserved CHECK instead. */
  private def applyGens(rows: DataFrame, gens: Seq[(String, String)]): DataFrame = {
    val have = rows.columns.map(_.toLowerCase).toSet
    gens.filterNot { case (n, _) => have(n.toLowerCase) }
      .foldLeft(rows) { case (d, (n, e)) => d.withColumn(n, expr(e)) }
  }

  /** Best-effort checkpoint at `version` when it lands on the interval —
    * derived purely from metadata (no Spark jobs), never fails the commit. */
  private def maybeCheckpoint(f: FileSystem, root: String, version: Long): Unit =
    if (checkpointInterval > 0 && version % checkpointInterval == 0)
      Try(writeCheckpointAt(f, root, version))

  private def writeCheckpointAt(f: FileSystem, root: String,
      version: Long): Unit = {
    val view = truncateView(f, root, readView(f, root), version)
    val (b, d) = liveStateV(f, root, view)
    // content at a version is deterministic, so two writers racing the
    // same checkpoint are idempotent and the loser's false is ignored
    Stores.commitOnce(f, ckptPath(root, version), renderCkpt(
      Ckpt(version, b, d, batchCanonOf(view), addedColsV(f, root, view),
        constraintsV(f, root, view))))
  }

  /** Explicitly checkpoint the current head (vacuum and tooling hook; the
    * per-[[checkpointInterval]] automatic one usually suffices). */
  def checkpoint(spark: SparkSession, root: String): Unit = {
    val f = fs(spark, root)
    val v = lastVersionOnDisk(f, root)
    if (v > 0) writeCheckpointAt(f, root, v)
  }

  /** Commit timestamps per surviving version — the entry FILE's
    * modification time, monotonized by a running max exactly as Delta
    * adjusts its commit timestamps (a clock-skewed or retried commit must
    * not make time travel non-monotonic in version). */
  def commitTimestamps(spark: SparkSession, root: String): Seq[(Long, Long)] = {
    val f = fs(spark, root)
    val (entryFiles, _) = listLog(f, root)
    var last = 0L
    entryFiles.sortBy(_._1).map { case (v, p) =>
      last = math.max(f.getFileStatus(p).getModificationTime, last)
      (v, last)
    }
  }

  /** The newest version whose (monotonized) commit timestamp is ≤
    * `epochMs` — Delta's `TIMESTAMP AS OF` resolution. A timestamp before
    * the earliest SURVIVING entry fails loudly (that history was never
    * committed, or vacuum pruned it). */
  def versionAtTime(spark: SparkSession, root: String, epochMs: Long): Long = {
    val ts = commitTimestamps(spark, root)
    require(ts.nonEmpty, s"no committed log entries at $root")
    val ok = ts.takeWhile(_._2 <= epochMs)
    if (ok.isEmpty) throw new IllegalArgumentException(
      s"timestamp $epochMs ms precedes the earliest available version " +
      s"${ts.head._1} (committed ${ts.head._2} ms) of $root — that history " +
      "was never committed, or was pruned by vacuum")
    ok.last._1
  }

  /** [[readAt]] resolved by wall clock instead of version. */
  def readAtTime(spark: SparkSession, root: String, epochMs: Long): DataFrame =
    readAt(spark, root, versionAtTime(spark, root, epochMs))

  /** The commit history as a DataFrame (Delta's DESCRIBE HISTORY shape):
    * one row per SURVIVING log entry — version, action, the dir it
    * references, the prefix a fold claims (or a restore's target), the
    * footprint/batch-key slot, and the (monotonized) commit timestamp.
    * After `vacuum(pruneLog = true)` the pruned prefix is summarized by
    * its checkpoint's version instead of per-entry rows (the entries no
    * longer exist — that is the point). */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, root)
    val (entryFiles, ckptFiles) = listLog(f, root)
    val tsOf = commitTimestamps(spark, root).toMap
    val entries = readEntryFiles(f, entryFiles).map(e =>
      (e.version, e.action, e.dir, e.folds, e.fp, tsOf.getOrElse(e.version, 0L)))
    val ckpts = ckptFiles.sortBy(_._1).map { case (v, p) =>
      (v, "checkpoint", f"$v%020d.ckpt", 0L, "",
        f.getFileStatus(p).getModificationTime)
    }
    (entries ++ ckpts).sortBy(r => (r._1, r._2))
      .toDF("version", "action", "dir", "folds", "detail", "ts")
  }

  /** One-row table metadata summary (Delta `DESCRIBE DETAIL`): location,
    * head version, latest usable checkpoint (−1 = none), live
    * insert-bearing dir/file/byte counts at the head snapshot, enforced
    * CHECK-constraint count, and the declared generated columns —
    * metadata and file listings only, no Spark job. The capacity-planning
    * twin of [[history]]: numbers a compaction/vacuum policy reads
    * (many small live files → compact; dirs ≫ checkpoint interval →
    * raise cadence). */
  def detail(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, root)
    val view = readView(f, root)
    val (base, deltas) = liveStateV(f, root, view)
    val dirs = insertDirs(f, root, base, deltas)
    val files = dirs.flatMap(_._2)
    val cons = constraintsV(f, root, view)
    val gens = gensFrom(cons)
    Seq((root, view.lastVersion, view.ckpt.map(_.version).getOrElse(-1L),
      dirs.size.toLong, files.size.toLong, files.map(_.getLen).sum,
      (cons.size - gens.size).toLong, gens.map(_._1).mkString(",")))
      .toDF("location", "version", "checkpoint_version", "num_live_dirs",
        "num_files", "size_bytes", "num_constraints", "generated_columns")
  }

  /** Test seam: widens [[insertBatch]]'s check-to-commit window so a spec
    * can deterministically manufacture the same-key double-commit the
    * reader-side first-wins dedup neutralizes. No-op in production. */
  private[graft] var pauseBeforeBatchCommit: () => Unit = () => ()

  /** Test seam: invoked after a mutation pins its snapshot version and
    * before it computes/stages, so a spec can deterministically order
    * "writer B's snapshot predates writer A's commit" by parking B's
    * DRIVER thread here (a blocking in-plan UDF would occupy task slots
    * and starve the other writer's jobs). No-op in production. */
  private[graft] var pauseAfterSnapshot: () => Unit = () => ()

  /** Test seam: invoked after [[insert]] stages its data dir and before
    * its first commit attempt, so a spec can deterministically land a
    * RACING mergeSchema insert in between — the only window where the
    * diverged-type retry (winning-type re-stage + lossy-narrowing abort)
    * is reachable. No-op in production. */
  private[graft] var pauseAfterInsertStage: () => Unit = () => ()

  /** Try to commit `e` at exactly version `e.version` ([[Stores.commitOnce]]:
    * temp write + no-overwrite rename). True iff this writer won that
    * ordinal. A visible entry is always complete, never a claimed-but-empty
    * ordinal, so co-writers can never livelock on a dead writer's commit. */
  private def tryCommit(f: FileSystem, root: String, e: Entry): Boolean = {
    val won = Stores.commitOnce(f, entryPath(root, e.version), Entry.render(e))
    if (won) maybeCheckpoint(f, root, e.version)
    won
  }

  private def withRid(df: DataFrame, txn: Long): DataFrame =
    df.withColumn(RID, struct(lit(txn).as("txn"),
      monotonically_increasing_id().as("seq")))

  /** Every row of `df` as a new row ([[BORN]]) of a [[stage]]. */
  private def asBorn(df: DataFrame): DataFrame =
    df.select(struct(df.columns.map(col): _*).as(BORN))

  /** Every row of `df` as a delete event ([[DEAD]]) of a [[stage]]. */
  private def asDead(df: DataFrame): DataFrame =
    df.select(struct(df.columns.map(col): _*).as(DEAD))

  /** Create the table: base data + log entry 1. Not concurrency-safe against
    * itself (two creates of the same table is a caller bug, reported). */
  def create(spark: SparkSession, root: String, df: DataFrame): Unit = {
    val f = fs(spark, root)
    f.delete(new Path(root), true)
    MetaCache.purge(root)
    val dir = s"base_${UUID.randomUUID().toString.take(12)}"
    withRid(df, 1L).write.parquet(s"$root/$dir")
    DataSkipping.collect(spark, s"$root/$dir")
    require(tryCommit(f, root, Entry(1L, "create", dir, 0L)),
      s"concurrent create of $root")
  }

  /** CREATE with generated columns (Delta `GENERATED ALWAYS AS`; declared
    * at create time only, as in Delta). Each `(name, sqlExpr)` column is
    * materialized from the DATA columns of `df` — an expression may also
    * reference a generated column declared EARLIER in `gens` (resolved as
    * a lateral column alias at create; every write path re-applies the
    * expressions in declaration order, so chained definitions stay
    * consistent, while a forward reference fails analysis here) — then
    * declared via the reserved `__gen_` CHECK (see the generated-columns
    * comment block). From then on every write path
    * computes the column when the writer omits it and VERIFIES it when
    * supplied; UPDATE/MERGE recompute it after SET, and SET-ting it
    * directly is rejected. Because the values are materialized, file
    * stats collected by create/compact/analyze make band predicates on
    * the generated column prune files — the `date GENERATED ALWAYS AS
    * (CAST(ts AS DATE))` partition-pruning idiom without a partition
    * layout. */
  def createGenerated(spark: SparkSession, root: String, df: DataFrame,
      gens: Seq[(String, String)]): Unit = {
    require(gens.nonEmpty, "createGenerated needs at least one generated column")
    require(gens.map(_._1.toLowerCase).distinct.size == gens.size,
      "duplicate generated column name")
    val base = df.columns.map(_.toLowerCase).toSet
    gens.foreach { case (n, e) =>
      require(n.matches("[A-Za-z_][A-Za-z0-9_]*"), s"bad generated column name '$n'")
      require(!base(n.toLowerCase),
        s"generated column '$n' collides with a data column")
      require(e.nonEmpty && !e.contains("\n"), s"bad generated expression '$e'")
    }
    // one projection: earlier gens are visible to later ones as lateral
    // column aliases; a FORWARD reference fails analysis here
    val mat = df.select(df.columns.map(col) ++
      gens.map { case (n, e) => expr(e).as(n) }: _*)
    create(spark, root, mat)
    gens.foreach { case (n, e) =>
      addConstraintImpl(spark, root, s"$GEN$n", s"$n <=> ($e)") }
  }

  /** The data files of one data dir by half — `insert` and `delete` for a
    * delta, `""` for a base — from one listing per dir, memoized in
    * [[MetaCache]]: data dirs are uuid-named and never change once
    * written ([[stage]] records its own), so a read lists no dir an
    * earlier read or stage listed, and a half missing from the map was
    * never staged — no `exists` probe either. [[vacuum]]'s purge drops
    * the entries with the dirs. */
  private def filesOf(f: FileSystem, root: String,
      dir: String): Map[String, Seq[FileStatus]] =
    MetaCache.memo(s"$root/$dir", "files") {
      def data(p: Path): Seq[FileStatus] = f.listStatus(p).toSeq.filterNot { st =>
        val n = st.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
      val (halves, files) = data(new Path(s"$root/$dir")).partition(_.isDirectory)
      halves.map(h => h.getPath.getName -> data(h.getPath).filter(_.isFile))
        .toMap + ("" -> files)
    }

  /** One parquet scan over `files` at `schema`; a column a file lacks
    * reads NULL. The file index is the list itself, so building the
    * relation lists nothing, probes no path and runs no job however many
    * dirs the files come from (a path-based read lists each root and, past
    * Spark's parallel-discovery threshold, does so in a job). */
  private def scan(spark: SparkSession, files: Seq[FileStatus],
      schema: StructType): DataFrame = {
    val index = new FileIndex {
      def rootPaths: Seq[Path] = files.map(_.getPath.getParent).distinct
      def listFiles(partitionFilters: Seq[Expression],
          dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
        Seq(PartitionDirectory(InternalRow.empty, files.toArray))
      def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
      def refresh(): Unit = ()
      def sizeInBytes: Long = files.map(_.getLen).sum
      def partitionSchema: StructType = new StructType()
    }
    spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(),
      ColumnBridge.asNullable(schema), None, new ParquetFileFormat,
      Map.empty)(spark))
  }

  /** Every file of half `half` across `dirs`, in ONE scan at `schema`;
    * None when no dir holds that half. */
  private def scanHalf(spark: SparkSession, f: FileSystem, root: String,
      dirs: Seq[String], half: String, schema: StructType): Option[DataFrame] =
    Some(dirs.flatMap(d => filesOf(f, root, d).getOrElse(half, Nil)))
      .filter(_.nonEmpty).map(scan(spark, _, schema))

  /** The insert-bearing dirs of a live state — the base and every live
    * insert half — with their data files. */
  private def insertDirs(f: FileSystem, root: String, base: String,
      deltas: SortedMap[Long, Entry]): Seq[(String, Seq[FileStatus])] =
    (s"$root/$base" -> filesOf(f, root, base)("")) +:
      deltas.values.toSeq.flatMap(e => filesOf(f, root, e.dir).get("insert")
        .map(s"$root/${e.dir}/insert" -> _))

  /** The schema every scan of a view reads at: the base-dir footer schema
    * (one CACHED footer read) plus `ALTER TABLE ADD COLUMNS` metadata, in
    * snapshot column order, row id last. Stages cast their rows to it, so
    * one read schema serves every file of the view. */
  private def schemaAtV(spark: SparkSession, f: FileSystem, root: String,
      view: View): StructType = {
    val (base, _) = liveStateV(f, root, view)
    val baseSchema = MetaCache.get(spark, s"$root/$base").schema
    val added = addedColsV(f, root, view)
      .filterNot { case (n, _) => baseSchema.fieldNames.contains(n) }
    StructType(baseSchema.fields.filter(_.name != RID).toSeq ++
      added.map { case (n, t) => StructField(n,
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(t)) } :+
      baseSchema(RID))
  }

  /** `df` less the rows whose id `minus` holds (left-anti on the id). */
  private def antiRid(df: DataFrame, minus: Option[DataFrame]): DataFrame =
    minus.fold(df)(m => df.join(m.select(col(RID)), Seq(RID), "left_anti"))

  /** Dead row ids by writer tag: `tags` sorted, `seqs(i)` the sorted seqs
    * of `tags(i)`, so a lookup is two binary searches on primitives. */
  private final class DeadRids(val tags: Array[Long],
      val seqs: Array[Array[Long]]) extends Serializable {
    def has(txn: Long, seq: Long): Boolean = {
      val i = java.util.Arrays.binarySearch(tags, txn)
      i >= 0 && java.util.Arrays.binarySearch(seqs(i), seq) >= 0
    }
  }

  private object DeadRids {
    def of(rids: Seq[(Long, Long)]): DeadRids = {
      val byTag = rids.groupMap(_._1)(_._2).toArray.sortBy(_._1)
      new DeadRids(byTag.map(_._1), byTag.map(_._2.toArray.sorted))
    }
    def union(sets: Seq[DeadRids]): DeadRids =
      if (sets.size == 1) sets.head
      else {
        val byTag = sets.flatMap(s => s.tags.zip(s.seqs))
          .groupMapReduce(_._1)(_._2)(_ ++ _).toArray.sortBy(_._1)
        new DeadRids(byTag.map(_._1), byTag.map(_._2.sorted))
      }
  }

  /** The name the snapshot's rid filter carries in a plan. */
  private[graft] val LIVE_RID = "txn_live_rid"

  /** The row count of a delete half, from its footers on the driver;
    * memoized beside its rids ([[stage]] records both). */
  private def deadRows(spark: SparkSession, half: String,
      files: Seq[FileStatus]): Long =
    MetaCache.memo[java.lang.Long](half, "rows") {
      val conf = spark.sparkContext.hadoopConfiguration
      Long.box(files.map { st =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try r.getRecordCount finally r.close()
      }.sum)
    }.longValue

  /** The rids of a delete half, read on the driver from its files'
    * `__row_id` column (no Spark job); memoized — a delete half never
    * changes once written. */
  private def deadRids(spark: SparkSession, half: String,
      files: Seq[FileStatus]): DeadRids =
    MetaCache.memo(half, "rids") {
      val conf = spark.sparkContext.hadoopConfiguration
      val rids = Seq.newBuilder[(Long, Long)]
      files.foreach { st =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try {
          val onDisk = r.getFooter.getFileMetaData.getSchema
          val proj = new MessageType(onDisk.getName, onDisk.getType(onDisk.getFieldIndex(RID)))
          r.setRequestedSchema(proj)
          val io = new ColumnIOFactory().getColumnIO(proj, onDisk)
          var pages = r.readNextRowGroup()
          while (pages != null) {
            val rr = io.getRecordReader(pages, new GroupRecordConverter(proj))
            var i = 0L
            while (i < pages.getRowCount) {
              val rid = rr.read().getGroup(RID, 0)
              rids += ((rid.getLong("txn", 0), rid.getLong("seq", 0)))
              i += 1
            }
            pages = r.readNextRowGroup()
          }
        } finally r.close()
      }
      DeadRids.of(rids.result())
    }

  /** Every rid the delete halves of `dirs` hold, in hand on the driver,
    * when their footers' row counts sum to at most [[Stores.ID_CAP]]; None
    * above it, where no half's rids are read. */
  private def deadRidsOf(spark: SparkSession, f: FileSystem, root: String,
      dirs: Seq[String]): Option[DeadRids] = {
    val halves = dirs.flatMap(d =>
      filesOf(f, root, d).get("delete").map(s"$root/$d/delete" -> _))
    if (halves.map { case (h, files) => deadRows(spark, h, files) }.sum >
        Stores.ID_CAP) None
    else Some(DeadRids.union(halves.map { case (h, files) =>
      deadRids(spark, h, files) }))
  }

  /** True for a row whose id `dead` does not hold: one deterministic
    * predicate over a broadcast the driver creates, which runs no job. */
  private def notDead(spark: SparkSession, dead: DeadRids): Column = {
    val b = spark.sparkContext.broadcast(dead)
    udf((txn: Long, seq: Long) => !b.value.has(txn, seq)).withName(LIVE_RID)(
      col(s"$RID.txn"), col(s"$RID.seq"))
  }

  /** Snapshot as of the given view, with row ids: ONE parquet scan over
    * the base files and every live insert half, less the rows the live
    * delete halves kill. When those halves hold at most
    * [[Stores.ID_CAP]] rows, their rids are in hand on the driver
    * ([[deadRidsOf]]) and the scan is filtered by [[notDead]] — no delete
    * scan, no join, no broadcast job; above the cap the scan is left-anti
    * joined on the row id against ONE scan of every live delete half
    * (delete events carry the full dead row, CDF-style; the scan is pruned
    * to the id). Scans read at the view's declared schema
    * ([[schemaAtV]]), which is the reference's schema-on-read ADD COLUMNS
    * semantics: a file written before a schema entry lacks the column and
    * reads NULL, and no data file is ever rewritten for a schema change.
    * `surv` names an insert-bearing dir's surviving files
    * ([[readPrunedBy]]; None = all). */
  private def snapshotAtV(spark: SparkSession, root: String, view: View,
      surv: String => Option[Seq[String]] = _ => None): DataFrame = {
    val f = fs(spark, root)
    val (base, deltas) = liveStateV(f, root, view)
    val schema = schemaAtV(spark, f, root, view)
    val born = scan(spark, insertDirs(f, root, base, deltas).flatMap {
      case (p, files) => surv(p).fold(files) { keep =>
        val names = keep.map(new Path(_).getName).toSet
        files.filter(st => names(st.getPath.getName))
      }
    }, schema)
    val dirs = deltas.values.toSeq.map(_.dir)
    (deadRidsOf(spark, f, root, dirs) match {
      case Some(dead) if dead.tags.isEmpty => born
      case Some(dead) => born.filter(notDead(spark, dead))
      case None => antiRid(born, scanHalf(spark, f, root, dirs, "delete",
        StructType(Seq(schema(RID)))))
    }).select(schema.fieldNames.toSeq.map(col): _*)
  }

  /** Snapshot read at the latest committed version (user-facing). */
  def read(spark: SparkSession, root: String): DataFrame = {
    val f = fs(spark, root)
    snapshotAtV(spark, root, readView(f, root)).drop(RID)
  }

  /** Latest committed version — a pinnable snapshot handle. */
  def currentVersion(spark: SparkSession, root: String): Long =
    lastVersionOnDisk(fs(spark, root), root)

  /** Time-travel read at a pinned version (repeatable-read contract).
    * Valid while the version's data dirs survive: compactions never delete
    * data, so pinned reads keep working across them until [[vacuum]]
    * retires the dirs outside its retention window (the tradeoff every
    * log-structured table format has). Below the oldest checkpoint the
    * replay needs the pre-checkpoint entry files — present until
    * `vacuum(pruneLog = true)` retires those too (then: clear error). */
  def readAt(spark: SparkSession, root: String, version: Long): DataFrame = {
    val f = fs(spark, root)
    snapshotAtV(spark, root,
      truncateView(f, root, readView(f, root), version)).drop(RID)
  }

  /** Backfill/refresh [[DataSkipping]] stats sidecars for every live
    * insert-bearing dir of the head snapshot (one tiny aggregate per dir).
    * [[compact]]/[[compactMinor]]/[[create]] collect automatically — stats
    * ride the folds, so high-frequency ingest pays nothing per write —
    * and an ingest-heavy table between folds calls this to cover its
    * fresh deltas (the reference's `ANALYZE TABLE … COMPUTE STATISTICS`
    * posture, but per-file rather than per-table). */
  def analyze(spark: SparkSession, root: String): Unit = {
    val f = fs(spark, root)
    val (base, deltas) = liveStateV(f, root, readView(f, root))
    insertDirs(f, root, base, deltas).foreach(d => DataSkipping.collect(spark, d._1))
  }

  /** Build per-file Bloom sidecars for `cols` over every live
    * insert-bearing dir (auto-sized per dir — deltas are small, the base
    * is not, and each dir's filter is sized to ITS largest file). Rerun
    * after compaction, like [[analyze]]. */
  def analyzeBloom(spark: SparkSession, root: String, cols: Seq[String],
      bitsPerKey: Int = 12): Unit = {
    val f = fs(spark, root)
    val (base, deltas) = liveStateV(f, root, readView(f, root))
    insertDirs(f, root, base, deltas)
      .foreach(d => BloomIndex.collectAuto(spark, d._1, cols, bitsPerKey))
  }

  /** (base dir name, insert-delta dir names) of the head snapshot —
    * observability for specs probing per-dir index sidecars directly. */
  def liveBase(spark: SparkSession, root: String): (String, Seq[String]) = {
    val f = fs(spark, root)
    val (base, deltas) = liveStateV(f, root, readView(f, root))
    (base, deltas.values.toSeq.map(e => s"${e.dir}/insert"))
  }

  /** Build per-file EWAH posting sidecars ([[BitmapIndex]]) for `cols`
    * over every live insert-bearing dir — the BITMAP index kind's build
    * pass; rerun after compaction, like [[analyze]]/[[analyzeBloom]]. */
  def analyzeBitmap(spark: SparkSession, root: String,
      cols: Seq[String]): Unit = {
    val f = fs(spark, root)
    val (base, deltas) = liveStateV(f, root, readView(f, root))
    insertDirs(f, root, base, deltas)
      .foreach(d => BitmapIndex.collect(spark, d._1, cols))
  }

  /** Delete one kind of index sidecar dir (`_file_stats` /
    * `_bloom_index`) across the head snapshot's insert-bearing dirs —
    * DROP INDEX support. Metadata-only: pruned reads degrade to full
    * scans of the affected dirs, never to wrong answers. */
  def dropSidecars(spark: SparkSession, root: String,
      sidecarDir: String): Unit = {
    val f = fs(spark, root)
    val (base, deltas) = liveStateV(f, root, readView(f, root))
    insertDirs(f, root, base, deltas)
      .foreach(d => f.delete(new Path(s"${d._1}/$sidecarDir"), true))
  }

  /** (files kept, files total) for a point probe — [[scanProfile]]'s
    * Bloom twin. */
  def scanProfilePoint(spark: SparkSession, root: String, column: String,
      values: Seq[Any]): (Long, Long) =
    profileBy(spark, root, pointSurvivors(spark, column, values))

  /** Snapshot read with FILE-LEVEL DATA SKIPPING: equals
    * `read(root).filter(band₁ AND band₂ …)` by construction, but files
    * whose stats intervals cannot satisfy the bands are never opened —
    * Delta's stats-based skipping (VLDB 2020 §4.2) on this log. Pruning
    * applies to the base and to insert deltas; delete dirs are always
    * applied in full (a delete can only remove surviving rows, and the
    * scan of a delete dir is already pruned to the id column). Combined
    * with `compact(clusterBy = …)` ([[ZOrder]]), a selective predicate on
    * any clustered dimension touches ~files^(1/k) of a k-D clustered base
    * instead of all of it — the 100 TB slice-query path. Safe everywhere:
    * a dir without a sidecar, or a band column a sidecar predates, just
    * scans fully; the residual predicate is re-applied to surviving rows. */
  def readPruned(spark: SparkSession, root: String,
      bands: Seq[DataSkipping.Band]): DataFrame = {
    require(bands.nonEmpty, "readPruned needs at least one band")
    readPrunedBy(spark, root, p => DataSkipping.survivors(spark, p, bands),
      DataSkipping.predicateOf(bands))
  }

  /** Pruned POINT-LOOKUP read of the head snapshot (`column IN values`):
    * per-dir file pruning via the [[BloomIndex]] sidecars
    * ([[analyzeBloom]] builds them), deletes applied in full, residual
    * IN-filter re-applied — the q246 lookup on the ACID table: at 100 TB
    * a key probe touches the files whose filters admit the key, not the
    * table, and correctness never depends on the index (a missing sidecar
    * degrades that dir to a full scan). */
  def readPrunedPoint(spark: SparkSession, root: String, column: String,
      values: Seq[Any]): DataFrame = {
    require(values.nonEmpty, "readPrunedPoint needs at least one value")
    readPrunedBy(spark, root, pointSurvivors(spark, column, values),
      col(column).isin(values: _*))
  }

  /** An insert-bearing dir's files a point probe keeps. Exact BITMAP
    * postings outrank the probabilistic BLOOM filters when a dir carries
    * both sidecars; either alone is authoritative for its own dir, a dir
    * with neither scans in full (None). */
  private def pointSurvivors(spark: SparkSession, column: String,
      values: Seq[Any]): String => Option[Seq[String]] =
    p => BitmapIndex.survivors(spark, p, column, values)
      .orElse(BloomIndex.survivors(spark, p, column, values))

  /** Shared pruned-snapshot read: the head snapshot over the files `surv`
    * keeps of each insert-bearing dir (None = no usable sidecar → whole
    * dir), with the residual predicate re-applying the full condition.
    * Deletes are always applied in full — pruning is performance-only. */
  private def readPrunedBy(spark: SparkSession, root: String,
      surv: String => Option[Seq[String]],
      residual: org.apache.spark.sql.Column): DataFrame =
    snapshotAtV(spark, root, readView(fs(spark, root), root), surv)
      .drop(RID).filter(residual)

  /** (files kept, files total) across the head snapshot's insert-bearing
    * dirs for a band set — the observability hook specs and benches use to
    * PROVE skipping happened. Dirs without usable stats count as all-kept. */
  def scanProfile(spark: SparkSession, root: String,
      bands: Seq[DataSkipping.Band]): (Long, Long) =
    profileBy(spark, root, p => DataSkipping.survivors(spark, p, bands))

  /** (files kept, files total) over the head snapshot's insert-bearing
    * dirs, counted from the memoized file lists ([[filesOf]]). */
  private def profileBy(spark: SparkSession, root: String,
      surv: String => Option[Seq[String]]): (Long, Long) = {
    val f = fs(spark, root)
    val (base, deltas) = liveStateV(f, root, readView(f, root))
    insertDirs(f, root, base, deltas).map { case (p, files) =>
      (surv(p).fold(files.size)(_.size).toLong, files.size.toLong)
    }.foldLeft((0L, 0L)) { case ((k, t), (a, b)) => (k + a, t + b) }
  }

  /** Net row-level changes (CDC) committed in versions `(fromV, toV]` —
    * the incremental-consumption contract (Delta Lake's change data feed,
    * Iceberg's incremental scan): a downstream job that processed version
    * `fromV` reads only what happened since, never the table. An UPDATE
    * surfaces as its two events (delete of the old version, insert of the
    * new); a row born and deleted inside the range nets out to nothing.
    *
    * A range that spans a RESTORE entry is REJECTED loudly: the range's
    * events would include changes the restore undid, so handing them to an
    * incremental consumer silently corrupts it — consume up to the restore
    * version, resync, then consume above it.
    *
    * Scale shape: reads ONLY the range's delta directories — delete events
    * store the full dead row (the Delta-CDF `_change_data` tradeoff: the
    * writer pays O(changed rows) extra bytes so no consumer ever rescans
    * the table; the snapshot read path still prunes those files to the id
    * column), so CDC cost is O(changes in range) with the table size
    * nowhere in the bound. The two anti-joins below are delta-vs-delta
    * (both sides are change sets, broadcast-able in the normal CDC regime).
    * Same dir-survival contract as [[readAt]]: a compaction inside or above
    * the range GCs the dirs this replay needs, so CDC ranges must stay
    * within the retention window. */
  def changesBetween(spark: SparkSession, root: String, fromV: Long,
      toV: Long): DataFrame = {
    val f = fs(spark, root)
    val view0 = readView(f, root)
    val view = if (fromV >= view0.floor) view0 else fullView(f, root)
    val inRange = view.tail.filter(e => e.version > fromV && e.version <= toV)
    inRange.find(_.action == "restore").foreach { r =>
      throw new IllegalStateException(
        s"CDC range ($fromV, $toV] of $root spans the RESTORE at version " +
        s"${r.version}: its events include changes the restore undid. " +
        s"Consume (…, ${r.version - 1}], resync, then (${r.version}, …].")
    }
    // only insert/mutate entries CARRY changes: a minor compaction's folded
    // delta is a re-encoding of changes already logged at their own
    // versions, and create/compact entries name bases — reading either
    // would double-count. Batch-keyed inserts count at their CANONICAL
    // (lowest) version only, matching liveState's first-wins dedup.
    val canon = batchCanonOf(view)
    val range = inRange.filter(e =>
      (e.action == "insert" || e.action == "mutate") &&
      (!e.fp.startsWith("b:") || canon(e.fp) == e.version))
    // both sides read at the canonical column set AT toV (schema entries
    // in the prefix): events from before an ADD COLUMNS read NULL there
    val schema = schemaAtV(spark, f, root, truncateView(f, root, view, toV))
    val (inserted, deleted) = netOf(spark, f, root, range.map(_.dir), schema)
    val cols = schema.fieldNames.toSeq.filter(_ != RID).map(col) :+ col("change")
    (inserted.map(_.withColumn("change", lit("insert"))).toSeq ++
      deleted.map(_.withColumn("change", lit("delete"))))
      .map(_.select(cols: _*)).reduceOption(_ union _)
      .getOrElse(scan(spark, Nil, schema).withColumn("change", lit(""))
        .select(cols: _*))
  }

  /** The net change of `dirs`' halves, each half read in ONE scan at
    * `schema`: (rows born and not killed among them, rows killed that were
    * not born among them), each None when no dir holds that half. */
  private def netOf(spark: SparkSession, f: FileSystem, root: String,
      dirs: Seq[String], schema: StructType)
      : (Option[DataFrame], Option[DataFrame]) = {
    val born = scanHalf(spark, f, root, dirs, "insert", schema)
    val dead = scanHalf(spark, f, root, dirs, "delete", schema)
    (born.map(antiRid(_, dead)), dead.map(antiRid(_, born)))
  }

  /** The columns of a write's staged-rows frame, one row per source row:
    * [[DEAD]] is a full old row with its rid (a delete event), [[BORN]] a
    * new row, [[MATCHED]] (MERGE only) the rid of a matched target row; a
    * null struct stages nothing for its half. */
  private val DEAD = "__dead"
  private val BORN = "__born"
  private val MATCHED = "__matched"

  /** A staged delta dir and the footprint summary of its delete half. */
  private case class Staged(dir: String, fp: String)

  /** Stage one write under a fresh uuid dir — invisible until a log entry
    * references it, so staging needs no temp-dir dance. `rows` is the
    * write's staged-rows frame ([[DEAD]]/[[BORN]]/[[MATCHED]]); `tag`
    * gives the born rows fresh rids under that writer tag (None: they
    * carry theirs). New rows must pass `cons`. None when nothing is
    * staged; with `emptyOk` every half the frame has is written, empty
    * or not (an insert commits even with no rows, a fold always commits).
    *
    * One bounded action ([[Stores.boundedRows]]) computes the rows. When
    * they fit [[Stores.ID_CAP]] — the OLTP case — the rest is driver work
    * on the rows in hand: the MERGE cardinality check, fresh rid seqs,
    * the CHECK constraints (over a [[LocalRelation]]), one
    * [[LocalParquet.writeRows]] file per half and the footprint. Above
    * the cap the rows in hand are still written that way, and Spark
    * writes the partitions the action did not hand over (their new rows
    * under a second fresh tag), so no row is computed twice; there the
    * cardinality check, the constraints of the Spark-written rows, an
    * emptiness probe of a half the rows in hand do not show and the
    * footprint are jobs. Either way the new dirs' schemas go into
    * [[MetaCache]], so no later open of the stage runs a footer-inference
    * job; both paths write the same Spark schema. A delete half written
    * wholly from the driver also leaves its rids there, so a snapshot
    * over it reads nothing of it ([[deadRidsOf]]). */
  private def stage(spark: SparkSession, root: String, rows: DataFrame,
      tag: Option[Long], cons: Seq[(String, String)], op: String,
      emptyOk: Boolean = false): Option[Staged] = {
    val dir = s"delta_${UUID.randomUUID().toString.take(12)}"
    val cols = Seq("delete" -> DEAD, "insert" -> BORN)
      .filter(c => rows.columns.contains(c._2))
    def half(frame: DataFrame, c: String): DataFrame =
      frame.filter(col(c).isNotNull).select(s"$c.*")
    // a half as written: the new rows with fresh rids under tag `t`
    def asWritten(frame: DataFrame, c: String, t: Option[Long]): DataFrame =
      if (c == BORN) t.fold(half(frame, c))(withRid(half(frame, c), _))
      else half(frame, c)
    val at = (k: String) => s"$root/$dir/$k"
    val dupError = s"MERGE cardinality violation: a row of $root " +
      "matches more than one source row"
    val Stores.Bounded(held, rest) = Stores.boundedRows(rows)
    def attrs(schema: StructType): Seq[AttributeReference] =
      schema.map(fd => AttributeReference(fd.name, fd.dataType, fd.nullable)())
    def structs(c: String): Array[InternalRow] = {
      val i = rows.schema.fieldIndex(c)
      val n = rows.schema(i).dataType.asInstanceOf[StructType].length
      held.filter(!_.isNullAt(i)).map(_.getStruct(i, n))
    }
    // the rows in hand, per half as written: the new rows get rid seqs
    // 0, 1, … under `tag`
    val inHand = cols.map { case (k, c) =>
      val rs = structs(c)
      (k, tag.filter(_ => k == "insert").fold(rs)(t => rs.zipWithIndex.map {
        case (r, i) => new JoinedRow(r, InternalRow(InternalRow(t, i.toLong)))
      }))
    }.filter(h => h._2.nonEmpty || (emptyOk && rest.isEmpty))
    // MERGE cardinality: a matched target rid occurs once, counted over
    // the rows in hand and, above the cap, the partitions not in hand
    if (rows.columns.contains(MATCHED)) rest match {
      case None =>
        val ids = structs(MATCHED).map(r => (r.getLong(0), r.getLong(1)))
        require(ids.distinct.length == ids.length, dupError)
      case Some(r) =>
        val m = r.select(MATCHED).filter(col(MATCHED).isNotNull)
        require(ColumnBridge.ofRows(spark, LocalRelation(attrs(m.schema),
            structs(MATCHED).toSeq.map(InternalRow(_)))).union(m)
          .groupBy(MATCHED).count().filter(col("count") > 1).isEmpty, dupError)
    }
    if (rows.columns.contains(BORN)) enforceConstraints(ColumnBridge.ofRows(
      spark, LocalRelation(attrs(half(rows, BORN).schema), structs(BORN).toSeq)),
      cons, op, root, local = true)
    // the partitions not in hand (above the cap): Spark's halves
    val spilled = rest.toSeq.flatMap { r =>
      val restTag = tag.map(_ => UUID.randomUUID().getLeastSignificantBits & Long.MaxValue)
      val out = cols.map { case (k, c) => k -> asWritten(r, c, restTag) }
        .filter { case (k, df) =>
          emptyOk || inHand.exists(_._1 == k) || !df.isEmpty }
      if (out.exists(_._1 == "insert"))
        enforceConstraints(half(r, BORN), cons, op, root, local = false)
      out
    }
    if (inHand.isEmpty && spilled.isEmpty) return None
    val schemas = cols.map { case (k, c) => k -> asWritten(rows, c, tag).schema }
      .toMap
    inHand.foreach { case (k, rs) =>
      LocalParquet.writeRows(spark, s"${at(k)}/part-00000.parquet",
        schemas(k), rs.iterator)
    }
    spilled.foreach { case (k, df) => df.write.mode("append").parquet(at(k)) }
    (inHand.map(_._1) ++ spilled.map(_._1)).distinct.foreach(k =>
      MetaCache.memo(at(k), "")(ColumnBridge.asNullable(schemas(k))))
    filesOf(fs(spark, root), root, dir)
    if (spilled.nonEmpty) Some(Staged(dir, footprint(spark, root, dir)))
    else {
      // a driver-written delete half: its rids are in hand for every
      // later snapshot ([[deadRidsOf]]) and for the footprint
      val dead = inHand.collectFirst { case ("delete", rs) =>
        val ri = schemas("delete").fieldIndex(RID)
        val rids = rs.toSeq.map { r =>
          val rid = r.getStruct(ri, 2)
          (rid.getLong(0), rid.getLong(1))
        }
        MetaCache.memo(at("delete"), "rows")(Long.box(rids.size))
        MetaCache.memo(at("delete"), "rids")(DeadRids.of(rids))
        rids
      }
      Some(Staged(dir, dead.fold("-")(footprintOf)))
    }
  }

  /** Footprint summaries with more tags than this collapse to `*` (always
    * exact-checked) so the log entry stays one bounded line. */
  private val FP_MAX_TAGS = 8

  /** Footprint summary of a staged delete: per writer-tag min/max seq of
    * the touched row ids — one narrow agg over the staged parquet (reads
    * only the rid column), collected driver-side at ≤ FP_MAX_TAGS+1 rows.
    * `-` encodes the EMPTY footprint (no delete half — an insert-only
    * MERGE): provably disjoint from everything. */
  private def footprint(spark: SparkSession, root: String, dir: String): String =
    if (!fs(spark, root).exists(new Path(s"$root/$dir/delete"))) "-"
    else footprintOf(MetaCache.get(spark, s"$root/$dir/delete")
      .groupBy(col(s"$RID.txn").as("t"))
      .agg(min(col(s"$RID.seq")).as("lo"), max(col(s"$RID.seq")).as("hi"))
      .limit(FP_MAX_TAGS + 1).collect().toSeq.flatMap(r =>
        Seq((r.getLong(0), r.getLong(1)), (r.getLong(0), r.getLong(2)))))

  /** The footprint of deleted `(txn, seq)` rids (or of each tag's
    * `(txn, lo)` and `(txn, hi)`, which fold to the same summary). */
  private def footprintOf(rids: Seq[(Long, Long)]): String = {
    val byTag = rids.groupBy(_._1)
    if (byTag.isEmpty) "-"
    else if (byTag.size > FP_MAX_TAGS) "*"
    else byTag.map { case (t, rs) =>
      s"$t:${rs.map(_._2).min}:${rs.map(_._2).max}" }.toSeq.sorted.mkString(";")
  }

  private def fpParse(s: String): Option[Map[Long, (Long, Long)]] =
    if (s == "*" || s.isEmpty) None
    else if (s == "-") Some(Map.empty)
    else Some(s.split(";").iterator.map { it =>
      val Array(t, a, b) = it.split(":")
      t.toLong -> (a.toLong, b.toLong)
    }.toMap)

  /** False only when the two summaries PROVE disjointness (no shared tag, or
    * shared tags with non-overlapping seq ranges) — the metadata-only fast
    * path; true means "pay the exact rid check". */
  private def fpMayOverlap(a: String, b: String): Boolean =
    (fpParse(a), fpParse(b)) match {
      case (Some(x), Some(y)) => x.exists { case (t, (lo, hi)) =>
        y.get(t).exists { case (lo2, hi2) => lo <= hi2 && lo2 <= hi } }
      case _ => true
    }

  /** Exact row-grain conflict test: do the two staged deletes share a row
    * id? Both sides are change sets pruned to the rid column — delta-vs-
    * delta work, never a table scan.
    *
    * "No delete half" and "dir gone" are NOT the same answer: a competing
    * entry whose dir exists but has no delete/ subdir provably staged no
    * deletes (safe to clear), while a dir the log references that is
    * absent was retired by vacuum — our pinned snapshot predates the
    * retention window and the overlap can no longer be checked, so it
    * conservatively counts as a conflict (the caller recomputes on a fresh
    * snapshot) instead of silently committing a potential lost update. */
  private def ridsIntersect(spark: SparkSession, root: String,
      dirA: String, dirB: String): Boolean = {
    val f = fs(spark, root)
    if (!f.exists(new Path(s"$root/$dirB")))
      return true // competing dir vacuumed under our pinned snapshot
    def rids(dir: String): Option[DataFrame] =
      filesOf(f, root, dir).get("delete").map(scan(spark, _, StructType(Seq(
        MetaCache.schema(spark, s"$root/$dir/delete")(RID)))))
    (rids(dirA), rids(dirB)) match {
      case (Some(a), Some(b)) => !a.join(b, Seq(RID), "left_semi").isEmpty
      case _ => false // a side that staged no delete events cannot overlap
    }
  }

  /** INSERT INTO: stage once, then take the next free ordinal. New rows
    * cannot collide with any concurrent action (ids are fresh), so no
    * conflict check and no recompute — losing a commit race only means
    * retrying the one-file create.
    *
    * `mergeSchema` (Delta's `mergeSchema=true` write option): columns of
    * `rows` unknown to the table are DECLARED by this same commit — the
    * insert entry carries the `c:name=type` marker a schema entry would,
    * so data and schema land in ONE atomic log entry (no window where the
    * rows are visible but their columns are not), older files read NULL
    * for the new columns, and a RESTORE below this version removes both
    * together. Two racing mergeSchema inserts declaring the same column
    * converge (first declaration wins its type — the fold dedups).
    * Without the flag, the insert PROJECTS to the table schema and
    * unknown columns are ignored — the pre-existing write contract (the
    * reference's INSERT resolves by position/projection, not by name). */
  def insert(spark: SparkSession, root: String, rows: DataFrame,
      mergeSchema: Boolean = false): Unit = {
    val f = fs(spark, root)
    val view0 = readView(f, root)
    // the schema lookup reads the BASE dir's parquet footer, which a
    // concurrent compaction's GC can delete under us — re-resolve against
    // the fresh log in that case (the one data-dir read INSERT does; its
    // staged rows are caller data)
    val fields = (0 to 3).view.map { attempt =>
      val view = if (attempt == 0) view0 else readView(f, root)
      Try(schemaAtV(spark, f, root, view).filter(_.name != RID))
    }.collectFirst { case Success(c) => c }
      .getOrElse(throw new IllegalStateException(
        s"cannot resolve schema of $root"))
    val newCols: Seq[(String, String)] = if (!mergeSchema) Nil else {
      val have = fields.map(_.name.toLowerCase).toSet
      rows.schema.fields.filterNot(fd => have(fd.name.toLowerCase))
        .map { fd =>
          val t = fd.dataType.sql
          require(fd.name.matches("[A-Za-z_][A-Za-z0-9_]*"),
            s"bad evolved column name '${fd.name}'")
          require(!t.contains("=") && !t.contains(";") && !t.contains("\""),
            s"cannot evolve schema with type '$t'")
          fd.name -> t
        }.toSeq
    }
    val cons = constraintsV(f, root, view0)
    // cast every staged column to its DECLARED type: the physical parquet
    // type must match the table declaration even when the inserting
    // DataFrame carries a divergent type (e.g. an evolved column supplied
    // as INT where an earlier mergeSchema writer declared BIGINT), or a
    // later snapshot, which reads every file at the declared schema,
    // cannot read this one
    val genApplied = applyGens(rows, gensFrom(cons))
    // rid txn = a fresh uuid-derived tag, not the commit version (unknown
    // until the race resolves); uniqueness is all the id contract needs
    val tag = UUID.randomUUID().getLeastSignificantBits & Long.MaxValue
    def castStage(evolvedTypes: Map[String, String]): String =
      stage(spark, root, asBorn(genApplied.select(
        fields.map(fd => col(fd.name).cast(fd.dataType).as(fd.name)) ++
          newCols.map { case (n, t) =>
            col(n).cast(evolvedTypes.getOrElse(n.toLowerCase, t)).as(n) }: _*)),
        Some(tag), cons, "INSERT", emptyOk = true).get.dir
    var dir = castStage(Map.empty)
    pauseAfterInsertStage()
    val marker = if (newCols.isEmpty) ""
      else "c:" + newCols.map { case (n, t) => s"$n=$t" }.mkString(";")
    var v = view0.lastVersion + 1
    var attempts = 0
    while (!tryCommit(f, root, Entry(v, "insert", dir, 0L, marker))) {
      attempts += 1
      require(attempts < MAX_COMMIT_ATTEMPTS, s"insert into $root livelocked")
      if (newCols.isEmpty) v = lastVersionOnDisk(f, root) + 1
      else {
        // a racing mergeSchema writer may have DECLARED one of our evolved
        // columns with a different type — its earlier declaration wins the
        // schema fold (our duplicate marker dedups away), so our data files
        // must carry the WINNING type, not the one we staged with
        val nview = readView(f, root)
        v = nview.lastVersion + 1
        val winning = addedColsV(f, root, nview)
          .map { case (n, t) => n.toLowerCase -> t }.toMap
        val divergedCols = newCols.filter { case (n, t) =>
          winning.get(n.toLowerCase).exists(w => !w.equalsIgnoreCase(t)) }
        if (divergedCols.nonEmpty) {
          // the winning declaration may be NARROWER than ours (INT where
          // we staged BIGINT): a plain cast would silently wrap/truncate
          // values that don't fit — validate by round-trip (cast to the
          // winning type and back must be value-preserving; NULL-safe so
          // genuinely-null inputs pass) and fail the insert loudly instead
          // of committing corrupted values (Delta fails or widens, never
          // narrows silently)
          val lossy = divergedCols.map { case (n, t) =>
            val w = winning(n.toLowerCase)
            !(col(n).cast(t).cast(w).cast(t) <=> col(n).cast(t))
          }.reduce(_ || _)
          if (!genApplied.filter(lossy).isEmpty) {
            f.delete(new Path(s"$root/$dir"), true) // abandoned stage
            throw new IllegalArgumentException(
              s"insert into $root aborted: a concurrent writer declared " +
              divergedCols.map { case (n, t) =>
                s"$n as ${winning(n.toLowerCase)} (we staged $t)" }
                .mkString(", ") +
              " and at least one staged value does not fit the winning " +
              "type; re-ingest with the declared type")
          }
          // the superseded stage dir is referenced by nothing — delete it
          // before re-staging or every retry leaks an orphan dir
          f.delete(new Path(s"$root/$dir"), true)
          dir = castStage(winning)
        }
      }
    }
  }

  /** Point-in-time ROLLBACK (Delta RESTORE / Iceberg rollback; the
    * reference's nearest analog is dropping the uncommitted-txn deltas
    * AcidUtils filters out): ONE metadata-only log entry — the head
    * becomes the state at `toVersion`, every commit in between is undone,
    * and the undone versions stay time-travel-readable until [[vacuum]]
    * retires their dirs, so a bad backfill reverts in O(1) metadata where
    * a rewrite would be O(table). Mutations racing a restore conflict on
    * it and recompute against the restored state; compactions racing it
    * abort (their fold would resurrect undone rows); a CDC range must not
    * span a restore ([[changesBetween]] rejects one that does).
    * Batch keys stay BURNED across a restore — a replay of an undone
    * [[insertBatch]] key does not re-apply (the log remembers the key even
    * when its entry is invisible); re-ingest rolled-back batches under
    * fresh keys.
    *
    * Fail-loudly guards: every data dir of the target state must exist
    * BEFORE the commit (a target outside the retention window is rejected
    * with the vacuum named), and is re-verified AFTER winning the ordinal —
    * a vacuum racing the commit itself is reported immediately with the
    * recovery step (restore to the pre-restore head, whose dirs the window
    * always retains) instead of surfacing later as a broken scan. */
  def restore(spark: SparkSession, root: String, toVersion: Long): Unit = {
    val f = fs(spark, root)
    var attempts = 0
    var done = false
    while (!done) {
      attempts += 1
      require(attempts < MAX_COMMIT_ATTEMPTS, s"restore of $root livelocked")
      val view = readView(f, root)
      val snapV = view.lastVersion
      require(toVersion >= 1 && toVersion <= snapV,
        s"restore target $toVersion outside committed range [1, $snapV]")
      val target = truncateView(f, root, view, toVersion)
      val (b, ds) = liveStateV(f, root, target)
      def missing(): Seq[String] = (b +: ds.values.toSeq.map(_.dir))
        .filterNot(d => f.exists(new Path(s"$root/$d")))
      val miss = missing()
      require(miss.isEmpty, s"cannot restore $root to version $toVersion: " +
        s"dir(s) ${miss.mkString(", ")} were retired by vacuum " +
        "(target outside the retention window)")
      done = tryCommit(f, root, Entry(snapV + 1, "restore", "", toVersion))
      if (done) {
        val miss2 = missing()
        if (miss2.nonEmpty) throw new IllegalStateException(
          s"restore of $root to version $toVersion committed as version " +
          s"${snapV + 1}, but a concurrent vacuum retired " +
          s"${miss2.mkString(", ")} during the commit; restore to version " +
          s"$snapV (the pre-restore head) to recover")
      }
    }
  }

  /** ALTER TABLE ADD COLUMNS without touching a single data file — the
    * reference's schema-on-read evolution
    * (`ql/.../DDLTask.java alterTable` ADDCOLS: metadata-only, old
    * partitions keep their files and read NULL for the new columns). One
    * metadata-only log entry records `(name, typeDDL)` pairs; every
    * reader fills NULL at the declared type for files predating it, and
    * time travel below the entry still shows the OLD schema — at 100 TB
    * this is the difference between an O(1) metadata commit and an
    * O(table) rewrite. Commutes with concurrent DML (mutations carry
    * whatever schema their snapshot had; reads fill NULL), but a
    * duplicate column name is rejected against the committed head on
    * every retry. */
  def addColumns(spark: SparkSession, root: String,
      cols: Seq[(String, String)]): Unit = {
    require(cols.nonEmpty, "ADD COLUMNS needs at least one column")
    cols.foreach { case (n, t) =>
      require(n.matches("[A-Za-z_][A-Za-z0-9_]*"), s"bad column name '$n'")
      require(t.nonEmpty && !t.contains("=") && !t.contains(";") && !t.contains("\""),
        s"bad type DDL '$t'")
    }
    val f = fs(spark, root)
    val marker = "c:" + cols.map { case (n, t) => s"$n=$t" }.mkString(";")
    var attempts = 0
    var done = false
    while (!done) {
      attempts += 1
      require(attempts < MAX_COMMIT_ATTEMPTS, s"addColumns on $root livelocked")
      val view = readView(f, root)
      val existing = schemaAtV(spark, f, root, view).fieldNames
        .map(_.toLowerCase).toSet
      cols.foreach { case (n, _) =>
        require(!existing.contains(n.toLowerCase),
          s"column '$n' already exists on $root")
      }
      val v = view.lastVersion + 1
      done = tryCommit(f, root, Entry(v, "schema", "", 0L, marker))
    }
  }

  /** CHECK constraints in force at the current head. */
  def constraintsOf(spark: SparkSession, root: String): Seq[(String, String)] = {
    val f = fs(spark, root)
    constraintsV(f, root, readView(f, root))
  }

  /** ADD a CHECK constraint (Delta `ALTER TABLE ADD CONSTRAINT` /
    * `delta.constraints.*`; the reference era has only RELY NOVALIDATE
    * informational PK/FK — no enforced row predicate): one metadata-only
    * log entry after validating the EXISTING table satisfies the
    * predicate (one filtered scan, the Delta shape). From its version on,
    * every INSERT / batch insert / UPDATE / MERGE checks its STAGED rows
    * — O(staged), never O(table) — and fails loudly naming the
    * constraint. SQL 3VL: a CHECK passes on TRUE or NULL, violates only
    * on FALSE. A RESTORE below the constraint's version removes it (data
    * and metadata revert together). Known window, as in Delta: a write
    * whose snapshot predates the constraint commit validates against the
    * older set — constraints serialize with DATA through the log order,
    * not with in-flight computations. */
  def addConstraint(spark: SparkSession, root: String, name: String,
      condExpr: String): Unit = {
    require(!name.startsWith(GEN),
      s"constraint prefix '$GEN' is reserved for generated columns " +
        "(declare them via createGenerated)")
    addConstraintImpl(spark, root, name, condExpr)
  }

  private def addConstraintImpl(spark: SparkSession, root: String,
      name: String, condExpr: String): Unit = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"bad constraint name '$name'")
    require(condExpr.nonEmpty && !condExpr.contains("\n"),
      s"bad constraint expression '$condExpr'")
    val f = fs(spark, root)
    val enc = java.util.Base64.getUrlEncoder.withoutPadding
      .encodeToString(condExpr.getBytes("UTF-8"))
    var attempts = 0
    var done = false
    while (!done) {
      attempts += 1
      require(attempts < MAX_COMMIT_ATTEMPTS, s"addConstraint on $root livelocked")
      val view = readView(f, root)
      require(!constraintsV(f, root, view).exists(_._1 == name),
        s"constraint '$name' already exists on $root")
      val bad = snapshotAtV(spark, root, view)
        .filter(!coalesce(expr(condExpr), lit(true))).limit(1).count()
      require(bad == 0, s"cannot add constraint '$name' CHECK ($condExpr): " +
        s"existing rows of $root violate it")
      val v = view.lastVersion + 1
      done = tryCommit(f, root, Entry(v, "constraint", "", 0L, s"k:+$name=$enc"))
    }
  }

  /** DROP a CHECK constraint — one metadata-only entry. */
  def dropConstraint(spark: SparkSession, root: String, name: String): Unit = {
    require(!name.startsWith(GEN),
      s"'$name' declares a generated column; generated-column " +
        "expressions cannot be dropped (as in Delta)")
    val f = fs(spark, root)
    var attempts = 0
    var done = false
    while (!done) {
      attempts += 1
      require(attempts < MAX_COMMIT_ATTEMPTS, s"dropConstraint on $root livelocked")
      val view = readView(f, root)
      require(constraintsV(f, root, view).exists(_._1 == name),
        s"no constraint '$name' on $root")
      val v = view.lastVersion + 1
      done = tryCommit(f, root, Entry(v, "constraint", "", 0L, s"k:-$name"))
    }
  }

  /** Idempotent (exactly-once) batch INSERT — the streaming-ingest commit
    * contract: Structured Streaming's `foreachBatch` re-delivers a batch id
    * after a failure, and the reference's Hive Streaming API answers the
    * same problem with TransactionBatch commit-or-abort
    * (`hcatalog/streaming/.../TransactionBatch.java`). The log entry
    * records the batch key in its `fp` slot (`b:<key>`), so a replayed
    * batch finds its key already committed and no-ops — appends become
    * exactly-once across retries with no external dedup state: the log IS
    * the sink's transaction record, exactly why streaming ingest belongs
    * on an ACID table. Checkpoints carry every burned key forward, so the
    * guarantee is unaffected by log pruning. Returns true iff THIS call
    * appended (false = already committed; the staged duplicate is
    * discarded). */
  def insertBatch(spark: SparkSession, root: String, batchKey: String,
      rows: DataFrame): Boolean = {
    require(batchKey.matches("[A-Za-z0-9_.:-]+"),
      s"batch key must be log-entry-safe, got '$batchKey'")
    val marker = s"b:$batchKey"
    val f = fs(spark, root)
    def committed(): Boolean = {
      val view = readView(f, root)
      view.ckpt.exists(_.batchCanon.contains(marker)) ||
        view.tail.exists(e => e.action == "insert" && e.fp == marker)
    }
    if (committed()) return false
    val bview = readView(f, root)
    val fields = schemaAtV(spark, f, root, bview).filter(_.name != RID)
    val cons = constraintsV(f, root, bview)
    val tag = UUID.randomUUID().getLeastSignificantBits & Long.MaxValue
    val dir = stage(spark, root,
      asBorn(applyGens(rows, gensFrom(cons)).select(fields.map(fd =>
        col(fd.name).cast(fd.dataType).as(fd.name)): _*)),
      Some(tag), cons, "INSERT BATCH", emptyOk = true).get.dir
    var attempts = 0
    var done = false
    var appended = false
    while (!done) {
      attempts += 1
      require(attempts < MAX_COMMIT_ATTEMPTS, s"insertBatch into $root livelocked")
      if (committed()) { // a racing retry of the SAME batch beat us
        f.delete(new Path(s"$root/$dir"), true)
        done = true
      } else {
        pauseBeforeBatchCommit() // test seam: widen the check-to-commit window
        val v = lastVersionOnDisk(f, root) + 1
        if (tryCommit(f, root, Entry(v, "insert", dir, 0L, marker))) {
          done = true; appended = true
        }
      }
    }
    appended
  }

  /** Shared optimistic loop for UPDATE/DELETE: compute against the latest
    * snapshot, then commit unless a version above the snapshot deleted one
    * of the SAME rows (row-overlap conflict → recompute; disjoint
    * concurrent mutations commit without recompute — see the isolation
    * scaladoc). `stageFrom` maps the snapshot to the staged-rows frame
    * ([[stage]]); when it stages nothing — committing an empty mutation
    * would serialize against other writers for no effect — it no-ops.
    * The conflict scan opens ONLY the entries above the pinned snapshot
    * (selected by file name) — O(what landed since), never a log replay. Returns the number of snapshot
    * computations (1 = committed without recompute). */
  private def mutate(spark: SparkSession, root: String, op: String,
      stageFrom: DataFrame => DataFrame): Int = {
    val f = fs(spark, root)
    var attempts = 0
    var done = false
    while (!done) {
      attempts += 1
      require(attempts <= MAX_COMMIT_ATTEMPTS, s"mutation of $root livelocked")
      val view0 = readView(f, root)
      val snapV = view0.lastVersion
      pauseAfterSnapshot()
      // the new versions an UPDATE/MERGE writes must satisfy the
      // constraints in force at the pinned snapshot (deletes cannot
      // violate a CHECK)
      val tag = UUID.randomUUID().getLeastSignificantBits & Long.MaxValue
      stage(spark, root, stageFrom(snapshotAtV(spark, root, view0)),
          Some(tag), constraintsV(f, root, view0), op) match {
        case None => done = true // nothing matched on this snapshot
        case Some(Staged(dir, myFp)) =>
          // versions proven row-disjoint stay cleared across ordinal races
          val cleared = scala.collection.mutable.Set.empty[Long]
          var v = snapV + 1
          var committed = false
          var conflicted = false
          while (!committed && !conflicted) {
            // first committer wins ON OVERLAP: a mutation above our snapshot
            // conflicts only if it deleted a row we also touch — summary
            // fast path first, exact rid semi-join only on possible overlap.
            // A RESTORE above the snapshot conflicts unconditionally: the
            // rows this stage references may no longer exist at the head.
            conflicted = entriesAbove(f, root, snapV).exists { e =>
              val competing = !cleared(e.version) &&
                (e.action == "mutate" || e.action == "restore")
              val hit = competing && (e.action == "restore" ||
                (fpMayOverlap(myFp, e.fp) &&
                  ridsIntersect(spark, root, dir, e.dir)))
              if (competing && !hit) cleared += e.version
              hit
            }
            if (!conflicted) {
              committed = tryCommit(f, root, Entry(v, "mutate", dir, 0L, myFp))
              if (!committed) v = lastVersionOnDisk(f, root) + 1
            }
          }
          if (committed) done = true
          else f.delete(new Path(s"$root/$dir"), true) // abandoned stage
      }
    }
    attempts
  }

  /** DELETE WHERE cond under snapshot isolation (3VL: NULL cond keeps).
    * The staged delete event keeps the whole dead row, not just its id —
    * O(deleted rows) extra write bytes that buy [[changesBetween]] its
    * no-table-scan contract; readers prune back down to the id column.
    * Returns the snapshot-computation count (1 = no recompute). */
  def delete(spark: SparkSession, root: String, cond: String): Int =
    mutate(spark, root, "DELETE",
      snap => asDead(snap.filter(coalesce(expr(cond), lit(false)))))

  /** UPDATE SET ... WHERE cond under snapshot isolation: delete events plus
    * re-inserted new versions, the reference's two-event UPDATE encoding.
    * SET expressions see the pre-update row. Returns the snapshot-
    * computation count (1 = no recompute). */
  def update(spark: SparkSession, root: String,
      set: Seq[(String, String)], cond: String): Int = {
    val gens = generatedColsOf(spark, root)
    val genLower = gens.map(_._1.toLowerCase).toSet
    set.foreach { case (k, _) =>
      require(!genLower(k.toLowerCase),
        s"cannot UPDATE SET generated column '$k' (it is recomputed " +
          "from its defining expression)")
    }
    mutate(spark, root, "UPDATE/MERGE", { snap =>
      val matched = snap.filter(coalesce(expr(cond), lit(false)))
      val cols = snap.columns.filter(_ != RID).toSeq
      val byLower = cols.map(c => c.toLowerCase -> c).toMap
      val setMap = set.map { case (k, v) =>
        byLower.getOrElse(k.toLowerCase, throw new IllegalArgumentException(
          s"UPDATE SET references unknown column '$k'")) -> v
      }.toMap
      // one row per matched row carries both events: the full old row
      // (the CDC delete event) and its new version. SET sees the
      // pre-update row; generated columns are then recomputed over the
      // POST-set values (Delta's behavior when a base column changes) —
      // withColumn keeps their position
      gens.foldLeft(matched.select(cols.map { c =>
        setMap.get(c).map(e => expr(e).cast(snap.schema(c).dataType).as(c))
          .getOrElse(col(c))
      } :+ struct(snap.columns.map(col): _*).as(DEAD): _*)) {
        case (d, (n, e)) => d.withColumn(n, expr(e))
      }.select(col(DEAD), struct(cols.map(col): _*).as(BORN))
    })
  }

  /** Three-clause MERGE under snapshot isolation — the reference's ACID
    * `sqlmerge.q` surface (matched-delete wins over matched-update, then
    * not-matched-insert) on the CONCURRENT-writer log. Staged as ONE
    * delta: delete events for every matched row the merge removes or
    * rewrites (full old rows — the CDC contract), insert rows for the
    * updated new versions plus the not-matched inserts; matched rows
    * neither deleted nor updated stay untouched (no spurious events).
    * Commits through the same row-grain optimistic loop as UPDATE/DELETE —
    * the footprint is the matched-and-mutated row set, so a concurrent
    * mutation of different rows never forces a recompute, and an
    * insert-only merge (nothing matched) commits conflict-free like
    * INSERT. SET/INSERT expressions resolve against aliases `t` (target)
    * and `s` (source) — or the caller's own names via
    * `targetAlias`/`sourceAlias` (the textual MERGE INTO surface passes
    * the statement's aliases through) — the reference's MERGE scoping.
    *
    * Conditional clauses (the full `sqlmerge.q` shape): `matchedSetCond`
    * guards the update clause (`WHEN MATCHED AND c THEN UPDATE`) — a
    * matched row satisfying neither the delete nor the update condition
    * stays untouched with NO events; `notMatchedCond` guards the insert
    * clause (`WHEN NOT MATCHED AND c THEN INSERT`) — unmatched source
    * rows failing it are simply dropped. Delete wins over update for a
    * row satisfying both, Hive's precedence. 3VL throughout: a NULL
    * condition does not take the clause.
    *
    * Cardinality check: a target row matching more than one source row
    * errors (`cardinality_violation`). Returns the snapshot-computation
    * count. */
  def merge(spark: SparkSession, root: String, source: DataFrame,
      onCond: String,
      matchedSet: Seq[(String, String)] = Nil,
      matchedDelete: Option[String] = None,
      notMatchedInsert: Option[Seq[(String, String)]] = None,
      checkCardinality: Boolean = true,
      targetAlias: String = "t", sourceAlias: String = "s",
      matchedSetCond: Option[String] = None,
      notMatchedCond: Option[String] = None): Int = {
    require(targetAlias != sourceAlias,
      s"MERGE aliases must differ, got '$targetAlias' twice")
    val gens = generatedColsOf(spark, root)
    val genLower = gens.map(_._1.toLowerCase).toSet
    matchedSet.foreach { case (k, _) =>
      require(!genLower(k.toLowerCase),
        s"cannot MERGE SET generated column '$k' (it is recomputed " +
          "from its defining expression)")
    }
    // ONE plan stages the whole merge: a single join (left outer when
    // there is an insert clause: unmatched source rows come out with a
    // null target rid) yields, per joined row, the dead target row, its
    // new version or the inserted row, and the matched rid the
    // cardinality check counts — where the dead rows, the new rows and
    // the probes used to run the join once each
    mutate(spark, root, "UPDATE/MERGE", { snap =>
      val tcols = snap.columns.filter(_ != RID).toSeq
      val byLower = tcols.map(c => c.toLowerCase -> c).toMap
      def resolve(k: String, clause: String): String =
        byLower.getOrElse(k.toLowerCase, throw new IllegalArgumentException(
          s"MERGE $clause references unknown column '$k'"))
      val setMap = matchedSet.map { case (k, v) => resolve(k, "SET") -> v }.toMap
      // INSERT values and the NOT MATCHED guard see the source row only,
      // so they are computed on the source side, before the join
      val ins = notMatchedInsert.map { clause =>
        val resolved = clause.map { case (k, v) => resolve(k, "INSERT") -> v }
        require(resolved.map(_._1).distinct.size == resolved.size,
          "MERGE INSERT assigns the same column more than once")
        require(tcols.forall(c =>
          resolved.exists(_._1 == c) || genLower(c.toLowerCase)),
          s"INSERT clause must cover all target columns of $root")
        resolved.toMap
      }
      val insCols = ins.toSeq.flatMap(_.keys).zipWithIndex
        .map { case (c, i) => c -> s"__ins$i" }.toMap
      val src = source.as(sourceAlias).select(col(s"$sourceAlias.*") +:
        (ins.toSeq.flatMap(_.toSeq).map { case (c, e) => expr(e).as(insCols(c)) } :+
          notMatchedCond.fold(lit(true))(c => coalesce(expr(c), lit(false)))
            .as("__insok")): _*)
      val j = src.as(sourceAlias).join(snap.as(targetAlias), expr(onCond),
        if (ins.isDefined) "left_outer" else "inner")
      val tRid = col(s"$targetAlias.$RID")
      val matched = tRid.isNotNull
      val delCond = matchedDelete
        .map(c => coalesce(expr(c), lit(false))).getOrElse(lit(false))
      val updCond = matchedSetCond
        .map(c => coalesce(expr(c), lit(false))).getOrElse(lit(true))
      val isDel = matched && delCond
      val isUpd = if (matchedSet.nonEmpty) matched && !delCond && updCond
        else lit(false)
      val isIns = if (ins.isDefined) !matched && col("__insok") else lit(false)
      // dead rows keep their rid + full old values (CDC delete events)
      val dead = when(isDel || isUpd, struct(
        (tcols.map(c => col(s"$targetAlias.$c").as(c)) :+ tRid.as(RID)): _*))
      // the new row's columns under their own names, so generated columns
      // recompute over the POST-set values (SET on them is rejected
      // above) and an INSERT may omit them (computed) or supply them
      // (verified by the reserved CHECK)
      val newRow = tcols.map { c =>
        val upd = setMap.get(c).map(expr)
          .getOrElse(col(s"$targetAlias.$c"))
        insCols.get(c).fold(when(isUpd, upd))(i =>
          when(isUpd, upd).when(isIns, col(i)))
          .cast(snap.schema(c).dataType).as(c)
      }
      val staged = j.filter(isDel || isUpd || isIns ||
          (if (checkCardinality) matched else lit(false)))
        .select(newRow ++ Seq(dead.as(DEAD), isUpd.as("__upd"),
          isIns.as("__ins")) ++
          (if (checkCardinality) Seq(when(matched, tRid).as(MATCHED))
           else Nil): _*)
      gens.foldLeft(staged) { case (d, (n, e)) =>
        d.withColumn(n,
          if (insCols.contains(n)) when(col("__upd"), expr(e)).otherwise(col(n))
          else expr(e))
      }.select(Seq(col(DEAD),
          when(col("__upd") || col("__ins"), struct(tcols.map(col): _*))
            .as(BORN)) ++
        (if (checkCardinality) Seq(col(MATCHED)) else Nil): _*)
    })
  }

  /** Shared compactor commit loop: take the next free ordinal UNLESS another
    * compaction (major or minor) landed above our snapshot — then abort and
    * let the caller discard the staged fold (racing folds would re-apply
    * rows the winner already folded; see the isolation scaladoc). Insert/
    * mutate entries landing concurrently never abort a fold: their deltas
    * stay live on top of it. */
  private def commitFold(f: FileSystem, root: String, snapV: Long,
      mk: Long => Entry): Boolean = {
    var v = snapV + 1
    var attempts = 0
    while (true) {
      val racedFold = entriesAbove(f, root, snapV).exists(e =>
        e.action == "compact" || e.action == "minor" || e.action == "restore")
      if (racedFold) return false
      if (tryCommit(f, root, mk(v))) return true
      attempts += 1
      require(attempts < MAX_COMMIT_ATTEMPTS, s"compact of $root livelocked")
      v = lastVersionOnDisk(f, root) + 1
    }
    false
  }

  /** MAJOR compaction: fold the snapshot at version V into a new base whose
    * log entry claims `folds = V` — O(table) work that resets reads to a
    * plain scan. Row ids survive the fold, so deltas committed above V while
    * it ran still resolve on top of the new base. Superseded dirs are NOT
    * deleted — that is [[vacuum]]'s retention-window decision, so pinned
    * [[readAt]]/[[changesBetween]] below V keep working. Returns false iff
    * another compaction raced this one (the fold is discarded; rerun).
    *
    * `clusterBy` (optional) z-orders the new base on the given columns
    * ([[ZOrder.cluster]], Delta's `OPTIMIZE ... ZORDER BY`): each of the
    * `clusterFiles` output files covers a narrow hyper-rectangle of the
    * filter space, so selective predicates on ANY clustered column skip
    * whole files/row groups on parquet footer stats — the compaction is
    * exactly where a 100 TB table buys its layout back. */
  def compact(spark: SparkSession, root: String,
      clusterBy: Seq[String] = Nil, clusterFiles: Int = 32): Boolean = {
    val f = fs(spark, root)
    val view0 = readView(f, root)
    val snapV = view0.lastVersion
    val dir = s"base_${UUID.randomUUID().toString.take(12)}"
    val snap = snapshotAtV(spark, root, view0)
    val out =
      if (clusterBy.isEmpty) snap
      else ZOrder.cluster(snap, clusterBy, clusterFiles)
    out.write.parquet(s"$root/$dir")
    val won = commitFold(f, root, snapV, v => Entry(v, "compact", dir, snapV))
    if (!won) f.delete(new Path(s"$root/$dir"), true)
    else DataSkipping.collect(spark, s"$root/$dir") // tight per-file stats
    won
  }

  /** MINOR compaction — the reference's MINOR/MAJOR split
    * (`ql/.../txn/compactor/CompactorMR.java`: MINOR merges delta files
    * only, MAJOR rewrites the base): fold the committed deltas into ONE
    * delta without touching the base, so high-frequency ingest pays
    * O(deltas committed since the last fold), never O(table). The folded
    * delta is the NET of the range — rows born and killed inside it vanish
    * from both halves; deletes of base rows survive with their full dead
    * row (the CDC contract). Content-wise the table is unchanged (the
    * minor entry's version has the same snapshot as the one before it).
    * Returns false iff another compaction raced this one. */
  def compactMinor(spark: SparkSession, root: String): Boolean = {
    val f = fs(spark, root)
    val view0 = readView(f, root)
    val snapV = view0.lastVersion
    val (_, deltas) = liveStateV(f, root, view0)
    if (deltas.isEmpty) return true // nothing to fold
    // deltas from every schema epoch read at the declared schema
    val (netIns, netDel) = netOf(spark, f, root, deltas.values.toSeq.map(_.dir),
      schemaAtV(spark, f, root, view0))
    // both halves keep their rids; a fold commits even when all nets out
    val dir = (netDel.map(asDead) ++ netIns.map(asBorn))
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .flatMap(stage(spark, root, _, None, Nil, "MINOR COMPACT", emptyOk = true))
      .fold(s"delta_${UUID.randomUUID().toString.take(12)}")(_.dir)
    val won = commitFold(f, root, snapV, v => Entry(v, "minor", dir, snapV))
    if (!won) f.delete(new Path(s"$root/$dir"), true)
    else if (netIns.nonEmpty) DataSkipping.collect(spark, s"$root/$dir/insert")
    won
  }

  /** Retention-window GC — the only place data directories die. Keeps every
    * dir some snapshot in the last `retainVersions` versions still needs;
    * deletes log-REFERENCED dirs that fell out of the window (superseded by
    * compactions). Unreferenced data dirs are never touched: they are
    * in-flight writers' stages, not garbage (abandoned stages are deleted
    * by their own writer). Stray `.tmp_*` files inside `_txnlog` ARE swept
    * ([[Stores.sweepTemps]], under the log dir's commit lock): they are
    * dead writers' unfinished commit bodies (a live writer in another
    * process whose temp is swept just loses that publish and retries;
    * one in this JVM never loses it). After a vacuum,
    * [[readAt]]/[[changesBetween]] below the window fail on the missing
    * dirs — the documented retention tradeoff every log-structured table
    * format has.
    *
    * With `pruneLog = true` the log METADATA is bounded too: a checkpoint
    * is written at the window edge and at every retained RESTORE that
    * targets a version below it, and every entry file at or below the edge
    * is retired (checkpoints below it as well) — the per-table file count
    * stops growing with commit history. History below the window then
    * fails with an explicit "pruned by vacuum" error instead of a missing-
    * parquet scan error; above it, nothing changes (state at or above the
    * edge replays from the checkpoint). Default false: entries stay, so
    * sub-window time travel keeps working where the dirs happen to survive.
    *
    * Safe to run concurrently with writers: new commits only reference
    * fresh uuid dirs plus dirs live at the current head, which the window
    * always retains; the head is re-checked right before deletion and the
    * plan recomputed if a commit (e.g. a RESTORE resurrecting an old
    * version) landed meanwhile, closing the compute-to-delete window. */
  def vacuum(spark: SparkSession, root: String, retainVersions: Int,
      pruneLog: Boolean = false): Unit = {
    require(retainVersions >= 1, "retention window must include the head")
    val f = fs(spark, root)
    var guard = 0
    var settled = false
    while (!settled) {
      guard += 1
      val (entryFiles, ckptFiles) = listLog(f, root)
      if (entryFiles.isEmpty && ckptFiles.isEmpty) return
      val view = readView(f, root)
      val maxV = view.lastVersion
      val keepFrom = math.max(1L, maxV - retainVersions + 1)
      // the oldest version whose state is still reconstructible (entries
      // from 1, or the oldest checkpoint after a previous prune)
      val entries = readEntryFiles(f, entryFiles)
      val lowest =
        if (entries.headOption.exists(_.version == 1L)) 1L
        else ckptFiles.map(_._1).sorted.headOption.getOrElse(maxV)
      val lo = math.max(keepFrom, lowest)
      val needed = (lo to maxV).flatMap { v =>
        val (b, ds) = liveStateV(f, root, truncateView(f, root, view, v))
        b +: ds.values.toSeq.map(_.dir)
      }.toSet
      // candidates: every dir any surviving entry OR checkpoint references
      // (metadata-only entries carry no dir — the empty string must never
      // reach the delete path: Path("$root/") is the table root)
      val ckpts = ckptFiles.flatMap { case (v, p) =>
        Try(parseCkpt(readBody(f, p))).toOption.filter(_.version == v) }
      val candidates = (entries.map(_.dir) ++
        ckpts.flatMap(c => c.base +: c.deltas.values.toSeq.map(_.dir)))
        .filter(_.nonEmpty).toSet
      val doomed = candidates -- needed
      if (lastVersionOnDisk(f, root) != maxV && guard < 5) {
        () // a commit (possibly a RESTORE) landed while planning: recompute
      } else {
        doomed.foreach(d => f.delete(new Path(s"$root/$d"), true))
        if (doomed.nonEmpty) MetaCache.purge(root)
        // dead writers' unfinished commit temp files
        Stores.sweepTemps(f, new Path(s"$root/$LOG_DIR"))
        if (pruneLog) {
          // the edge, and every retained RESTORE whose target lies below
          // it: replay from these never needs a retired entry
          val ckptAt = keepFrom +: entries.filter(e => e.version > keepFrom &&
            e.action == "restore" && e.folds < keepFrom).map(_.version)
          ckptAt.foreach(v => Try(writeCheckpointAt(f, root, v)))
          if (ckptAt.forall(v => f.exists(ckptPath(root, v)))) {
            entryFiles.filter(_._1 <= keepFrom).foreach(p => f.delete(p._2, false))
            ckptFiles.filter(_._1 < keepFrom).foreach(p => f.delete(p._2, false))
          }
        }
        settled = true
      }
    }
  }
}
