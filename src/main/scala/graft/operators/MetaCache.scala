package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The engine's one metadata cache: parquet relations (file listing plus
  * footer schema), at-rest schemas and small per-path constants for every
  * path-addressed store the engine reads repeatedly — warehouse inputs,
  * transactional base/delta dirs, the at-rest index stores and the
  * bloom/bitmap sidecars. Re-deriving that metadata costs a listing plus a
  * footer-inference Spark job per open, and between writes it cannot
  * change (the Hive metastore's role: metadata lives in one place, not in
  * every operator).
  *
  * The one rule:
  *  - relations are cached per (session, path) and served only to the
  *    session that opened them;
  *  - a writer that changes a path's FILE SET calls [[invalidate]] on it
  *    (or on an ancestor) before any later read: the relations go, the
  *    schema stays, so the re-open skips footer inference;
  *  - a writer that may change a path's SCHEMA or constants, or deletes
  *    the path for good, calls [[purge]]: relations, schema and memos go.
  *
  * Why that is sound: index-store relations are keyed by the version of
  * their committed manifest ([[IndexStore]]), so a commit — by this JVM
  * or another — makes the next open miss (the committing JVM also drops
  * the older versions, which only bounds the heap), and a rewritten
  * store lands in a fresh uuid-named dir. The other mutators —
  * transactional tables, bloom/bitmap sidecars — live in this package
  * under a single-writer contract, so a file-set change is always
  * followed by its invalidation before the next read, and the paths that
  * change schema or go away for good purge. Paths that are never
  * rewritten — warehouse inputs, uuid-named
  * transactional dirs — need no call until they are deleted. Metadata
  * is held, and one kind of row data: the row ids of a transactional
  * delete half (`TxnMergeOnRead.deadRidsOf`), immutable like its dir and
  * held only while a snapshot's live delete halves sum to at most
  * [[Stores.ID_CAP]] rows, so one entry holds at most that many ids.
  * Plans stay lazy and every action re-reads parquet. Prefixes match on
  * a path boundary, so `/w/t1` never touches `/w/t10`.
  *
  * Bounded by one eviction loop: past [[CAP]] entries, relations of
  * stopped sessions go first, then an arbitrary quarter of a map; an
  * evicted entry costs one re-derivation on its next use, never a wrong
  * answer.
  */
private[graft] object MetaCache {

  private val CAP = 4096

  /** (session identity hash, path, version) → relation. The key is a
    * string so the map never pins a session; identity hashes can repeat
    * after a GC, so a hit is also checked `eq` against the calling
    * session. */
  private val rels = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Long), DataFrame]()

  /** (path, key) → per-path constant; key "" is the at-rest schema. */
  private val consts =
    new java.util.concurrent.ConcurrentHashMap[(String, String), AnyRef]()

  /** The parquet relation at `path` for this session; a miss re-lists the
    * files and reuses the remembered schema when there is one. An index
    * store passes its manifest `version` (a relation is never served at
    * another) and keeps its schema under `schemaAt` instead of `path`. */
  def get(spark: SparkSession, path: String, version: Long = 0L,
      schemaAt: String = null): DataFrame = {
    val key = (System.identityHashCode(spark).toHexString, path, version)
    val hit = rels.get(key)
    if (hit != null && (hit.sparkSession eq spark)) hit
    else {
      val sk = Option(schemaAt).getOrElse(path)
      val df = consts.get((sk, "")) match {
        case s: StructType => spark.read.schema(s).parquet(path)
        case _ =>
          val d = spark.read.parquet(path)
          memo(sk, "")(d.schema)
          d
      }
      trim(CAP)
      rels.put(key, df)
      df
    }
  }

  /** The at-rest schema of `path`: inferred from the footers once (one
    * Spark job), remembered until [[purge]]. */
  def schema(spark: SparkSession, path: String): StructType =
    memo(path, "")(spark.read.parquet(path).schema)

  /** A per-path constant under `key` — a sidecar's probe metadata, a
    * transactional data dir's file list, a delete half's row count and
    * row ids — computed on first use (outside
    * any lock: a race computes twice, harmlessly) and kept until
    * [[purge]]. */
  def memo[T <: AnyRef](path: String, key: String)(compute: => T): T = {
    val hit = consts.get((path, key))
    if (hit != null) hit.asInstanceOf[T]
    else {
      val v = compute
      trim(CAP)
      consts.put((path, key), v)
      v
    }
  }

  /** The file set under `prefix` changed: drop its relations. */
  def invalidate(prefix: String): Unit =
    rels.keySet().removeIf(k => under(k._2, prefix))

  /** The schema or constants under `prefix` may change, or the path is
    * gone for good: drop relations, schemas and memos. */
  def purge(prefix: String): Unit = {
    invalidate(prefix)
    consts.keySet().removeIf(k => under(k._1, prefix))
  }

  /** Cached relation paths under `prefix` (spec observability). */
  private[graft] def cachedPathsUnder(prefix: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    rels.keySet().forEach(k => if (under(k._2, prefix)) out += k._2)
    out.result()
  }

  private def under(p: String, prefix: String): Boolean =
    p == prefix || p.startsWith(prefix + "/")

  /** The eviction loop, run before each insert with [[CAP]]; exposed with
    * its bound so the spec can drive it without filling 4096 entries. */
  private[graft] def trim(cap: Int): Unit = {
    if (rels.size > cap) {
      rels.values().removeIf(_.sparkSession.sparkContext.isStopped)
      dropQuarter(rels, cap)
    }
    dropQuarter(consts, cap)
  }

  private def dropQuarter(m: java.util.concurrent.ConcurrentHashMap[_, _],
      cap: Int): Unit =
    if (m.size > cap) {
      val it = m.keySet().iterator()
      var drop = m.size / 4
      while (it.hasNext && drop > 0) { it.next(); it.remove(); drop -= 1 }
    }
}
