package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental table replication over the txn log's change feed — the
  * reference's REPL surface re-expressed (`ql/src/java/org/apache/hadoop/
  * hive/ql/parse/ReplicationSpec.java:33` — Hive replication dumps
  * metastore notification events and replays them with EXPORT/IMPORT; the
  * event stream IS a change feed). Here the feed is
  * [[TxnMergeOnRead.changesBetween]] and replay is ONE three-clause MERGE
  * per sync: the SOURCE is never rescanned (the feed reads only the
  * range's delta dirs — plan-asserted in PlanShapeSpec), and the replica
  * pays a single merge (one scan of itself, writes on touched keys only)
  * instead of the full rewrite a re-bootstrap would cost; measured in
  * CdcScale at sf0.1 and ×64.
  *
  * Why one MERGE suffices: `changesBetween` nets events by row id (born-
  * then-killed rows vanish from both sides), so within any range a key
  * carries at most one `insert` event (its FINAL values) and at most one
  * `delete` event (its pre-range values). Delete events whose key also
  * has an insert are the old halves of updates — dropped by an anti-join —
  * leaving exactly one action per key: upsert or delete.
  *
  * Delivery contract: the cursor (last applied source version) commits
  * AFTER the merge as `checkpointDir/cursor_<version>`, through the one
  * commit primitive ([[Stores.commitOnce]]); the highest committed cursor
  * is the live one. A crash between merge and cursor write redelivers the
  * same range; re-applying is value-idempotent (upserts rewrite identical
  * values, deletes miss), so the replica converges to exactly-once EFFECT
  * under at-least-once delivery — the foreachBatch discipline, applied
  * table-to-table. The replica does commit a new (no-value-change) version
  * on such a replay; consumers of the replica's own feed see a
  * self-cancelling update.
  *
  * Schema evolution replicates: a sync whose range includes an ADD
  * COLUMNS commits the same columns on the replica before merging
  * (changesBetween already normalizes events to the range-end schema).
  *
  * A RESTORE on the source cannot be followed: the replica has applied
  * events the restore undid, and no forward range can express the
  * rollback — [[sync]] fails loudly naming [[init]] as the recovery
  * (Hive's bootstrap-again answer to a non-linear source).
  *
  * Contract: `keyCols` are unique and non-null in the source (the merge's
  * cardinality check enforces uniqueness per sync).
  */
object ChangeFeed {

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val CursorName = """cursor_(\d+)""".r

  /** The committed cursors under `checkpointDir`: (source version, file). */
  private def cursors(f: FileSystem, checkpointDir: String): Seq[(Long, Path)] = {
    val d = new Path(checkpointDir)
    if (!f.exists(d)) Nil
    else f.listStatus(d).toSeq.map(_.getPath).flatMap(p => p.getName match {
      case CursorName(v) => Some(v.toLong -> p)
      case _ => None
    })
  }

  /** Last applied source version, or None before [[init]]. */
  def cursor(spark: SparkSession, checkpointDir: String): Option[Long] =
    cursors(fs(spark, checkpointDir), checkpointDir).map(_._1).maxOption

  /** Commit cursor `v` as its own file ([[Stores.commitOnce]]), then delete
    * the superseded ones and the temp files of commits that died before
    * their publish ([[Stores.sweepTemps]]). The live cursor is never
    * removed before a newer one is visible, so a crash at any step leaves
    * the old or the new cursor readable; a racing sync at the same version
    * already committed the same value. */
  private def writeCursor(f: FileSystem, checkpointDir: String,
      v: Long): Unit = {
    val p = new Path(checkpointDir, f"cursor_$v%020d")
    if (!Stores.commitOnce(f, p, v.toString) && !f.exists(p))
      throw new IllegalStateException(
        s"cannot commit replication cursor at $checkpointDir")
    cursors(f, checkpointDir).filter(_._1 < v).foreach(c => f.delete(c._2, false))
    Stores.sweepTemps(f, new Path(checkpointDir))
  }

  /** Bootstrap: replica := source snapshot at a PINNED version (the source
    * may advance concurrently; the cursor records exactly what was
    * copied). Destroys any prior replica/cursor state. */
  def init(spark: SparkSession, srcRoot: String, dstRoot: String,
      checkpointDir: String): Long = {
    val v = TxnMergeOnRead.currentVersion(spark, srcRoot)
    TxnMergeOnRead.create(spark, dstRoot,
      TxnMergeOnRead.readAt(spark, srcRoot, v))
    val f = fs(spark, checkpointDir)
    cursors(f, checkpointDir).foreach(c => f.delete(c._2, false))
    f.mkdirs(new Path(checkpointDir))
    writeCursor(f, checkpointDir, v)
    v
  }

  /** One replication step: consume `(cursor, head]` from the source's
    * change feed, net to one action per key, apply as one MERGE, advance
    * the cursor. Returns the consumed range, or None when already caught
    * up. */
  def sync(spark: SparkSession, srcRoot: String, dstRoot: String,
      checkpointDir: String, keyCols: Seq[String]): Option[(Long, Long)] = {
    require(keyCols.nonEmpty, "replication needs at least one key column")
    val from = cursor(spark, checkpointDir).getOrElse(
      throw new IllegalStateException(
        s"no replication cursor at $checkpointDir — ChangeFeed.init first"))
    val to = TxnMergeOnRead.currentVersion(spark, srcRoot)
    if (to == from) return None
    require(to > from, s"source $srcRoot is at version $to BELOW the " +
      s"cursor's $from — was it recreated? re-init the replica")
    val changes =
      try TxnMergeOnRead.changesBetween(spark, srcRoot, from, to)
      catch {
        case e: IllegalStateException if e.getMessage.contains("RESTORE") =>
          throw new IllegalStateException(
            s"replication of $srcRoot cannot cross its RESTORE: the " +
            "replica has applied changes the source rolled back — " +
            "re-bootstrap with ChangeFeed.init", e)
      }
    applyNet(spark, dstRoot, changes, keyCols)
    writeCursor(fs(spark, checkpointDir), checkpointDir, to)
    Some((from, to))
  }

  /** Net the (already rid-netted) change frame to one action per key and
    * apply it as a single guarded MERGE. Public for crash-replay testing —
    * calling this twice with the same frame must leave the replica
    * unchanged in value. */
  def applyNet(spark: SparkSession, dstRoot: String, changes: DataFrame,
      keyCols: Seq[String]): Unit = {
    val dataCols = changes.columns.filterNot(_ == "change").toSeq
    require(keyCols.forall(dataCols.contains),
      s"key columns ${keyCols.mkString(",")} must exist in the feed " +
      s"(${dataCols.mkString(",")})")
    // replicate schema evolution BEFORE the merge: the feed is normalized
    // to the range-end schema; the replica must hold the new columns
    val have = TxnMergeOnRead.read(spark, dstRoot).columns.toSet
    val missing = changes.schema.fields
      .filter(f => f.name != "change" && !have.contains(f.name))
      .map(f => f.name -> f.dataType.sql).toSeq
    if (missing.nonEmpty) TxnMergeOnRead.addColumns(spark, dstRoot, missing)

    val upserts = changes.filter(col("change") === "insert").drop("change")
    val deletes = changes.filter(col("change") === "delete").drop("change")
      .join(upserts.select(keyCols.map(col): _*), keyCols, "left_anti")
    val srcFrame = upserts.withColumn("_op", lit("u"))
      .unionByName(deletes.withColumn("_op", lit("d")))
    if (srcFrame.isEmpty) return // schema-only range
    val on = keyCols.map(k => s"t.`$k` = s.`$k`").mkString(" AND ")
    val nonKey = dataCols.filterNot(keyCols.contains)
    TxnMergeOnRead.merge(spark, dstRoot, srcFrame, on,
      matchedSet = nonKey.map(c => c -> s"s.`$c`"),
      matchedDelete = Some("s._op = 'd'"),
      notMatchedInsert = Some(dataCols.map(c => c -> s"s.`$c`")),
      matchedSetCond = Some("s._op = 'u'"),
      notMatchedCond = Some("s._op = 'u'"))
    ()
  }
}
