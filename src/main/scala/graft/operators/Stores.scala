package graft.operators

import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.util.Failure

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.spark.FutureAction
import org.apache.spark.rdd.PartitionPruningRDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, InSet}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.LongType

/** Helpers the at-rest stores (IVF-PQ, binary, graph, BM25/positional)
  * and the transactional log share: driver-bounded id sets and the one
  * commit primitive. */
private[graft] object Stores {

  /** The largest id set the driver handles itself: an InSet up to here,
    * a broadcast join above ([[fetchIds]]); the largest live delete set a
    * transactional snapshot filters from driver-held rids
    * (`TxnMergeOnRead.snapshotAtV`); likewise the row bound of
    * [[boundedRows]], so of a driver-side [[LocalParquet.writeSmall]] and
    * of a transactional stage written from the driver
    * (`TxnMergeOnRead.stage`: a DML statement staging at most this many
    * rows writes them without a Spark write job). */
  val ID_CAP = 65536

  /** What [[boundedRows]] computed: `held`, rows in hand on the driver,
    * and `rest`, the rows it did not hand over (None: `held` is every row
    * of the frame). */
  final case class Bounded(held: Array[InternalRow], rest: Option[DataFrame])

  /** The rows of `df` in ONE job, in hand while they fit [[ID_CAP]]. Each
    * task returns its partition's rows (at most ID_CAP + 1, copied); the
    * driver keeps whole partitions while their sum fits the cap and
    * cancels the job at the first one that does not, so a frame over the
    * cap computes about ID_CAP rows before the answer is known — as
    * `take(ID_CAP + 1)` does, but `take` runs one job per scale-up round
    * when fewer rows exist than it asked for. `rest` reads the partitions
    * not in hand from the same RDD, so a shuffle the plan already ran is
    * read again, not rerun. A plan the optimizer folds to a
    * `LocalRelation` (inline VALUES, a projection of one) runs no job. */
  def boundedRows(df: DataFrame): Bounded = {
    val qe = df.queryExecution
    qe.optimizedPlan match {
      case l: LocalRelation =>
        if (l.data.length <= ID_CAP) Bounded(l.data.toArray, None)
        else Bounded(Array.empty, Some(df))
      case _ => SQLExecution.withNewExecutionId(qe, Some("bounded rows")) {
        val rdd = qe.toRdd
        val cap = ID_CAP
        val parts = new Array[Array[InternalRow]](rdd.getNumPartitions)
        var held = 0L
        val over = new AtomicBoolean(false)
        val job = new AtomicReference[FutureAction[Unit]]()
        // results arrive one at a time on the scheduler's thread
        job.set(rdd.sparkContext.submitJob(rdd,
          (it: Iterator[InternalRow]) => {
            val rows = it.take(cap + 1).map(_.copy()).toArray
            if (rows.length > cap) null else rows
          },
          rdd.partitions.indices,
          (p: Int, rows: Array[InternalRow]) => if (!over.get) {
            if (rows != null && held + rows.length <= cap) {
              parts(p) = rows
              held += rows.length
            } else {
              over.set(true)
              Option(job.get).foreach(_.cancel())
            }
          }, ()))
        if (over.get) job.get.cancel()
        Await.ready(job.get, Duration.Inf).value.get match {
          case Failure(e) if !over.get => throw e
          case _ =>
        }
        if (!over.get) Bounded(parts.flatten, None)
        else {
          // the filter ships with every task of `rest`: a set of ids, not
          // the rows in hand
          val notHeld = parts.indices.filter(parts(_) == null).toSet
          Bounded(parts.filter(_ != null).flatten, Some(ColumnBridge.ofRdd(
            df.sparkSession, PartitionPruningRDD.create(rdd, notHeld),
            df.schema)))
        }
      }
    }
  }

  /** Rows of `df` whose `idCol` is in `ids`: an InSet pushdown within
    * [[ID_CAP]], a broadcast join above. The InSet is built as one
    * expression over the id set — the form the optimizer would turn an
    * `isin` of one literal per id into, without analysing and optimizing
    * those literals first. With `nBuckets > 0` the store is
    * `bucket = pmod(id, nBuckets)`-partitioned and the scan first prunes
    * to the buckets the ids fall in. */
  def fetchIds(df: DataFrame, idCol: String, ids: Array[Long],
      nBuckets: Int = 0): DataFrame = {
    val pruned =
      if (nBuckets <= 0) df
      else df.filter(col("bucket").isin(
        ids.map(Math.floorMod(_, nBuckets.toLong)).distinct.toSeq: _*))
    if (ids.length <= ID_CAP) {
      val id = ColumnBridge.logicalPlan(pruned)
        .resolve(Seq(idCol), pruned.sparkSession.sessionState.conf.resolver)
        .getOrElse(throw new IllegalArgumentException(s"no column $idCol"))
      pruned.filter(ColumnBridge.column(InSet(
        if (id.dataType == LongType) id else Cast(id, LongType),
        ids.toSet[Any])))
    } else {
      val spark = df.sparkSession
      import spark.implicits._
      pruned.join(broadcast(ids.toSeq.toDF(idCol)), idCol)
    }
  }

  /** Serializes commits into one directory, and its temp sweeps, within
    * this JVM. */
  private val dirLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def lockOf(dir: Path): Object =
    dirLocks.computeIfAbsent(dir.toString, _ => new Object)

  /** The one commit of the txn log, the index manifests and the index
    * registry: create `dst` holding `body` — temp file beside it, then a
    * no-overwrite publish — or return false if it exists. A visible `dst`
    * is always complete. The local filesystem's rename(2) replaces an
    * existing file, so two processes could both "win" one name there: on
    * `file:` the publish is a hard link (link(2) fails on an existing
    * name, atomically, across processes) and the temp file's `.crc`
    * sidecar is then renamed to `dst`'s; elsewhere it is a rename (HDFS
    * never renames over a file). Commits into one dir also serialize
    * through a JVM lock. A temp file that vanished before its publish — a
    * [[sweepTemps]] in another process took it for a dead writer's —
    * loses like a taken name: false, and the caller retries. */
  def commitOnce(fs: FileSystem, dst: Path, body: String): Boolean =
    lockOf(dst.getParent).synchronized {
      if (fs.exists(dst)) false
      else {
        val tmp = new Path(dst.getParent,
          s".tmp_${java.util.UUID.randomUUID().toString.take(12)}")
        val out = fs.create(tmp, true)
        try out.write(body.getBytes("UTF-8")) finally out.close()
        val ok = fs match {
          case local: LocalFileSystem =>
            val raw = local.getRawFileSystem
            val won = try {
              java.nio.file.Files.createLink(local.pathToFile(dst).toPath,
                local.pathToFile(tmp).toPath)
              true
            } catch {
              case _: java.nio.file.FileAlreadyExistsException |
                  _: java.nio.file.NoSuchFileException => false
            }
            if (won) {
              val crc = local.getChecksumFile(tmp)
              if (raw.exists(crc)) raw.rename(crc, local.getChecksumFile(dst))
              raw.delete(tmp, false)
            }
            won
          case _ =>
            try fs.rename(tmp, dst)
            catch { case _: java.io.IOException => false } // lost the race
        }
        if (!ok) fs.delete(tmp, false)
        ok
      }
    }

  /** Delete the `.tmp_` files [[commitOnce]] leaves in `dir` when its
    * process dies between writing and publishing one. Holds the dir's JVM
    * lock, so no commit of this JVM loses its temp file to the sweep; a
    * commit in another process that does loses that publish and retries. */
  def sweepTemps(fs: FileSystem, dir: Path): Unit =
    lockOf(dir).synchronized {
      val temps =
        try fs.listStatus(dir).toSeq.map(_.getPath)
          .filter(_.getName.startsWith(".tmp_"))
        catch { case _: java.io.FileNotFoundException => Nil }
      temps.foreach(fs.delete(_, false))
    }
}
