package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Helpers the at-rest stores (IVF-PQ, binary, graph, BM25/positional)
  * and the transactional log share: driver-bounded id sets and the one
  * commit primitive. */
private[graft] object Stores {

  /** The largest id set the driver handles itself: an `isin` InSet up to
    * here, a broadcast join above; likewise the row bound of a
    * driver-side [[LocalParquet.writeSmall]]. */
  val ID_CAP = 65536

  /** Rows of `df` whose `idCol` is in `ids`: an InSet pushdown within
    * [[ID_CAP]], a broadcast join above. With `nBuckets > 0` the store is
    * `bucket = pmod(id, nBuckets)`-partitioned and the scan first prunes
    * to the buckets the ids fall in. */
  def fetchIds(df: DataFrame, idCol: String, ids: Array[Long],
      nBuckets: Int = 0): DataFrame = {
    val pruned =
      if (nBuckets <= 0) df
      else df.filter(col("bucket").isin(
        ids.map(Math.floorMod(_, nBuckets.toLong)).distinct.toSeq: _*))
    if (ids.length <= ID_CAP) pruned.filter(col(idCol).isin(ids.toSeq: _*))
    else {
      val spark = df.sparkSession
      import spark.implicits._
      pruned.join(broadcast(ids.toSeq.toDF(idCol)), idCol)
    }
  }

  /** Serializes commits into one directory within this JVM. */
  private val dirLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The one commit of the txn log, the index manifests and the index
    * registry: create `dst` holding `body` — temp file beside it, then a
    * rename — or return false if it exists. A visible `dst` is always
    * complete. The local FS's rename can clobber, so commits into one dir
    * also serialize through a JVM lock (exact for local[n]; elsewhere the
    * contract is an FS whose rename never overwrites, as HDFS). */
  def commitOnce(fs: FileSystem, dst: Path, body: String): Boolean =
    dirLocks.computeIfAbsent(dst.getParent.toString, _ => new Object)
      .synchronized {
        if (fs.exists(dst)) false
        else {
          val tmp = new Path(dst.getParent,
            s".tmp_${java.util.UUID.randomUUID().toString.take(12)}")
          val out = fs.create(tmp, true)
          try out.write(body.getBytes("UTF-8")) finally out.close()
          val ok = try fs.rename(tmp, dst)
          catch { case _: java.io.IOException => false } // lost the race
          if (!ok) fs.delete(tmp, false)
          ok
        }
      }
}
