package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Helpers the at-rest stores (IVF-PQ, binary, graph, BM25/positional)
  * share for driver-bounded id sets and for publishing a rewritten store. */
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

  /** Replace `dst` with the fully written `tmp`. The live `dst` is moved
    * aside, never deleted first, so a failure at any step leaves the old
    * or the new store readable at `dst`: if the second rename fails the
    * old one is moved back. Finishes by invalidating `dst`'s cached
    * relations. Recovering a publish that died between the renames (old
    * store left at `<dst>_old`) is not done here. */
  def publish(fs: FileSystem, tmp: String, dst: String): Unit = {
    val live = new Path(dst)
    val old = new Path(s"${dst}_old")
    fs.delete(old, true) // leftover of an earlier failed publish
    val hadLive = fs.exists(live)
    if (hadLive) require(fs.rename(live, old),
      s"publish: rename $live -> $old failed; $dst left untouched")
    if (!fs.rename(new Path(tmp), live)) {
      if (hadLive) fs.rename(old, live)
      throw new IllegalStateException(
        s"publish: rename $tmp -> $live failed; original restored")
    }
    if (hadLive) fs.delete(old, true)
    MetaCache.invalidate(dst)
  }
}
