package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one at-rest form of the index kinds the SQL surface registers —
  * GRAPH ([[GraphAnn]]), BINARY ([[BinaryAnn]]), IVF_PQ ([[IvfPq]]), BM25
  * and POSITIONAL ([[Retrieval]]). Each family keeps its codec, walk and
  * probe; this object owns where the files are and when they count:
  * `<path>/_manifest/<version>` (k=v: kind, gen, const.<k>, store.<s>,
  * GRAPH's entry ids) names one `<path>/<store>_<uuid>` dir per store.
  *
  * Readers never trust a directory listing (the Hive `TxnHandler` /
  * `AcidUtils` rule): a dir the latest manifest does not name is garbage,
  * never data. A mutation writes its files, then publishes manifest N+1
  * with [[Stores.commitOnce]] (the txn log's commit), its only commit
  * point. Rebuilds and compactions write FRESH dirs, so readers see the
  * whole previous version until the commit, which then deletes what the
  * new version does not name. Appends (ADD, REMOVE) write into the live
  * dirs and are visible once written; their commit bumps the write
  * generation. Relations are cached per (dir, manifest version), so
  * another JVM's commit is seen on the next open; schemas per (root,
  * kind, store), so a fresh dir costs no footer inference.
  *
  * One tombstone format: `(id)` rows under `tgen=<G>` partitions of the
  * `tombstones` store, G the REMOVE's generation. An index written
  * without a manifest fails to open and asks for a re-CREATE. Single
  * writer per index.
  */
private[graft] object IndexStore {

  private val DIR = "_manifest"

  /** The logical store holding tombstones. */
  val TOMBS = "tombstones"

  /** One committed version; `dirs`: logical store → dir name. */
  final case class Manifest(path: String, version: Long, kind: String,
      gen: Long, consts: Map[String, String], dirs: Map[String, String],
      entries: Seq[Long]) {
    def int(k: String): Int = consts(k).toInt
    def has(store: String): Boolean = dirs.contains(store)
    def dir(store: String): String = s"$path/${dirs(store)}"
  }

  /** The k=v codec of the manifests and the index registry. */
  def encode(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"$k=$v\n" }.mkString

  def readKv(fs: FileSystem, p: Path): Map[String, String] = {
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    txt.linesIterator.filter(_.contains("="))
      .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap
  }

  private def render(m: Manifest): String = encode(
    Seq("kind" -> m.kind, "gen" -> m.gen.toString) ++
      m.consts.toSeq.sorted.map { case (k, v) => s"const.$k" -> v } ++
      m.dirs.toSeq.sorted.map { case (k, v) => s"store.$k" -> v } ++
      Seq("entries" -> m.entries.mkString(",")))

  private def parse(path: String, version: Long,
      kv: Map[String, String]): Manifest = {
    def under(prefix: String) = kv.collect {
      case (k, v) if k.startsWith(prefix) => k.stripPrefix(prefix) -> v
    }
    Manifest(path, version, kv("kind"), kv("gen").toLong, under("const."),
      under("store."),
      kv.getOrElse("entries", "").split(",").filter(_.nonEmpty)
        .map(_.toLong).toSeq)
  }

  private def manifestPath(path: String, version: Long): Path =
    new Path(s"$path/$DIR/" + f"$version%020d")

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The latest committed manifest at `path`: one listing of `_manifest`
    * plus one small read. None when nothing was ever committed there. */
  def latest(spark: SparkSession, path: String): Option[Manifest] = {
    val f = fs(spark, path)
    val versions =
      try f.listStatus(new Path(s"$path/$DIR")).iterator
        .map(_.getPath.getName).filter(n => n.nonEmpty && n.forall(_.isDigit))
        .map(_.toLong).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    versions.maxOption.map(v =>
      parse(path, v, readKv(f, manifestPath(path, v))))
  }

  /** The latest manifest of a `kind` index at `path`. */
  def open(spark: SparkSession, path: String, kind: String): Manifest = {
    val m = latest(spark, path).getOrElse(throw new IllegalStateException(
      s"no index manifest at $path — an index written without one is not " +
        "readable; re-CREATE the index"))
    require(m.kind == kind, s"the index at $path is ${m.kind}, not $kind")
    m
  }

  /** The relation of `store` (or of its `sub` dir) at manifest `m`. */
  def rel(spark: SparkSession, m: Manifest, store: String,
      sub: String = ""): DataFrame = rel(spark, m, store, sub, m.version)

  private def rel(spark: SparkSession, m: Manifest, store: String,
      sub: String, key: Long): DataFrame = {
    val suffix = if (sub.isEmpty) "" else s"/$sub"
    MetaCache.get(spark, m.dir(store) + suffix, key,
      s"${m.path}/$DIR/${m.kind}.$store$suffix")
  }

  /** The (id, tgen) tombstones at `m`, if any REMOVE is uncompacted. */
  def tombstones(spark: SparkSession, m: Manifest): Option[DataFrame] =
    if (m.has(TOMBS)) Some(rel(spark, m, TOMBS)) else None

  /** Every tombstoned id at `m`, distinct and sorted — bounded by the
    * deletes since the last compaction. */
  def tombIds(spark: SparkSession, m: Manifest): Array[Long] = {
    import spark.implicits._
    tombstones(spark, m).fold(Array.emptyLongArray)(
      _.select("id").as[Long].collect().distinct.sorted)
  }

  /** One mutation in flight: the stores it writes into and the manifest it
    * commits as the next version. Appends start from the committed dirs;
    * a rebuild starts from none. */
  final class Change private[IndexStore] (val spark: SparkSession,
      val path: String, kind: String, base0: Option[Manifest],
      dirs0: Map[String, String], collect: Boolean) {

    /** The committed version this change starts from. */
    def base: Manifest = base0.get

    val version: Long = base0.fold(0L)(_.version) + 1

    /** The write generation of an append: one past the committed one. */
    val gen: Long = base0.fold(0L)(_.gen) + 1

    private var dirs = dirs0

    def has(store: String): Boolean = synchronized(dirs.contains(store))

    /** A fresh dir for `store`; it replaces the committed one at commit. */
    def fresh(store: String): String = synchronized {
      val name = s"${store}_${java.util.UUID.randomUUID().toString.take(12)}"
      dirs += store -> name
      s"$path/$name"
    }

    /** Where `store` lives in this change: its dir, or a fresh one. */
    def dir(store: String): String = synchronized(
      dirs.get(store).map(n => s"$path/$n").getOrElse(fresh(store)))

    def drop(store: String): Unit = synchronized(dirs -= store)

    /** Cache key of this change's own view: negative, so never a committed
      * version, and unique, so a failed change leaves nothing a retry could
      * be served. */
    private val viewKey =
      -(java.util.UUID.randomUUID().getMostSignificantBits & Long.MaxValue) - 1

    /** `store` as this change sees it, its own appends included. */
    def rel(store: String): DataFrame =
      IndexStore.rel(spark, manifest(gen, Map.empty, Nil), store, "", viewKey)

    private def manifest(g: Long, consts: Map[String, String],
        entries: Seq[Long]) =
      Manifest(path, version, kind, g, consts, synchronized(dirs), entries)

    /** Publish this change as manifest `version` — its one commit point —
      * then drop the older versions' cached relations, and after a rebuild
      * or a compaction delete every dir and manifest it does not name. */
    def commit(gen: Long,
        consts: Map[String, String] = base0.fold(Map.empty[String, String])(_.consts),
        entries: Seq[Long] = base0.fold(Seq.empty[Long])(_.entries)): Manifest = {
      val m = manifest(gen, consts, entries)
      val f = fs(spark, path)
      if (!Stores.commitOnce(f, manifestPath(path, version), render(m)))
        throw new IllegalStateException(s"commit of $path version $version " +
          "failed (another writer, or the rename failed); the previous " +
          "version stays live")
      MetaCache.invalidate(path)
      if (collect) {
        f.listStatus(new Path(path)).map(_.getPath.getName)
          .filterNot(m.dirs.values.toSet + DIR).foreach { n =>
            f.delete(new Path(s"$path/$n"), true)
            MetaCache.purge(s"$path/$n")
          }
        val keep = manifestPath(path, version).getName
        f.listStatus(new Path(s"$path/$DIR")).map(_.getPath)
          .filter(p => p.getName != keep && !p.getName.startsWith("."))
          .foreach(f.delete(_, false))
        Stores.sweepTemps(f, new Path(s"$path/$DIR"))
      }
      m
    }
  }

  /** An append to the `kind` index at `path` — or, with `compaction`, a
    * rewrite whose fresh dirs replace the stores it rewrites and whose
    * commit collects the old ones. */
  def change(spark: SparkSession, path: String, kind: String,
      compaction: Boolean = false): Change = {
    val m = open(spark, path, kind)
    new Change(spark, path, kind, Some(m), m.dirs, compaction)
  }

  /** A new `kind` index at `path`, replacing whatever is there at commit. */
  def rebuild(spark: SparkSession, path: String, kind: String): Change =
    new Change(spark, path, kind, latest(spark, path), Map.empty, true)

  /** Delete the index at `path` for good (DROP). */
  def drop(spark: SparkSession, path: String): Unit = {
    fs(spark, path).delete(new Path(path), true)
    MetaCache.purge(path)
  }

  /** Append `ids` as tombstones at the change's generation, driver-side. */
  def addTombstones(ch: Change, ids: Array[Long]): Unit =
    LocalParquet.writeFile(ch.spark,
      s"${ch.dir(TOMBS)}/tgen=${ch.gen}/part-${java.util.UUID.randomUUID()}.parquet",
      Seq("id" -> "long"), ids.iterator.map(Seq[Any](_)))

  /** [[addTombstones]] for an `(id)` frame: driver-side when it is small
    * ([[LocalParquet.writeSmall]]), else one Spark-written file. */
  def addTombstones(ch: Change, ids: DataFrame): Unit =
    LocalParquet.writeSmall(ids)(local => addTombstones(ch, local.map(_.getLong(0)))) {
      ids.coalesce(1).write.mode("append")
        .parquet(s"${ch.dir(TOMBS)}/tgen=${ch.gen}")
    }
}
