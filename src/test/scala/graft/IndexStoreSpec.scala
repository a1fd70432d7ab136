package graft

import java.io.File
import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import graft.operators._
import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import scala.jdk.CollectionConverters._

/** The local filesystem under the `crashfs` scheme. Once armed at N, its
  * N-th mutation (create, rename, delete, mkdirs of a missing dir) and
  * every later one throw — the process "died" there, and nothing after it
  * happens. `failRename` instead fails only the renames it selects,
  * `noClobber` gives rename HDFS's answer to an existing destination file:
  * false, where the local rename(2) replaces it, and `stepWrites` also
  * counts the first write into each created file as a mutation — a crash
  * there leaves the file created but empty. */
class CrashFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("crashfs:///")
  override def getScheme: String = "crashfs"

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CrashFs.step("create", f)
    CrashFs.stepping(f,
      super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CrashFs.step("create", f)
    CrashFs.stepping(f, super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CrashFs.step("create", f)
    CrashFs.stepping(f, super.createNonRecursive(f, permission, flags,
      bufferSize, replication, blockSize, progress))
  }

  override def rename(src: Path, dst: Path): Boolean = {
    CrashFs.step("rename", src)
    if (CrashFs.failRename(dst))
      throw new java.io.IOException(s"rename $src -> $dst failed")
    if (CrashFs.noClobber && pathToFile(dst).isFile) false
    else super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashFs.step("delete", p)
    super.delete(p, recursive)
  }

  override def mkdirs(f: Path): Boolean = {
    if (!exists(f)) CrashFs.step("mkdirs", f)
    super.mkdirs(f)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    if (!exists(f)) CrashFs.step("mkdirs", f)
    super.mkdirs(f, permission)
  }
}

object CrashFs {
  private val done = new AtomicLong()
  @volatile private var failFrom = Long.MaxValue
  @volatile var failRename: Path => Boolean = _ => false
  @volatile var noClobber = false
  @volatile var stepWrites = false

  /** Count mutations from zero; fail the `at`-th (0-based) and later. */
  def arm(at: Long): Unit = { done.set(0); failFrom = at }

  /** Stop failing; the number of mutations since [[arm]]. */
  def disarm(): Long = { failFrom = Long.MaxValue; done.get }

  def step(what: String, p: Path): Unit =
    if (done.getAndIncrement() >= failFrom)
      throw new java.io.IOException(s"crash at $what $p")

  /** `out`, whose first write is a [[step]] while `stepWrites` is on. */
  def stepping(f: Path, out: FSDataOutputStream): FSDataOutputStream =
    if (!stepWrites) out
    else new FSDataOutputStream(new java.io.OutputStream {
      private var first = true
      private def once(): Unit =
        if (first) { first = false; step("write", f) }
      override def write(b: Int): Unit = { once(); out.write(b) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        once(); out.write(b, off, len)
      }
      override def flush(): Unit = out.flush()
      override def close(): Unit = out.close()
    }, null)
}

/** [[IndexStore]]: the manifest is the one commit point of every index
  * kind the SQL surface registers. For each kind, COMPACT and a CREATE
  * over an existing index fail at every filesystem mutation in turn
  * ([[CrashFs]]); a TOPK from a fresh session must then return exactly
  * the rows before or after the operation, and the next successful
  * COMPACT must leave no dir the manifest does not name. A TOPK reads
  * the latest manifest and the files under the dirs it names, nothing
  * else, so a crash point that leaves those bytes identical to a state
  * already probed reads as that state's rows; every other state is
  * probed from a fresh session. Also: a failed
  * manifest commit leaves the previous version live, a manifest written
  * by another process is never answered from a relation cached at the
  * older version, and an index written without a manifest asks for a
  * re-CREATE. */
class IndexStoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var savedRoot: String = _
  private val base = s"${Engine.scratchRoot}/indexstorespec"

  /** Seeded synthetic corpora: 200 64-dim vectors and 200 twenty-word
    * documents over a twelve-word vocabulary. */
  private val rnd = new scala.util.Random(7)
  private val vectors = (0L until 200L).map(i =>
    (i, Seq.fill(64)(rnd.nextGaussian().toFloat)))
  private val words = Seq("sort", "order", "column", "window", "agg", "part",
    "join", "scan", "group", "table", "key", "the")
  private val texts = (0L until 200L).map(i =>
    (i, Seq.fill(20)(words(rnd.nextInt(words.size))).mkString(" ")))

  override def beforeAll(): Unit = {
    spark = Engine.session(cores = 2, appName = "graft-indexstore")
    spark.sparkContext.hadoopConfiguration
      .set("fs.crashfs.impl", classOf[CrashFs].getName)
    FileUtils.deleteQuietly(new File(base))
    savedRoot = IndexZooSql.managedRoot
    IndexZooSql.managedRoot = s"$base/managed"
    val ss = spark
    import ss.implicits._
    val emb = vectors.toDF("id", "embedding")
    val docs = texts.toDF("doc_id", "text")
    // one base view per vector kind: a column takes one vector index
    Seq("graph", "binary", "ivf").foreach(k =>
      emb.filter(col("id") < 160).createOrReplaceTempView(s"isx_$k"))
    emb.filter(col("id").between(160, 199)).createOrReplaceTempView("isx_vadd")
    emb.filter(col("id") < 160 && col("id") % 10 === 3).select("id")
      .createOrReplaceTempView("isx_vrm")
    docs.filter(col("doc_id") < 150).createOrReplaceTempView("isx_doc")
    docs.filter(col("doc_id").between(150, 199))
      .createOrReplaceTempView("isx_dadd")
  }

  override def afterAll(): Unit = {
    IndexZooSql.managedRoot = savedRoot
    spark.stop()
  }

  private def queryView(s: SparkSession): Unit =
    s.createDataFrame(vectors.take(12)).toDF("id", "embedding")
      .createOrReplaceTempView("isx_q")

  /** One index kind as the SQL surface sees it. `rebuild` builds the
    * kind again at a path from a smaller corpus (the CREATE over an
    * existing index). */
  private case class Kind(kind: String, family: String, table: String,
      createOpts: String, topk: String, dml: Seq[String],
      rebuild: String => Unit) {
    val idx = s"isx_${kind.toLowerCase}"
    def create(path: String): String =
      s"CREATE $family INDEX $idx ON $table (" +
        (if (family == "VECTOR") "embedding" else "text") +
        s") AS '$kind' OPTIONS ($createOpts${
          if (createOpts.isEmpty) "" else ", "}path='$path')"
  }

  private def vec2 = spark.table("isx_graph").filter(col("id") < 140)
  private def doc2 = spark.table("isx_doc").filter(col("doc_id") % 2 === 1)

  private def vecDml(idx: String) = Seq(
    s"ALTER VECTOR INDEX $idx ADD FROM isx_vadd",
    s"ALTER VECTOR INDEX $idx REMOVE FROM isx_vrm")

  private val kinds = Seq(
    Kind("GRAPH", "VECTOR", "isx_graph", "m=4, m1=2, buckets=2",
      "VECTOR TOPK ON isx_graph (embedding) QUERIES isx_q LIMIT 5 " +
        "OPTIONS (ef1=4, hops1=1, ef=8, hops=1)",
      vecDml("isx_graph"),
      p => GraphAnn.writeIndex(vec2, p, m = 4, m1 = 2, nBuckets = 2)),
    Kind("BINARY", "VECTOR", "isx_binary", "",
      "VECTOR TOPK ON isx_binary (embedding) QUERIES isx_q LIMIT 5 " +
        "OPTIONS (shortlist=16)",
      vecDml("isx_binary"),
      p => BinaryAnn.buildIndex(vec2, p)),
    Kind("IVF_PQ", "VECTOR", "isx_ivf",
      "stride=40, m=16, ncent=16, pqstride=7",
      "VECTOR TOPK ON isx_ivf (embedding) QUERIES isx_q LIMIT 5 " +
        "OPTIONS (nprobe=2, shortlist=16)",
      vecDml("isx_ivf_pq"),
      p => IvfPq.buildIndex(vec2, p, 40, 16, 16, 7)),
    Kind("BM25", "FULLTEXT", "isx_doc", "buckets=4",
      "FULLTEXT TOPK ON isx_doc (text) QUERIES ((1,'sort join'), " +
        "(2,'window')) LIMIT 5",
      Seq("ALTER FULLTEXT INDEX isx_bm25 ADD FROM isx_dadd"),
      p => Retrieval.bm25WriteIndex(doc2, p, 4)),
    Kind("POSITIONAL", "FULLTEXT", "isx_doc", "buckets=4",
      "PHRASE TOPK ON isx_doc (text) PHRASES ((1,'table scan'), " +
        "(2,'order sort')) LIMIT 5",
      Seq("ALTER FULLTEXT INDEX isx_positional ADD FROM isx_dadd"),
      p => Retrieval.phraseWriteIndex(doc2, p, 4)))

  /** The kind's TOPK from a fresh session — no cached relation, no view
    * but the query set, so the probe reads the index alone. */
  private def topk(k: Kind): Set[Seq[Any]] = {
    val s = spark.newSession()
    queryView(s)
    IndexZooSql.sql(s, k.topk).collect().map(_.toSeq).toSet
  }

  /** What a read of the index at `local` depends on: the latest manifest
    * and every file under the dirs it names, as (relative path, md5). */
  private def state(local: String): Seq[(String, String)] = {
    val m = IndexStore.latest(spark, local).get
    val named = m.dirs.values.toSeq.flatMap(d =>
      FileUtils.listFiles(new File(s"$local/$d"), null, true).asScala)
    (new File(f"$local/_manifest/${m.version}%020d") +: named).map { f =>
      f.getPath.stripPrefix(local) ->
        java.security.MessageDigest.getInstance("MD5")
          .digest(FileUtils.readFileToByteArray(f)).map("%02x".format(_)).mkString
    }.sorted
  }

  /** The dirs under `local` that the latest manifest does not name, plus
    * any manifest file beside the latest. */
  private def unreferenced(local: String): Seq[String] = {
    val m = IndexStore.latest(spark, local).get
    new File(local).list().toSeq.filterNot(m.dirs.values.toSet + "_manifest") ++
      new File(s"$local/_manifest").list().toSeq
        .filterNot(_ == f"${m.version}%020d").map(n => s"_manifest/$n")
  }

  /** Wait (up to 30 s) until no Spark job or stage is active. */
  private def quiesce(): Unit = {
    val st = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while ((st.getActiveJobIds.nonEmpty || st.getActiveStageIds.nonEmpty) &&
        System.nanoTime() < deadline) Thread.sleep(20)
  }

  private def crashCase(k: Kind, op: String): Unit = {
    val local = s"$base/${k.kind}_$op"
    val golden = s"${local}_golden"
    val path = s"crashfs://$local"
    queryView(spark)
    IndexZooSql.sql(spark, k.create(path))
    try {
      if (op == "compact") k.dml.foreach(IndexZooSql.sql(spark, _))
      val run: () => Unit =
        if (op == "compact") () =>
          IndexZooSql.sql(spark, s"ALTER ${k.family} INDEX ${k.idx} COMPACT")
        else () => k.rebuild(path)
      FileUtils.copyDirectory(new File(local), new File(golden))
      def restore(): Unit = {
        // a killed task may still be removing its own files: retry
        var tries = 0
        while (scala.util.Try(FileUtils.deleteDirectory(new File(local)))
            .isFailure && tries < 50) { tries += 1; Thread.sleep(20) }
        FileUtils.copyDirectory(new File(golden), new File(local))
      }
      val pre = topk(k)
      assert(pre.nonEmpty, s"${k.kind}: empty probe")
      CrashFs.arm(Long.MaxValue)
      run()
      val n = CrashFs.disarm()
      val post = topk(k)
      val postState = state(local)
      if (op == "create") assert(post != pre, s"${k.kind}: rebuild changed nothing")
      else assert(post == pre, s"${k.kind}: compaction changed probe rows")
      val probed = scala.collection.mutable.Map(postState -> post)
      restore()
      probed(state(local)) = pre
      // parallel writers can interleave (and probe-then-create a dir)
      // differently from run to run, so a late crash point may fall past
      // the end of another run; most of them must still hit
      var crashed = 0
      for (i <- 0L until n) {
        restore()
        CrashFs.arm(i)
        if (scala.util.Try(run()).isFailure) crashed += 1
        quiesce() // a failed job's sibling tasks are killed asynchronously
        CrashFs.disarm()
        val got = probed.getOrElseUpdate(state(local), topk(k))
        assert(got == pre || got == post,
          s"${k.kind} $op crashed at mutation $i of $n: neither pre nor post")
      }
      assert(crashed * 2 >= n, s"only $crashed of $n crash points failed")
      IndexZooSql.sql(spark, s"ALTER ${k.family} INDEX ${k.idx} COMPACT")
      assert(unreferenced(local) === Nil, s"${k.kind} $op")
      val last = topk(k)
      assert(last == pre || last == post)
    } finally {
      CrashFs.disarm()
      IndexZooSql.sql(spark, s"DROP ${k.family} INDEX ${k.idx}")
    }
  }

  for (k <- kinds; op <- Seq("compact", "create"))
    test(s"${k.kind} ${op.toUpperCase}: every crash point reads as the " +
        "pre-state or the post-state") {
      crashCase(k, op)
    }

  test("a failed manifest commit leaves the previous version live; the " +
      "retry commits and collects") {
    val k = kinds.find(_.kind == "BINARY").get
    val local = s"$base/failed_commit"
    val path = s"crashfs://$local"
    queryView(spark)
    IndexZooSql.sql(spark, k.create(path))
    try {
      k.dml.foreach(IndexZooSql.sql(spark, _))
      val before = IndexStore.latest(spark, path).get
      val rows = topk(k)
      CrashFs.failRename = p => p.getParent.getName == "_manifest"
      try intercept[IllegalStateException](
        IndexZooSql.sql(spark, s"ALTER VECTOR INDEX ${k.idx} COMPACT"))
      finally CrashFs.failRename = _ => false
      val after = IndexStore.latest(spark, path).get
      assert(after == before, "the failed commit must not move the version")
      assert(after.has(IndexStore.TOMBS))
      assert(topk(k) == rows)
      // the compaction's fresh store is written but unnamed; no temp left
      assert(unreferenced(local).exists(_.startsWith("vectors_")))
      assert(!new File(s"$local/_manifest").list().exists(_.startsWith(".")))
      IndexZooSql.sql(spark, s"ALTER VECTOR INDEX ${k.idx} COMPACT")
      val done = IndexStore.latest(spark, path).get
      assert(done.version == before.version + 1 && !done.has(IndexStore.TOMBS))
      assert(topk(k) == rows)
      assert(unreferenced(local) === Nil)
    } finally IndexZooSql.sql(spark, s"DROP VECTOR INDEX ${k.idx}")
  }

  test("a manifest committed elsewhere is never answered from a relation " +
      "cached at the older version; a commit drops the older relations") {
    val path = s"$base/fresh"
    val emb = spark.table("isx_binary")
    BinaryAnn.buildIndex(emb, path)
    val m1 = IndexStore.latest(spark, path).get
    val n1 = BinaryAnn.openIndex(spark, path).count()
    assert(MetaCache.cachedPathsUnder(path).nonEmpty)
    // another process appends a generation and commits version 2: a
    // copy of generation 0 under agen=1, then the manifest file itself
    val vdir = m1.dir("vectors")
    FileUtils.copyDirectory(new File(s"$vdir/agen=0"), new File(s"$vdir/agen=1"))
    val body = FileUtils.readFileToString(
      new File(f"$path/_manifest/${m1.version}%020d"), "UTF-8")
      .replace(s"gen=${m1.gen}\n", "gen=1\n")
    FileUtils.writeStringToFile(
      new File(f"$path/_manifest/${m1.version + 1}%020d"), body, "UTF-8")
    val m2 = IndexStore.latest(spark, path).get
    assert(m2.version == m1.version + 1 && m2.gen == 1L)
    assert(BinaryAnn.openIndex(spark, path).count() == 2 * n1,
      "served the relation listed at the older version")
    // a commit in this JVM drops every older-version relation of the root
    BinaryAnn.addBatch(spark.table("isx_vadd"), path)
    assert(MetaCache.cachedPathsUnder(path).isEmpty)
    assert(BinaryAnn.openIndex(spark, path).count() == 2 * n1 + 40)
  }

  test("an index written without a manifest asks for a re-CREATE") {
    val path = s"$base/legacy"
    FileUtils.writeStringToFile(new File(s"$path/_meta"),
      "m=8\nm1=4\nnBuckets=16\nlayers=1\ngen=1\n", "UTF-8")
    val e = intercept[IllegalStateException](
      GraphAnn.probeIndex(spark.table("isx_vadd"), path, 5))
    assert(e.getMessage.contains("re-CREATE"))
  }
}
