package graft

import java.io.File
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.{MetaCache, Stores}
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** [[graft.operators.MetaCache]] — the one metadata cache — and
  * [[graft.operators.Stores.commitOnce]], the publish that a cached
  * relation's version follows. Contract under test: relations are per
  * (session, path); [[MetaCache.invalidate]] keeps the schema, so a
  * re-open costs no footer-inference job; [[MetaCache.purge]] forgets
  * schema and memos; the eviction loop drops stopped sessions' relations
  * first; a publish whose rename fails leaves the old version live. The
  * eviction test stops the suite's session, so it runs last.
  */
class MetaCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit =
    spark = Engine.session(cores = 2, appName = "graft-metacache")

  override def afterAll(): Unit = spark.stop()

  private val base = s"${Engine.scratchRoot}/metacachespec"

  private def fresh(name: String): String = {
    val p = s"$base/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(p))
    p
  }

  private def write(path: String, sql: String): String = {
    spark.sql(sql).write.mode("overwrite").parquet(path)
    path
  }

  /** Spark jobs started by `body`. Listener events arrive asynchronously,
    * so a marked sentinel job is run and awaited before and after: the
    * bus delivers in order, so once the sentinel is seen every earlier
    * job has been counted. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger()
    @volatile var seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties)
            .exists(_.getProperty("metacachespec.sentinel") != null))
          seen.countDown()
        else jobs.incrementAndGet()
    }
    def flush(): Unit = {
      seen = new CountDownLatch(1)
      val sc = spark.sparkContext
      sc.setLocalProperty("metacachespec.sentinel", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("metacachespec.sentinel", null)
      assert(seen.await(60, TimeUnit.SECONDS), "sentinel job never reported")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      flush()
      val before = jobs.get()
      body
      flush()
      jobs.get() - before
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a hit within one session returns the same relation") {
    val p = write(fresh("hit"), "SELECT id FROM range(10)")
    val a = MetaCache.get(spark, p)
    assert(MetaCache.get(spark, p) eq a)
    assert(a.count() === 10)
  }

  test("a relation is never served to a different session") {
    val p = write(fresh("sessions"), "SELECT id FROM range(10)")
    val other = spark.newSession()
    val mine = MetaCache.get(spark, p)
    val theirs = MetaCache.get(other, p)
    assert(theirs ne mine)
    assert(theirs.sparkSession eq other)
    assert(MetaCache.get(spark, p) eq mine, "each session keeps its own entry")
  }

  test("after invalidate, a re-open lists again but fires no footer-inference job") {
    val p = write(fresh("reopen"), "SELECT id FROM range(10)")
    assert(jobsDuring(MetaCache.get(spark, p)) >= 1,
      "the first open infers the schema with a Spark job")
    val first = MetaCache.get(spark, p)
    // a writer appends a file, then invalidates
    spark.sql("SELECT id FROM range(10, 15)").write.mode("append").parquet(p)
    MetaCache.invalidate(p)
    var reopened: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { reopened = MetaCache.get(spark, p) } === 0)
    assert(reopened ne first)
    assert(reopened.count() === 15, "the re-open sees the appended file")
  }

  test("purge drops the schema and the memos; prefixes match on a path boundary") {
    val p = write(fresh("purge/t1"), "SELECT id AS a FROM range(3)")
    val sibling = write(fresh("purge/t10"), "SELECT id AS a FROM range(3)")
    assert(MetaCache.get(spark, p).columns.toSeq === Seq("a"))
    MetaCache.get(spark, sibling)
    assert(MetaCache.memo(p, "k")("v1") === "v1")
    assert(MetaCache.memo(sibling, "k")("s1") === "s1")
    // rebuilt with another column: an invalidate keeps the old schema ...
    write(p, "SELECT id AS b FROM range(3)")
    MetaCache.invalidate(p)
    assert(MetaCache.get(spark, p).columns.toSeq === Seq("a"))
    assert(MetaCache.memo(p, "k")("v2") === "v1")
    // ... a purge forgets it and the memo
    MetaCache.purge(p)
    assert(MetaCache.get(spark, p).columns.toSeq === Seq("b"))
    assert(MetaCache.memo(p, "k")("v2") === "v2")
    // t10 shares t1's prefix, not its directory: untouched
    assert(MetaCache.cachedPathsUnder(sibling) === Seq(sibling))
    assert(MetaCache.memo(sibling, "k")("s2") === "s1")
  }

  test("publish: when the second rename fails, dst still holds the old contents") {
    val dir = new Path(fresh("publish"))
    val local = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def read(p: Path): String = {
      val in = local.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    def names: Set[String] = local.listStatus(dir).map(_.getPath.getName).toSet
    val v1 = new Path(dir, "1")
    val v2 = new Path(dir, "2")
    assert(Stores.commitOnce(local, v1, "old"))
    val failing = new FilterFileSystem(local) {
      override def rename(src: Path, dst: Path): Boolean =
        if (dst == v2) false else super.rename(src, dst)
    }
    assert(!Stores.commitOnce(failing, v2, "new"))
    assert(read(v1) === "old")
    assert(names === Set("1"), "no new version and no temp file is left")
    assert(!Stores.commitOnce(local, v1, "new"), "a published name is never overwritten")
    assert(read(v1) === "old")
    assert(Stores.commitOnce(local, v2, "new"))
    assert(read(v1) === "old" && read(v2) === "new")
    assert(names === Set("1", "2"))
  }

  test("over the cap, entries of stopped sessions are evicted first") {
    val p1 = write(fresh("evict/a"), "SELECT id FROM range(3)")
    val p2 = write(fresh("evict/b"), "SELECT id FROM range(3)")
    val p3 = write(fresh("evict/c"), "SELECT id FROM range(3)")
    MetaCache.get(spark, p1)
    MetaCache.get(spark, p2)
    spark.stop()
    spark = Engine.session(cores = 2, appName = "graft-metacache")
    MetaCache.get(spark, p3)
    assert(MetaCache.cachedPathsUnder(s"$base/evict").toSet === Set(p1, p2, p3))
    // the live session holds one entry: a cap of one is met by dropping
    // the stopped session's entries alone
    MetaCache.trim(1)
    assert(MetaCache.cachedPathsUnder(s"$base/evict") === Seq(p3))
  }
}
