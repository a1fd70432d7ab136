package graft

import java.io.{ByteArrayOutputStream, File, PrintStream}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.tools.Scale

/** Every `Scale` case at its smallest ×N on sf0.001, through the runner's
  * own entry point, so each case's checks run; none leaves its scratch dir
  * behind. */
class ScaleSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cores = 4, appName = "graft-scale")
  private val sf = "/root/testdata/sf0.001"

  /** The least ×N each case's checks hold at, where it is not 1: the ×N
    * warehouse needs a copy, and `graph`'s insert/delete batch selection
    * needs ×4. */
  private val smallest = Map("scaleup" -> 2, "graph" -> 4).withDefaultValue(1)

  override def afterAll(): Unit = spark.stop()

  /** The case's stdout. */
  private def run(name: String, factor: Int, queries: Seq[String] = Nil,
      args: Seq[String] = Nil): String = {
    val out = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(out, true)) {
      Scale.run(spark, name, sf, Some(factor), queries, args)
    }
    assert(!new File(s"${Engine.scratchRoot}/scale/$name").exists(),
      s"$name left its scratch dir behind")
    out.toString
  }

  test("profile prints one ==== line per query and iteration, then the final plan") {
    val qs = Seq("q01_agg_pricing_summary", "q165_truncate_drop_partition")
    val lines = run("profile", 1, qs).linesIterator.toSeq
    val heads = lines.filter(_.contains("===="))
    assert(heads.size === 4, heads)
    for (q <- qs; it <- 1 to 2)
      assert(heads.count(_.contains(s"==== $q iter $it: ")) === 1, heads)
    assert(heads.forall(h => " \\d+ jobs, job-sum ".r.findFirstIn(h).isDefined), heads)
    assert(qs.forall(q => lines.contains(s"[scale] profile final plan of $q:")))
  }

  test("funcaudit lists the names that resolve nowhere") {
    val names = File.createTempFile("funcaudit", ".txt")
    try {
      java.nio.file.Files.writeString(names.toPath, "upper\nconcat\nno_such_fn\n+\n")
      val out = run("funcaudit", 1, args = Seq(names.getPath))
      assert(out.contains("[scale] funcaudit UNRESOLVED: no_such_fn\n"), out)
      assert(out.contains("total=4 unresolved=1"), out)
    } finally names.delete()
  }

  for (c <- Scale.cases if !Set("profile", "funcaudit")(c.name))
    test(s"${c.name} runs at ×${smallest(c.name)}") {
      val out = run(c.name, smallest(c.name))
      assert(out.contains(s"[scale] ${c.name} "), out)
    }
}
