package graft

import java.io.{ByteArrayOutputStream, DataOutputStream}

import graft.sources.ColumnarRowGroupFile
import org.scalatest.funsuite.AnyFunSuite

/** Codec-level checks for the RCFile re-expression: round-trip fidelity,
  * multi-group handling, and the format's defining lazy-column property —
  * a pruned read touches only the wanted columns' bytes. */
class SourcesRcSpec extends AnyFunSuite {

  private def container(groups: Seq[Seq[Array[String]]], nCols: Int): Array[Byte] = {
    val raw = new ByteArrayOutputStream()
    val out = new DataOutputStream(raw)
    out.write(Array[Byte]('G', 'R', 'C', 'F', '1'))
    groups.foreach(g => ColumnarRowGroupFile.writeGroup(out, g, nCols))
    out.flush()
    raw.toByteArray
  }

  private val rows = Seq(
    Array("1", "alpha", "10.5"),
    Array("2", "beta", "20.25"),
    Array("3", "", "0"))

  test("round-trips all columns across multiple row groups") {
    val bytes = container(Seq(rows.take(2), rows.drop(2)), 3)
    val (it, _) = ColumnarRowGroupFile.readGroups(bytes, 3, Seq(0, 1, 2))
    assert(it.map(_.toSeq).toSeq == rows.map(_.toSeq))
  }

  test("column projection returns only wanted columns, in asked order") {
    val bytes = container(Seq(rows), 3)
    val (it, _) = ColumnarRowGroupFile.readGroups(bytes, 3, Seq(2, 0))
    assert(it.map(_.toSeq).toSeq ==
      Seq(Seq("10.5", "1"), Seq("20.25", "2"), Seq("0", "3")))
  }

  test("lazy-column property: pruned read touches only wanted columns' bytes") {
    val bytes = container(Seq(rows), 3)
    // the reader is lazy (one group at a time): consume before reading the
    // byte counter
    val (itAll, tAll) = ColumnarRowGroupFile.readGroups(bytes, 3, Seq(0, 1, 2))
    itAll.size
    val (itOne, tOne) = ColumnarRowGroupFile.readGroups(bytes, 3, Seq(0))
    itOne.size
    val col0Bytes = rows.map(_(0).getBytes("UTF-8").length).sum
    assert(tOne.bytes == col0Bytes.toLong, "skipped columns must not be read")
    assert(tAll.bytes > tOne.bytes)
  }

  test("rejects a non-container payload") {
    val e = intercept[IllegalArgumentException] {
      ColumnarRowGroupFile.readGroups("not a container".getBytes, 1, Seq(0))
    }
    assert(e.getMessage.contains("GRCF1"))
  }

  test("NULL cells survive the round-trip distinct from empty strings") {
    val data = Seq(Array("1", null, ""), Array("2", "x", null))
    val bytes = container(Seq(data), 3)
    val (it, _) = ColumnarRowGroupFile.readGroups(bytes, 3, Seq(0, 1, 2))
    assert(it.map(_.toSeq).toSeq == data.map(_.toSeq),
      "NULL must read back as null, '' as empty string")
  }

  test("truncated container fails cleanly instead of misparsing") {
    val bytes = container(Seq(rows), 3)
    // cut inside the last column's value section; a pruned read must skip
    // through it and detect the truncation rather than read garbage
    val cut = bytes.take(bytes.length - 3)
    val e = intercept[IllegalArgumentException] {
      val (it, _) = ColumnarRowGroupFile.readGroups(cut, 3, Seq(0))
      it.size
    }
    assert(e.getMessage.contains("truncated"))
  }

  test("skipBytes honesty: under-skip at ANY cut depth fails, never misparses") {
    // the lazy-skip path must verify the skip LENGTH it got, not assume it
    // (DataInputStream.skipBytes may legally under-skip): cut the container
    // at every depth inside the skippable tail and demand either a clean
    // truncation error or a correct (never garbled) column-0 read
    val bytes = container(Seq(rows), 3)
    val col0 = rows.map(_(0))
    (1 until 40).foreach { back =>
      val cut = bytes.take(bytes.length - back)
      try {
        val (it, _) = ColumnarRowGroupFile.readGroups(cut, 3, Seq(0))
        assert(it.map(_.toSeq).toSeq == col0.map(Seq(_)),
          s"cut at -$back silently garbled the projected column")
      } catch {
        case e: IllegalArgumentException =>
          assert(e.getMessage.contains("truncated") || e.getMessage.contains("GRCF1"),
            s"cut at -$back: unexpected diagnostic '${e.getMessage}'")
        case _: java.io.EOFException => () // header read hit the cut — clean
      }
    }
  }

  // ---- job-commit protocol (Spark level) -------------------------------

  private lazy val spark = Engine.session(cores = 4, appName = "graft-rc")
  private val scratch = s"${Engine.scratchRoot}/grcf-spec"

  test("write is job-committed: _SUCCESS present, old data survives a failed job") {
    import spark.implicits._
    val dir = s"$scratch/commit"
    ColumnarRowGroupFile.write(Seq(("a", 1), ("b", 2)).toDF("k", "v"), dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS")),
      "committed write must stamp _SUCCESS")
    // a later job that fails mid-task must leave the first dataset intact
    val poison = Seq(("c", 3), ("d", 4)).toDS()
      .map { t => if (t._1 == "d") sys.error("task boom"); t }
      .toDF("k", "v")
    intercept[Exception] { ColumnarRowGroupFile.write(poison, dir) }
    val back = ColumnarRowGroupFile.read(spark, dir, Seq("k", "v"), Seq("k", "v"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(back == Set(("a", "1"), ("b", "2")),
      "failed job must not destroy or corrupt the previous dataset")
    // and the failed job's staging dir must not linger
    val parent = new org.apache.hadoop.fs.Path(scratch)
    val leftovers = fs.listStatus(parent).map(_.getPath.getName)
      .filter(_.startsWith("commit-staging-"))
    assert(leftovers.isEmpty, s"staging dirs not cleaned: ${leftovers.toSeq}")
  }

  test("read refuses an uncommitted directory (no _SUCCESS)") {
    import spark.implicits._
    val dir = s"$scratch/uncommitted"
    ColumnarRowGroupFile.write(Seq(("a", 1)).toDF("k", "v"), dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS"), false)
    val e = intercept[IllegalArgumentException] {
      ColumnarRowGroupFile.read(spark, dir, Seq("k", "v"), Seq("k"))
    }
    assert(e.getMessage.contains("_SUCCESS"))
  }
}
