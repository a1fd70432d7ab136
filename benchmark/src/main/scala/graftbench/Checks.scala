package graftbench

import org.apache.spark.sql.SparkSession

import graft.{Engine, SparkEntry}

/** Writes what `run.py` compares against its reference after the timed
  * windows: the oracle SQL of each OLAP query (the warm pass wrote their
  * results) and the final state of the transactional table (for the
  * model). Returns a JSON object describing the outputs. */
final case class Checks(spark: SparkSession, data: String, workload: String,
    root: String, recs: Seq[Main.Rec]) {

  private val out = s"$root/results"

  def run(): String = workload match {
    case "olap_read" =>
      val names = recs.map(_.op.text).distinct.sorted
      Json.obj(Seq("oracle" -> Json.obj(names.map(q =>
        q -> Json.str(SparkEntry.oracleSql(q))))))
    case "txn_dml" =>
      Engine.sql(spark, data, "SELECT id, grp, bal FROM acct")
        .write.mode("overwrite").parquet(s"$out/acct")
      Json.obj(Seq("tables" -> Json.arr(Seq(Json.str("acct")))))
    case other => sys.error(s"unknown workload $other")
  }
}
