package graft

import org.apache.spark.sql.SparkSession

/** Dev main (alongside Bench/Verify): print the formatted
  * physical plan of named registry queries — the `.explain("formatted")`
  * loop the scale methodology calls for, runnable as
  * `sbt "runMain graft.Explain q93l_dsir_weights [q…]" `. Uses the same
  * session shape as Bench so the printed plan is the benched plan
  * (AQE on, 32 shuffle partitions). sfDir via SPARK_GRAFT_SF_DIR
  * (default sf0.01 — plan SHAPE is scale-independent; numbers aren't). */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Explain <queryName> [queryName ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val unknown = args.toSet.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown query name(s): ${
      unknown.toSeq.sorted.mkString(",")}")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- args) {
      println(s"===== $name")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
