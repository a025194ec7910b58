package graft

import org.apache.spark.sql.SparkSession

/** The one local session every entry point runs on (Bench, Verify, the HTTP
  * server and the tools), so numbers from any of them are comparable:
  * `local[$SPARK_GRAFT_CPUS]` (default 4) with as many shuffle partitions,
  * UTC, the graft SQL extensions, no UI, WARN logging.
  */
object Session {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
