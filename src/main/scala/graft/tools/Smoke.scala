package graft.tools
/** Dev smoke for the driver's entry contract. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    val e = graft.SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + e.count())
    println("ENTRY_COLS=" + e.columns.mkString(","))
    println("ORPHAN_ORACLES=" + graft.SparkEntry.oracleSql.keySet.diff(graft.SparkEntry.queries.keySet))
    spark.stop()
  }
}
