package graft

import org.apache.spark.sql.SparkSession

/** The one-time layouts the benchmark's query subset reads, through the
  * preparers `graft.Bench` calls before timing. In package `graft` because
  * some preparers are package-private. The snapshot fixtures the subset reads
  * are private to their module; the untimed warm-up pass builds them.
  */
object SuiteLayouts {
  def prepare(spark: SparkSession, sfDir: String): Unit = {
    sources.SourceQueries.nc4Dir
    dedup.EntityResolution.linkageStoreCached(spark, sfDir)
    domain.GridQuery.catalog(domain.GridData.cells(spark)).count()
  }
}
