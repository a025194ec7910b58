package perfbench

import java.lang.management.ManagementFactory

/** Machine state stamped on every result, so a contended sample explains
  * itself from its own file.
  */
object Env {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def loadAvg: Double = os.getSystemLoadAverage
  def freeMemMb: Double = os.getFreeMemorySize / 1048576.0

  def stamp(master: String, seed: Long, loadBefore: Double): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "master" -> master,
    "load_avg_before" -> loadBefore,
    "load_avg_after" -> loadAvg,
    "free_mem_mb" -> freeMemMb,
    "spark_version" -> org.apache.spark.SPARK_VERSION,
    "java_version" -> System.getProperty("java.version"),
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
    "seed" -> seed)

  /** Epoch milliseconds at which this JVM started. */
  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Heap in use right after a full collection, in MiB: the program's live
    * data. Not RSS, which follows G1's sizing policy; and not the after-GC
    * usage of young collections, which swings with how much garbage was
    * promoted.
    */
  def liveHeapMb(): Double = {
    // Spark's ContextCleaner frees broadcast and shuffle state only after a
    // collection has found their handles unreachable, and on its own
    // thread: give it a moment, then collect what it released
    System.gc()
    Thread.sleep(1500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
