package graft.tools

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graft.Shims
import graft.SparkEntry

/** Per-query measurement of the declared queries on the shared session
  * config ([[graft.Session.local]]):
  * `runMain graft.tools.Measure <time|profile|jobs|plan <outDir>> [query…]`,
  * every declared query when none is named. SF dir via SPARK_GRAFT_SF_DIR
  * (required); extra session confs for A/B runs via SPARK_GRAFT_CONF
  * ("k=v;k=v", set on the session after it starts).
  *
  *   - `time`: min and median wall time of 5 runs. Single samples on a
  *     shared box spike 3-10× and noise only adds, so the min is the
  *     before/after comparator.
  *   - `profile`: jobs, stages, tasks, task time, GC, shuffle bytes and the
  *     slowest stages of one run.
  *   - `jobs`: one line per job of one run, its description and its stages
  *     named by call site, which attributes jobs no physical plan shows,
  *     such as file listings.
  *   - `plan <outDir>`: the formatted explain as `<outDir>/<query>.txt`.
  *
  * Every query first runs twice untimed (layouts, caches, codegen and JIT
  * belong there), so each mode sees the steady state the bench times. The
  * measured run is job group `<query>`: `profile` and `jobs` count only that
  * group's events, read after the listener bus has drained.
  */
object Measure {
  val Warms = 2
  val Reps = 5

  /** The jobs, executed stages and tasks of one job group. */
  class Trace(group: String) extends SparkListener {
    private val stageIds = mutable.Set.empty[Int]
    val jobs = mutable.ArrayBuffer.empty[String]
    val stages = mutable.ArrayBuffer.empty[(Int, String, Int, Long)]
    var tasks, taskMs, gcMs, shufR, shufW, fetchWaitMs = 0L

    override def onJobStart(j: SparkListenerJobStart): Unit =
      if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group) {
        stageIds ++= j.stageIds
        jobs += s"JOB ${j.jobId} stages=${j.stageInfos.map(_.numTasks).mkString("+")} " +
          s"desc=${j.properties.getProperty("spark.job.description", "").take(160)}" +
          j.stageInfos.map(s => s"\n   stage ${s.stageId} tasks=${s.numTasks} ${s.name.take(90)}").mkString
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      if (stageIds(i.stageId))
        stages += ((i.stageId, i.name.take(60), i.numTasks, i.taskMetrics.executorRunTime))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (stageIds(t.stageId)) {
        tasks += 1
        val m = t.taskMetrics
        if (m != null) {
          taskMs += m.executorRunTime
          gcMs += m.jvmGCTime
          shufR += m.shuffleReadMetrics.totalBytesRead
          fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          shufW += m.shuffleWriteMetrics.bytesWritten
        }
      }
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    require(Set("time", "profile", "jobs", "plan")(mode) && (mode != "plan" || args.length > 1),
      "usage: Measure <time|profile|jobs|plan <outDir>> [query…]")
    val named = args.drop(if (mode == "plan") 2 else 1).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sys.error("set SPARK_GRAFT_SF_DIR"))
    val spark = graft.Session.local()
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.contains('=')).foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    })
    val sc = spark.sparkContext
    def query(q: String) = SparkEntry.queries(q)(spark, sfDir)
    def seconds(f: => Any): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    if (mode == "plan") Files.createDirectories(Paths.get(args(1)))
    val names = if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { q =>
      try {
        val rows = (1 to Warms).map(_ => query(q).count()).last
        sc.setJobGroup(q, q)
        try mode match {
          case "time" =>
            val ts = (1 to Reps).map(_ => seconds(query(q).count())).sorted
            println(f"[time] $q%-28s rows=$rows min=${ts.head}%.3f median=${ts(Reps / 2)}%.3f " +
              s"runs=${ts.map(t => f"$t%.3f").mkString(",")}")
          case "plan" =>
            Files.writeString(Paths.get(args(1), s"$q.txt"),
              query(q).queryExecution.explainString(FormattedMode))
          case _ =>
            val trace = new Trace(q)
            sc.addSparkListener(trace)
            val wallMs = seconds(query(q).count()) * 1000
            Shims.drainListeners(spark)
            sc.removeSparkListener(trace)
            if (mode == "jobs") {
              println(s"=== $q")
              trace.jobs.foreach(println)
            } else {
              println(f"[profile] $q%-28s wall=$wallMs%.0fms jobs=${trace.jobs.size} " +
                f"stages=${trace.stages.size} tasks=${trace.tasks} taskTime=${trace.taskMs}ms " +
                f"gc=${trace.gcMs}ms shufR=${trace.shufR / 1024}KB " +
                f"shufW=${trace.shufW / 1024}KB fetchWait=${trace.fetchWaitMs}ms")
              trace.stages.sortBy(-_._4).take(8).foreach { case (id, name, n, ms) =>
                println(f"    stage $id%4d tasks=$n%3d runTime=${ms}ms  $name")
              }
            }
        } finally sc.clearJobGroup()
      } catch {
        case e: Exception => System.err.println(s"[measure] $q failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
