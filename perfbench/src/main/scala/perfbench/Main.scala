package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.server.ApiServer

/** One benchmark run: set up, run the workload's closed loop for the given
  * seconds, check every output outside the timed window, and write the raw
  * samples to `--out` as JSON. `run.py` turns them into metrics.
  *
  * Usage: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --out FILE [--sf-dir DIR]`
  */
object Main {
  /** One completed op of the timed window. */
  final case class Sample(startUs: Long, latencyUs: Long, ok: Boolean)

  def main(args: Array[String]): Unit = {
    // exit explicitly either way: no lingering non-daemon thread may keep a
    // finished or failed run alive
    try run(args) catch {
      case e: Throwable => e.printStackTrace(); sys.exit(1)
    }
    sys.exit(0)
  }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new java.io.File(opts("work"))
    val out = new java.io.File(opts("out"))
    val loadBefore = Env.loadAvg
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val master = s"local[$cpus]"
    work.mkdirs()
    val spark = SparkSession.builder()
      .master(master)
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new java.io.File(work, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmToSessionS = (System.currentTimeMillis() - Env.jvmStartMs) / 1e3
    val result =
      try workload match {
        case "fetch_interactive" => runFetch(spark, Fetch.Interactive, seed, seconds, trace, work)
        case "fetch_bulk" => runFetch(spark, Fetch.Bulk, seed, seconds, trace, work)
        case "query_suite" =>
          QuerySuite.run(spark, opts.getOrElse("sf-dir",
            sys.error("query_suite needs --sf-dir <dir of the TPC-H-ish parquet tables>")),
            seed, seconds, trace)
        case other => sys.error(s"unknown workload $other")
      } finally spark.stop()
    val doc = result ++ Map(
      "workload" -> workload,
      "trace" -> trace,
      "jvm_to_session_s" -> jvmToSessionS,
      "env" -> Env.stamp(master, seed, loadBefore))
    java.nio.file.Files.write(out.toPath,
      org.json4s.jackson.Serialization.write(doc)(org.json4s.DefaultFormats).getBytes("UTF-8"))
  }

  /** What a closed loop returns: each completed op's index and sample in
    * completion order, the window length, and the ops that threw.
    */
  final case class Loop(samples: Vector[(Int, Sample)], windowS: Double, thrown: Seq[String])

  /** Runs `clients` threads, each taking the next of `n` ops until `seconds`
    * pass (1e6 or more: until the ops run out). An op that throws counts as
    * failed.
    */
  def closedLoop(clients: Int, seconds: Double, n: Int)(op: Int => Boolean): Loop = {
    val next = new AtomicInteger
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Sample)]
    val thrown = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val startNs = System.nanoTime()
    val deadline = if (seconds >= 1e6) Long.MaxValue else startNs + (seconds * 1e9).toLong
    val clockUs = System.currentTimeMillis() * 1000L - startNs / 1000L
    val threads = (0 until clients).map { c =>
      val th = new Thread(() => {
        var i = next.getAndIncrement()
        while (System.nanoTime() < deadline && i < n) {
          val s = System.nanoTime()
          val ok = try op(i) catch { case e: Exception => thrown.add(s"op $i: $e"); false }
          val e = System.nanoTime()
          done.add(i -> Sample(clockUs + s / 1000L, (e - s) / 1000L, ok))
          i = next.getAndIncrement()
        }
      }, s"perfbench-client-$c")
      th.start(); th
    }
    threads.foreach(_.join())
    Loop(done.asScala.toVector, (System.nanoTime() - startNs) / 1e9, thrown.asScala.toSeq)
  }

  def exhausted(loop: Loop, n: Int): Seq[String] =
    if (loop.samples.size >= n) Seq(s"all $n generated requests ran before the window closed") else Nil

  def sampleRows(loop: Loop, ok: Int => Boolean = _ => true): Seq[Seq[Long]] =
    loop.samples.map { case (i, s) => Seq(s.startUs, s.latencyUs, if (s.ok && ok(i)) 1L else 0L) }

  private def runFetch(spark: SparkSession, w: Fetch.Workload, seed: Long, seconds: Double,
      trace: Boolean, work: java.io.File): Map[String, Any] = {
    val a = Fetch.archive(seed)
    val g0 = System.nanoTime()
    val warm = Requests.generate(a, w.mix, seed, w.warmup, "warmup")
    // 10 ops per second per client is several times what a 4-core box
    // serves; a run that exhausts the list fails loudly below
    val ops = Requests.generate(a, w.mix, seed, (seconds * 10 * w.clients).toInt + 100, w.name)
    val requestsS = (System.nanoTime() - g0) / 1e9
    // set-up: write the archive, start a server over it, warm it up
    val dir = new java.io.File(work, "archive").getAbsolutePath
    val t0 = System.nanoTime()
    a.write(new java.io.File(dir))
    val t1 = System.nanoTime()
    val server = new ApiServer(spark, 0, Fetch.grid(dir))
    val port = server.start()
    try {
      // the first request builds the archive's catalog and pays the cold
      // start: send it alone, so that no other request pays them too, then
      // the rest from four clients
      def send(i: Int): Boolean = Fetch.post(port, warm(i).body(a))._1 == 200
      val warmup = Seq(closedLoop(1, 1e9, 1)(send),
        closedLoop(Fetch.WarmupClients, 1e9, warm.length - 1)(i => send(i + 1)))
      require(warmup.forall(_.samples.forall(_._2.ok)),
        s"warm-up requests failed: ${warmup.flatMap(_.thrown).take(3).mkString("; ")}")
      val setup = Map(
        "requests_s" -> requestsS,
        "archive_write_s" -> (t1 - t0) / 1e9,
        "warmup_s" -> (System.nanoTime() - t1) / 1e9)
      if (!trace) {
        val responses = new java.util.concurrent.ConcurrentHashMap[Int, Array[Byte]]
        val loop = Main.closedLoop(w.clients, seconds, ops.length) { i =>
          val (code, body) = Fetch.post(port, ops(i).body(a))
          if (code == 200) responses.put(i, body)
          code == 200
        }
        val liveHeap = Env.liveHeapMb()
        // output checks, outside the timed window
        val failures = loop.samples.map { case (i, s) =>
          i -> (if (!s.ok) Seq(s"${ops(i).id}: request failed")
                else Fetch.check(a, ops(i), responses.get(i)))
        }.toMap
        Map(
          "clients" -> w.clients,
          "setup" -> setup,
          "window_s" -> loop.windowS,
          "samples" -> sampleRows(loop, i => failures(i).isEmpty),
          "errors" -> (exhausted(loop, ops.length) ++ loop.thrown ++ failures.values.flatten).take(20),
          "live_heap_mb" -> liveHeap)
      } else traceFetch(spark, w, a, ops, server, port, dir, seconds, setup)
    } finally server.stop()
  }

  /** The traced run: per op, the HTTP request, the composition untraced, and
    * the composition traced; the traced zip must equal the HTTP response.
    */
  private def traceFetch(spark: SparkSession, w: Fetch.Workload, a: Archive,
      ops: Vector[FetchOp], server: ApiServer, port: Int, dir: String, seconds: Double,
      setup: Map[String, Any]): Map[String, Any] = {
    val tracer = new Tracer(spark)
    tracer.start()
    val meta = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Any]]
    val replies = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Array[Byte], Array[Byte])]
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e6)
    }
    val loop = Main.closedLoop(w.clients, seconds, ops.length) { i =>
      val op = ops(i)
      val body = op.body(a)
      lazy val httpCall = timed(Fetch.post(port, body))
      lazy val untraced = timed(Fetch.composed(spark, server, dir, body, None))._2
      lazy val traced = timed(Fetch.composed(spark, server, dir, body, Some(tracer -> op.id)))
      // the first of the three calls pays the op's first touches (codegen of
      // a new plan shape, cold chunks) and the later ones reuse them: rotate
      // the order so that no call is always first
      Seq[() => Any](() => httpCall, () => untraced, () => traced)
        .zipWithIndex.sortBy { case (_, k) => (k + i) % 3 }.foreach(_._1())
      val (((code, http), httpMs), untracedMs, (zip, tracedMs)) = (httpCall, untraced, traced)
      replies.put(i, (code, http, zip))
      meta.put(i, Map(
        "op" -> op.id,
        "http_ms" -> httpMs,
        "untraced_ms" -> untracedMs,
        "traced_ms" -> tracedMs,
        "cells" -> op.cells.size * op.vars.size * (op.t1 - op.t0 + 1),
        "pngs" -> op.vars.size * (op.t1 - op.t0 + 1),
        "zip_bytes" -> zip.length))
      true
    }
    tracer.stop()
    // output checks, outside the traced window
    val failures = loop.samples.map { case (i, _) =>
      val op = ops(i)
      i -> (Option(replies.get(i)) match {
        case None => Seq(s"${op.id}: op threw")
        case Some((code, _, _)) if code != 200 => Seq(s"${op.id}: HTTP $code")
        case Some((_, http, zip)) if !java.util.Arrays.equals(zip, http) =>
          Seq(s"${op.id}: traced composition differs from the HTTP response")
        case Some((_, _, zip)) => Fetch.check(a, op, zip)
      })
    }.toMap
    Map(
      "clients" -> w.clients,
      "setup" -> setup,
      "window_s" -> loop.windowS,
      "samples" -> sampleRows(loop, i => failures(i).isEmpty),
      "errors" -> (exhausted(loop, ops.length) ++ loop.thrown ++ failures.values.flatten).take(20),
      "ops" -> loop.samples.flatMap { case (i, _) => Option(meta.get(i)) },
      "cores" -> spark.sparkContext.defaultParallelism) ++ Trace.dump(tracer)
  }
}
