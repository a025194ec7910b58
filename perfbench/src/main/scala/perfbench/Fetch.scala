package perfbench

import java.io.ByteArrayInputStream
import java.net.{HttpURLConnection, URI}
import java.util.zip.ZipInputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.domain.GridQuery
import graft.render.RenderSink
import graft.server.{ApiServer, ServerProbe}
import graft.sources.GridSource

/** The served path: `POST /fetchResult` against a resident `ApiServer` over
  * the seeded NetCDF-4 archive.
  */
object Fetch {
  /** `warmup`: requests from the workload's own mix, sent during set-up.
    * They pay the catalog build, codegen and the first JIT tiers. Interactive
    * latency is almost all fixed per-request work, which keeps speeding up
    * for about 50 requests, so its window starts on a gentle downhill; more
    * warm-up would not fit the time a run may take.
    */
  final case class Workload(name: String, clients: Int, mix: Requests.Mix, warmup: Int)

  val Interactive = Workload("fetch_interactive", 1, Requests.Interactive, warmup = 12)
  /** Large rectangles (30–34 cells a side) and 2 variables over 9 days or 3
    * over 6, from four clients sharing the server's one session.
    */
  val Bulk = Workload("fetch_bulk", 4, Requests.Mix(30, 34, 2, 3, Requests.VarDays(18)),
    warmup = 6)

  /** Archive size: a 60×80 cell grid (0.05°) over one year. */
  def archive(seed: Long): Archive = Archive(seed, ny = 60, nx = 80, days = 365)

  val WarmupClients = 4

  def grid(dir: String): SparkSession => DataFrame =
    s => s.read.format(classOf[GridSource].getName).option("path", dir).load()

  def post(port: Int, body: String): (Int, Array[Byte]) = {
    val conn = URI.create(s"http://127.0.0.1:$port/fetchResult").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", "application/json")
    try {
      conn.getOutputStream.write(body.getBytes("UTF-8"))
      val code = conn.getResponseCode
      val is = if (code < 400) conn.getInputStream else conn.getErrorStream
      (code, if (is == null) Array.emptyByteArray else is.readAllBytes())
    } finally conn.disconnect()
  }

  /** The composition `ApiServer.fetchResult` runs, through the same public
    * functions in the same order: select, min/max, PNG render, zip. With a
    * tracer each call gets a span under the op's root span.
    */
  def composed(spark: SparkSession, server: ApiServer, dir: String, body: String,
      tracer: Option[(Tracer, String)]): Array[Byte] = {
    def step[A](name: String, parent: Long)(f: => A): A = tracer match {
      case Some((t, op)) => t.span(name, op, parent)(_ => f)
      case None => f
    }
    def run(root: Long): Array[Byte] = {
      val req = step("server.parse", root)(ServerProbe.parse(server, body))
      // the span plans the min/max Dataset that the next span runs, so the
      // composition plans nothing `fetchResult` does not
      val (sel, range) = step("domain.select_plan", root) {
        val df = grid(dir)(spark)
        val cells = if (df.columns.contains("file")) df else df.withColumn("file", col("variable"))
        val s = GridQuery.select(cells, req).select("variable", "ts", "y", "x", "value")
        val r = s.agg(min("value"), max("value"))
        r.queryExecution.executedPlan
        (s, r)
      }
      val nbins = 10
      val (lo, hi) = step("domain.range_agg", root) {
        val stats = range.collect()(0)
        if (stats.isNullAt(0)) (0.0, 1.0) else (stats.getDouble(0), stats.getDouble(1))
      }
      val step0 = math.max((hi - lo) / nbins, 1e-9)
      val tmp = java.nio.file.Files.createTempDirectory("perfbench-render").toFile
      try {
        step("render.png", root)(RenderSink.writePngs(sel, tmp.getAbsolutePath, lo, step0, nbins))
        step("render.zip", root) {
          val zipPath = new java.io.File(tmp, "result.zip").getAbsolutePath
          RenderSink.zipPngs(tmp.getAbsolutePath, zipPath)
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(zipPath))
        }
      } finally {
        Option(tmp.listFiles()).getOrElse(Array.empty).foreach(_.delete())
        tmp.delete()
      }
    }
    tracer match {
      case Some((t, op)) =>
        val sc = spark.sparkContext
        sc.setJobGroup(op, op)
        try t.span("op", op)(run) finally sc.clearJobGroup()
      case None => run(-1L)
    }
  }

  /** Checks one response against an independent recomputation: the exact
    * entry set, each PNG's extent, and every pixel. Returns the failures.
    */
  def check(a: Archive, op: FetchOp, zip: Array[Byte]): Seq[String] = {
    val entries = {
      val zis = new ZipInputStream(new ByteArrayInputStream(zip))
      Iterator.continually(zis.getNextEntry).takeWhile(_ != null)
        .map(e => e.getName -> zis.readAllBytes()).toVector
    }
    val expectedNames = for (v <- op.vars; t <- op.t0 to op.t1)
      yield s"grid_${Archive.Variables(v)}_${a.day(t)}.png"
    if (entries.map(_._1) != expectedNames.sorted)
      return Seq(s"${op.id}: entries ${entries.map(_._1).mkString(",")} != ${expectedNames.sorted.mkString(",")}")
    val cells = op.cells
    val values = for (v <- op.vars; t <- op.t0 to op.t1; (y, x) <- cells) yield a.value(v, t, y, x)
    val present = values.flatten
    val (lo, hi) = if (present.isEmpty) (0.0, 1.0) else (present.min, present.max)
    val step = math.max((hi - lo) / 10, 1e-9)
    val ramp = RenderSink.blueToRed(10)
    val (y0, y1) = (cells.map(_._1).min, cells.map(_._1).max)
    val (x0, x1) = (cells.map(_._2).min, cells.map(_._2).max)
    val (w, h) = (x1 - x0 + 1, y1 - y0 + 1)
    val byName = entries.toMap
    (for (v <- op.vars; t <- op.t0 to op.t1) yield {
      val name = s"grid_${Archive.Variables(v)}_${a.day(t)}.png"
      val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(byName(name)))
      if (img == null) Some(s"${op.id}: $name does not decode")
      else if (img.getWidth != w || img.getHeight != h)
        Some(s"${op.id}: $name is ${img.getWidth}x${img.getHeight}, expected ${w}x$h")
      else {
        val bad = cells.count { case (y, x) =>
          val want = a.value(v, t, y, x) match {
            case None => RenderSink.Nodata
            case Some(z) => ramp(math.min(math.max(math.floor((z - lo) / step), 0.0), 9.0).toInt)
          }
          (img.getRGB(x - x0, y1 - y) & 0xFFFFFF) != want
        } + (for (y <- y0 to y1; x <- x0 to x1 if !op.inside(y, x)) yield
          (img.getRGB(x - x0, y1 - y) & 0xFFFFFF) != RenderSink.Nodata).count(identity)
        if (bad > 0) Some(s"${op.id}: $name has $bad wrong pixels") else None
      }
    }).flatten
  }
}
