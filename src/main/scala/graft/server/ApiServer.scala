package graft.server

import java.net.InetSocketAddress
import java.nio.file.Files

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.domain.{GridData, GridQuery, QueryRequest}
import graft.render.RenderSink

/** The reference's serving surface (`main.py:93-127`), Spark-resident:
  *
  *   - `GET /getBoundary` → `[[latMin, lonMin], [latMax, lonMax]]` of the data
  *     extent (`main.py:93-96`; the reference hardcodes its dataset's corners —
  *     here the extent is computed from the grid catalog, metadata-sized).
  *   - `POST /fetchResult` → request `{selectDate: "start,end", variables:
  *     "v1,v2", geoJson: {coordinates: [[[lon, lat], …]]}}` (the shape
  *     `main.py:21-50` parses) → runs select → render → returns a zip of one
  *     PNG per (variable, day) (`main.py:114-127`).
  *
  * The key architectural difference from the reference: `main.py:106-110` pays
  * a full `spark-submit` JVM start per request; here ONE resident SparkSession
  * serves every request, so per-request latency is the query, not the JVM.
  * JSON via Spark's bundled json4s — no added dependencies.
  */
class ApiServer(spark: SparkSession, port: Int = 0,
    grid: SparkSession => org.apache.spark.sql.DataFrame = GridData.cells) {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  // JDK HttpServer's default executor is the dispatch thread — requests would
  // serialize behind one slow render. A small pool gives concurrent requests;
  // SparkSession is thread-safe, each request runs its own jobs.
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
  server.setExecutor(pool)

  /** Serve `/getBoundary`: extent of the (dim-sized) distinct coord table.
    * With the default generator grid this is a closed-form scan; with a
    * file-backed grid (`grid = _.read.format(...).option("path", …).load()`)
    * the min/max push down to the headers (`FileGridAggScan`) — the boundary
    * request never reads a data byte, like the reference's hardcoded corners.
    */
  private def boundary(): String = {
    val row = grid(spark)
      .agg(min("lat"), max("lat"), min("lon"), max("lon"))
      .collect()(0)
    // NULL aggregates mean an empty grid — fail loudly rather than unboxing
    // null to 0.0 and serving a fake [[0,0],[0,0]] extent
    require((0 to 3).forall(!row.isNullAt(_)), "grid has no cells — no boundary")
    val Seq(latMin, latMax, lonMin, lonMax) = row.toSeq.map(_.asInstanceOf[Double])
    s"[[$latMin, $lonMin], [$latMax, $lonMax]]"
  }

  /** Parse the reference's request JSON into the engine's QueryRequest. */
  private[server] def parseRequest(body: String): QueryRequest = {
    val j = JsonMethods.parse(body)
    def text(field: String): String = j \ field match {
      case JString(s) => s
      case other => throw new IllegalArgumentException(s"$field: expected a string, got $other")
    }
    val dates = text("selectDate")
    val vars = text("variables")
    val ring = (j \ "geoJson" \ "coordinates") match {
      case JArray(List(JArray(points))) => points.map {
        case JArray(List(lon, lat)) =>
          (lon.values.toString.toDouble, lat.values.toString.toDouble)
        case other => throw new IllegalArgumentException(s"bad point: $other")
      }
      case other => throw new IllegalArgumentException(s"bad coordinates: $other")
    }
    val (start, end) = dates.split(",").map(_.trim) match {
      case Array(s, e) => (s, e)
      case _ => throw new IllegalArgumentException(s"selectDate: expected \"start,end\", got \"$dates\"")
    }
    QueryRequest(vars.split(",").map(_.trim).toSeq, start, end, ring)
  }

  /** `GridQuery.select` prunes on a (file, variable) catalog; DSv2-backed
    * grids carry no `file` column (the .grf layout is one file per variable),
    * so synthesize it from the variable.
    */
  private def withFileColumn(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (df.columns.contains("file")) df else df.withColumn("file", col("variable"))

  /** select → color breaks → distributed PNG render → zip. */
  private[server] def fetchResult(req: QueryRequest): Array[Byte] = {
    val sel = GridQuery.select(withFileColumn(grid(spark)), req)
      .select("variable", "ts", "y", "x", "value")
    val nbins = 10
    val (lo, step) = RenderSink.valueBreaks(sel, nbins)
    val tmp = Files.createTempDirectory("graft-render").toFile
    try {
      RenderSink.writePngs(sel, tmp.getAbsolutePath, lo, step, nbins)
      val zipPath = new java.io.File(tmp, "result.zip").getAbsolutePath
      RenderSink.zipPngs(tmp.getAbsolutePath, zipPath)
      Files.readAllBytes(java.nio.file.Paths.get(zipPath))
    } finally {
      Option(tmp.listFiles()).getOrElse(Array.empty).foreach(_.delete())
      tmp.delete()
    }
  }

  /** `POST /sql` — the SQL face of the whole library over HTTP: body
    * `{"query": "SELECT …"}`, response `{"columns": […], "rowCount": n,
    * "truncated": bool, "rows": [{…}, …]}`. With the session extensions
    * registered, `FROM grid_scan('<dir>')` / `FROM snapshot_scan('<dir>')`
    * and every custom function work over plain HTTP — the Thrift-server
    *-style surface, minus a dependency. Read-only by construction: the
    * statement is parsed first and anything that is a Command (DDL/DML,
    * SET, CREATE VIEW) is rejected before execution — a guard at the plan
    * level, not a keyword regex. Results are capped at [[sqlRowCap]] rows
    * (one extra row is fetched to set `truncated` honestly); row values
    * serialize through Spark's own JSON writer so types and escaping are
    * the engine's, not hand-rolled.
    */
  private[server] val sqlRowCap = 10000

  private[server] def runSql(query: String): String = {
    import org.apache.spark.sql.catalyst.plans.logical.{Command, InsertIntoDir, ParsedStatement}
    val parsed = spark.sessionState.sqlParser.parsePlan(query)
    // writes hide in THREE parse-time shapes, and Command alone misses two:
    // DDL/SET parse to Command subtypes, but INSERT INTO parses to
    // InsertIntoStatement (a ParsedStatement) and INSERT OVERWRITE
    // DIRECTORY to InsertIntoDir — neither extends Command. Scan the whole
    // tree so a write nested under a CTE cannot slip past either.
    if (parsed.exists(n => n.isInstanceOf[Command] ||
        n.isInstanceOf[ParsedStatement] || n.isInstanceOf[InsertIntoDir]))
      throw new IllegalArgumentException("only read-only queries are served")
    val df = spark.sql(query)
    val rows = df.limit(sqlRowCap + 1).toJSON.collect()
    val truncated = rows.length > sqlRowCap
    val kept = if (truncated) rows.take(sqlRowCap) else rows
    // Spark permits aliases with control characters; json4s escapes them
    val cols = JsonMethods.compact(JArray(df.columns.toList.map(JString(_))))
    s"""{"columns":$cols,"rowCount":${kept.length},""" +
      s""""truncated":$truncated,"rows":[${kept.mkString(",")}]}"""
  }

  private def respond(ex: HttpExchange, code: Int, contentType: String,
      body: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, body.length.toLong)
    try ex.getResponseBody.write(body) finally ex.close()
  }

  /** A JSON error body naming the exception and what failed. */
  private def fail(ex: HttpExchange, code: Int, e: Throwable): Unit = {
    val kind = if (code == 400) "Bad Request" else "Server Error"
    val what = Option(e.getMessage).fold("")(m => s": $m")
    val body = JObject("message" -> JString(s"$kind: ${e.getClass.getSimpleName}$what"))
    respond(ex, code, "application/json", JsonMethods.compact(body).getBytes("UTF-8"))
  }

  def start(): Int = {
    server.createContext("/getBoundary", (ex: HttpExchange) =>
      try respond(ex, 200, "application/json", boundary().getBytes("UTF-8"))
      catch { case e: Exception => fail(ex, 500, e) })
    server.createContext("/fetchResult", (ex: HttpExchange) =>
      try {
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        // malformed request JSON is the client's fault (400); a failure while
        // executing a well-formed request is the server's (500)
        val req = try parseRequest(body) catch {
          case e: Exception => fail(ex, 400, e); null
        }
        if (req != null)
          respond(ex, 200, "application/zip", fetchResult(req))
      } catch { case e: Exception => fail(ex, 500, e) })
    server.createContext("/sql", (ex: HttpExchange) =>
      try {
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        // malformed body JSON is the client's fault, whatever json4s throws
        val parsedBody = try JsonMethods.parse(body) catch {
          case e: Exception => throw new IllegalArgumentException(
            s"body is not JSON: ${e.getClass.getSimpleName}")
        }
        val query = parsedBody \ "query" match {
          case JString(q) if q.trim.nonEmpty => q
          case _ => throw new IllegalArgumentException("body must be {\"query\": \"…\"}")
        }
        respond(ex, 200, "application/json", runSql(query).getBytes("UTF-8"))
      } catch {
        // the client's fault: malformed body, unparseable SQL, unresolvable
        // names, or a write statement — all pre-execution
        case e @ (_: IllegalArgumentException |
                  _: org.apache.spark.sql.catalyst.parser.ParseException |
                  _: org.apache.spark.sql.AnalysisException) => fail(ex, 400, e)
        case e: Exception => fail(ex, 500, e)
      })
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = { server.stop(0); pool.shutdown() }
}

object ApiServer {
  /** Standalone entry: `runMain graft.server.ApiServer [port]`. */
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    val port = new ApiServer(spark, args.headOption.map(_.toInt).getOrElse(8080)).start()
    println(s"graft API listening on http://127.0.0.1:$port")
    Thread.currentThread().join()
  }
}
