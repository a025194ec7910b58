package graft

import java.io.ByteArrayInputStream
import java.net.{HttpURLConnection, URI}
import java.util.zip.ZipInputStream

import org.json4s.{JArray, JInt, JObject, JString}
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite
import graft.server.ApiServer

/** End-to-end test of the HTTP serving surface: the reference contract is
  * POST /fetchResult (request JSON → zip of per-variable-per-day PNGs) and
  * GET /getBoundary (data extent), `main.py:93-127`.
  */
class ApiSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def withServer[A](f: Int => A): A = {
    val srv = new ApiServer(spark, port = 0)
    val port = srv.start()
    try f(port) finally srv.stop()
  }

  private def get(url: String): (Int, Array[Byte]) = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    try {
      val code = conn.getResponseCode
      val is = if (code < 400) conn.getInputStream else conn.getErrorStream
      (code, is.readAllBytes())
    } finally conn.disconnect()
  }

  private def post(url: String, body: String): (Int, Array[Byte]) = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", "application/json")
    try {
      conn.getOutputStream.write(body.getBytes("UTF-8"))
      val code = conn.getResponseCode
      val is = if (code < 400) conn.getInputStream else conn.getErrorStream
      (code, is.readAllBytes())
    } finally conn.disconnect()
  }

  private val request =
    """{"selectDate": "1990-01-03,1990-01-06",
      | "variables": "tasmax",
      | "geoJson": {"type": "Polygon", "coordinates": [[
      |   [-79.317877, 44.292647], [-79.317877, 44.489801],
      |   [-78.987601, 44.489801], [-78.987601, 44.292647],
      |   [-79.317877, 44.292647]]]}}""".stripMargin

  test("getBoundary returns the grid extent") {
    withServer { port =>
      val (code, body) = get(s"http://127.0.0.1:$port/getBoundary")
      assert(code == 200)
      val nums = """-?\d+\.\d+""".r.findAllIn(new String(body, "UTF-8")).map(_.toDouble).toSeq
      assert(nums == Seq(44.0, -80.0, 44.95, -78.55))
    }
  }

  test("fetchResult returns a zip with one PNG per requested day") {
    withServer { port =>
      val (code, body) = post(s"http://127.0.0.1:$port/fetchResult", request)
      assert(code == 200, new String(body.take(200), "UTF-8"))
      val zis = new ZipInputStream(new ByteArrayInputStream(body))
      val entries = Iterator.continually(zis.getNextEntry).takeWhile(_ != null)
        .map { e =>
          val data = zis.readAllBytes()
          // PNG magic: \x89PNG
          assert(data.length > 8 && (data(0) & 0xFF) == 0x89 && data(1) == 'P', e.getName)
          e.getName
        }.toSeq
      assert(entries == (3 to 6).map(day => f"grid_tasmax_1990-01-0$day.png"))
    }
  }

  private def zipContents(body: Array[Byte]): Map[String, Seq[Byte]] = {
    val zis = new ZipInputStream(new ByteArrayInputStream(body))
    Iterator.continually(zis.getNextEntry).takeWhile(_ != null)
      .map(e => e.getName -> zis.readAllBytes().toSeq).toMap
  }

  test("fetchResult over the FILE-backed grid serves byte-identical PNGs to the generator") {
    val fileGrid = (s: org.apache.spark.sql.SparkSession) =>
      s.read.format(classOf[graft.sources.GridSource].getName)
        .option("path", graft.sources.SourceQueries.grfDir).load()
    val srv = new ApiServer(spark, port = 0, grid = fileGrid)
    val port = srv.start()
    try {
      val (bcode, bbody) = get(s"http://127.0.0.1:$port/getBoundary")
      assert(bcode == 200)
      val nums = """-?\d+\.\d+""".r.findAllIn(new String(bbody, "UTF-8")).map(_.toDouble).toSeq
      assert(nums == Seq(44.0, -80.0, 44.95, -78.55))
      val (code, body) = post(s"http://127.0.0.1:$port/fetchResult", request)
      assert(code == 200, new String(body.take(200), "UTF-8"))
      val fromFiles = zipContents(body)
      assert(fromFiles.keySet == (3 to 6).map(day => f"grid_tasmax_1990-01-0$day.png").toSet)
      fromFiles.values.foreach { data =>
        assert(data.length > 8 && (data(0) & 0xFF) == 0x89 && data(1) == 'P')
      }
      // the .grf cubes hold the same closed-form grid, so the rendered PNGs
      // must be byte-identical to the generator-backed server's
      val fromGen = withServer { genPort =>
        zipContents(post(s"http://127.0.0.1:$genPort/fetchResult", request)._2)
      }
      assert(fromFiles == fromGen, "file-backed render differs from generator-backed render")
    } finally srv.stop()
  }

  test("fetchResult over the NetCDF-backed grid serves byte-identical PNGs to the generator") {
    val ncGrid = (s: org.apache.spark.sql.SparkSession) =>
      s.read.format(classOf[graft.sources.GridSource].getName)
        .option("path", graft.sources.SourceQueries.ncDir).load()
    val srv = new ApiServer(spark, port = 0, grid = ncGrid)
    val port = srv.start()
    try {
      val (code, body) = post(s"http://127.0.0.1:$port/fetchResult", request)
      assert(code == 200, new String(body.take(200), "UTF-8"))
      val fromNc = zipContents(body)
      val fromGen = withServer { genPort =>
        zipContents(post(s"http://127.0.0.1:$genPort/fetchResult", request)._2)
      }
      assert(fromNc == fromGen, "nc-backed render differs from generator-backed render")
    } finally srv.stop()
  }

  test("getBoundary failure yields a 500 JSON response, not a dropped connection") {
    val broken = (_: org.apache.spark.sql.SparkSession) =>
      throw new RuntimeException("grid unavailable")
    val srv = new ApiServer(spark, port = 0, grid = broken)
    val port = srv.start()
    try {
      val (code, body) = get(s"http://127.0.0.1:$port/getBoundary")
      assert(code == 500)
      assert(new String(body, "UTF-8").contains("Server Error"))
    } finally srv.stop()
  }

  test("malformed request yields a 400, not a hung connection") {
    withServer { port =>
      val (code, body) = post(s"http://127.0.0.1:$port/fetchResult", """{"nope": 1}""")
      assert(code == 400)
      // the body is JSON and says which field was wrong
      val JString(message) = JsonMethods.parse(new String(body, "UTF-8")) \ "message": @unchecked
      assert(message.startsWith("Bad Request") && message.contains("selectDate"), message)
    }
  }

  test("well-formed request whose execution fails yields 500, not 400") {
    val broken = (_: org.apache.spark.sql.SparkSession) =>
      throw new RuntimeException("grid unavailable")
    val srv = new ApiServer(spark, port = 0, grid = broken)
    val port = srv.start()
    try {
      val (code, body) = post(s"http://127.0.0.1:$port/fetchResult", request)
      assert(code == 500, new String(body, "UTF-8"))
      assert(new String(body, "UTF-8").contains("Server Error"))
    } finally srv.stop()
  }

  private val request2 = // different polygon + different dates than `request`
    """{"selectDate": "1990-01-07,1990-01-08",
      | "variables": "tasmax",
      | "geoJson": {"type": "Polygon", "coordinates": [[
      |   [-79.8, 44.05], [-79.8, 44.2],
      |   [-79.5, 44.2], [-79.5, 44.05],
      |   [-79.8, 44.05]]]}}""".stripMargin

  test("concurrent fetchResult requests are isolated and byte-correct") {
    withServer { port =>
      val url = s"http://127.0.0.1:$port/fetchResult"
      // serial ground truth for each request
      val expect1 = zipContents(post(url, request)._2)
      val expect2 = zipContents(post(url, request2)._2)
      assert(expect1.keySet != expect2.keySet)
      // now issue both in parallel, several times over, on client threads
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val futures = (0 until 3).flatMap { _ =>
        Seq(
          Future(("r1", post(url, request))),
          Future(("r2", post(url, request2))))
      }
      Await.result(Future.sequence(futures), 120.seconds).foreach {
        case (tag, (code, body)) =>
          assert(code == 200, s"$tag -> $code")
          val expected = if (tag == "r1") expect1 else expect2
          assert(zipContents(body) == expected, s"$tag zip differs under concurrency")
      }
    }
  }

  test("POST /sql runs read-only SQL, including the grid_scan table function") {
    withServer { port =>
      val url = s"http://127.0.0.1:$port/sql"
      val (c1, b1) = post(url, """{"query": "SELECT 1 AS one, 'x' AS s"}""")
      assert(c1 == 200, new String(b1, "UTF-8"))
      val s1 = new String(b1, "UTF-8")
      assert(s1.contains("\"columns\":[\"one\",\"s\"]") &&
        s1.contains("\"rowCount\":1") && s1.contains("{\"one\":1,\"s\":\"x\"}"), s1)
      // the TVF surface over HTTP: count a real archive dir
      val dir = sources.SourceQueries.ncDir
      val (c2, b2) = post(url,
        s"""{"query": "SELECT count(*) AS n FROM grid_scan('$dir') WHERE y < 3"}""")
      assert(c2 == 200)
      val expected = spark.read.format(classOf[sources.GridSource].getName)
        .option("path", dir).load().filter("y < 3").count()
      assert(new String(b2, "UTF-8").contains(s"""{"n":$expected}"""))
    }
  }

  test("POST /sql rejects writes, bad SQL, and bad bodies as client errors") {
    withServer { port =>
      val url = s"http://127.0.0.1:$port/sql"
      // Command plans (DDL/DML/SET) are refused before execution
      for (q <- Seq("SET spark.graft.x=1",
          "CREATE TABLE t_should_not_exist(x INT) USING parquet",
          "SELEKT 1", "")) {
        val (code, body) = post(url, s"""{"query": "$q"}""")
        assert(code == 400, s"$q -> $code ${new String(body.take(120), "UTF-8")}")
      }
      assert(spark.catalog.tableExists("t_should_not_exist") == false)
      val (cBody, _) = post(url, "not json at all")
      assert(cBody == 400)
    }
  }

  test("POST /sql rejects INSERT statements (they are not Command plans)") {
    withServer { port =>
      val url = s"http://127.0.0.1:$port/sql"
      val dir = java.nio.file.Files.createTempDirectory("graft-sql-guard").toString
      // INSERT OVERWRITE DIRECTORY parses to InsertIntoDir, INSERT INTO to
      // InsertIntoStatement — neither is a Command, both must still refuse
      for (q <- Seq(
          s"INSERT OVERWRITE DIRECTORY '$dir/out' USING parquet SELECT 1 AS x",
          s"INSERT INTO parquet.`$dir/tbl` SELECT 1 AS x",
          s"WITH t AS (SELECT 1 AS x) INSERT OVERWRITE DIRECTORY '$dir/out' USING parquet SELECT * FROM t")) {
        val (code, _) = post(url, s"""{"query": "$q"}""")
        assert(code == 400, s"$q -> $code")
      }
      assert(new java.io.File(s"$dir/out").listFiles() == null &&
        new java.io.File(s"$dir/tbl").listFiles() == null,
        "a rejected INSERT left files behind")
    }
  }

  test("POST /sql escapes column names: quote, backslash, tab, newline, ESC") {
    val alias = "a\"b\\c\td\ne\u001bf"
    withServer { port =>
      val query = JsonMethods.compact(JObject("query" -> JString(s"SELECT 1 AS `$alias`")))
      val (code, body) = post(s"http://127.0.0.1:$port/sql", query)
      val text = new String(body, "UTF-8")
      assert(code == 200, text)
      val json = JsonMethods.parse(text)
      assert(json \ "columns" == JArray(List(JString(alias))), text)
      assert(json \ "rows" == JArray(List(JObject(alias -> JInt(1)))), text)
    }
  }

  test("POST /sql caps huge results and says so") {
    withServer { port =>
      val (code, body) = post(s"http://127.0.0.1:$port/sql",
        """{"query": "SELECT id FROM range(20000)"}""")
      assert(code == 200)
      val s = new String(body, "UTF-8")
      assert(s.contains("\"rowCount\":10000") && s.contains("\"truncated\":true"), s.take(200))
    }
  }
}
