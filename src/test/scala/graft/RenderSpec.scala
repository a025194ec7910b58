package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import graft.domain.{GridData, GridQuery, QueryRequest}
import graft.render.{Png, RenderSink}

class RenderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("PNG encoder produces a well-formed file") {
    val dir = Files.createTempDirectory("png").toString
    val px = Array.tabulate(6 * 4)(i => (i * 40) << 16)
    Png.write(s"$dir/t.png", 6, 4, px)
    val bytes = Files.readAllBytes(Paths.get(s"$dir/t.png"))
    assert(bytes.take(8).toSeq == Seq(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    // IHDR width/height big-endian at offsets 16/20
    def be(o: Int) = ((bytes(o) & 0xff) << 24) | ((bytes(o + 1) & 0xff) << 16) |
      ((bytes(o + 2) & 0xff) << 8) | (bytes(o + 3) & 0xff)
    assert(be(16) == 6 && be(20) == 4)
    // javax.imageio decodes it (round-trip sanity, no extra deps)
    val img = javax.imageio.ImageIO.read(new java.io.File(s"$dir/t.png"))
    assert(img.getWidth == 6 && img.getHeight == 4)
    assert((img.getRGB(1, 0) & 0xffffff) == px(1))
  }

  test("render sink writes one PNG per variable and day from executors") {
    val dir = Files.createTempDirectory("render").toString
    val req = QueryRequest(Seq("tasmax", "tasmin"), "1990-01-03", "1990-01-04", GridData.kawarthaRing)
    val sel = GridQuery.select(GridData.cells(spark), req)
    RenderSink.writePngs(sel, dir, lo = -10.0, step = 5.0, nbins = 10)
    val files = new java.io.File(dir).listFiles().map(_.getName).sorted
    assert(files.toSeq == Seq(
      "grid_tasmax_1990-01-03.png", "grid_tasmax_1990-01-04.png",
      "grid_tasmin_1990-01-03.png", "grid_tasmin_1990-01-04.png"))
    val img = javax.imageio.ImageIO.read(new java.io.File(s"$dir/${files.head}"))
    // Kawartha bbox clips the 20×30 grid to a 6-wide × 3-tall patch
    assert(img.getWidth > 1 && img.getHeight > 1)
  }

  test("colour breaks span the selection's exact value range, (0, 1) when empty") {
    val s = spark
    import s.implicits._
    val sel = Seq(2.0, 12.0, 7.0).toDF("value")
    assert(RenderSink.valueBreaks(sel, 10) == ((2.0, 1.0)))
    assert(RenderSink.valueBreaks(sel.filter("value > 100"), 10) == ((0.0, 0.1)))
  }
}
