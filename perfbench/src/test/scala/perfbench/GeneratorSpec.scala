package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The archive and request generators are functions of the seed. */
class GeneratorSpec extends AnyFunSuite {
  private def written(a: Archive): Map[String, Seq[Byte]] = {
    val dir = Files.createTempDirectory("perfbench-gen").toFile
    try {
      a.write(dir)
      dir.listFiles().map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
    } finally {
      dir.listFiles().foreach(_.delete())
      dir.delete()
    }
  }

  test("the same seed writes byte-identical archive files") {
    val one = written(Archive(7, ny = 6, nx = 8, days = 10))
    val two = written(Archive(7, ny = 6, nx = 8, days = 10))
    assert(one.keySet == Archive.Variables.indices.map(Archive(7, 6, 8, 10).fileName).toSet)
    assert(one == two)
    assert(written(Archive(8, ny = 6, nx = 8, days = 10)) != one)
  }

  test("archive values are closed-form, with NODATA holes, and exact in float32") {
    val a = Archive(3, ny = 20, nx = 30, days = 40)
    val vals = for (v <- 0 until 3; t <- 0 until 40; y <- 0 until 20; x <- 0 until 30)
      yield a.value(v, t, y, x)
    assert(vals == (for (v <- 0 until 3; t <- 0 until 40; y <- 0 until 20; x <- 0 until 30)
      yield Archive(3, 20, 30, 40).value(v, t, y, x)))
    assert(vals.count(_.isEmpty) > 0 && vals.count(_.isDefined) > vals.size * 9 / 10)
    assert(vals.flatten.forall(z => z.toFloat.toDouble == z))
  }

  test("the same seed gives the same request list, and another seed another") {
    val a = Archive(5, ny = 60, nx = 80, days = 365)
    val one = Requests.generate(a, Requests.Interactive, 5, 200, "t")
    assert(one == Requests.generate(a, Requests.Interactive, 5, 200, "t"))
    assert(one.map(_.body(a)) == Requests.generate(a, Requests.Interactive, 5, 200, "t").map(_.body(a)))
    assert(one != Requests.generate(a, Requests.Interactive, 6, 200, "t"))
  }

  test("generated requests stay inside the mix, the year and the margin rule") {
    val a = Archive(9, ny = 60, nx = 80, days = 365)
    for ((mix, n) <- Seq(Requests.Interactive -> 300, Fetch.Bulk.mix -> 100)) {
      Requests.generate(a, mix, 9, n, "m").foreach { op =>
        assert(op.vars.size >= mix.minVars && op.vars.size <= mix.maxVars, op)
        val span = op.t1 - op.t0 + 1
        mix.days match {
          case Requests.DayRange(lo, hi) => assert(span >= lo && span <= hi, op)
          case Requests.VarDays(k) => assert(span * op.vars.size == k, op)
        }
        assert(op.t0 >= 0 && op.t1 < a.days, op)
        assert(op.cells.nonEmpty, op)
        assert(op.edgeMargin >= Requests.MinMargin, op)
      }
    }
  }

  test("every seed draws the same mix of spans, variable counts and shapes") {
    val a = Archive(4, ny = 60, nx = 80, days = 365)
    def shape(op: FetchOp) = if (op.ring.size == 5) "rect" else "tri"
    def mix(seed: Long, m: Requests.Mix) = Requests.generate(a, m, seed, 60, "s")
      .groupBy(op => (op.vars.size, op.t1 - op.t0 + 1, shape(op))).view.mapValues(_.size).toMap
    // 1x1..1x10 polygons are always rectangles, so compare the interactive
    // mix on spans and variable counts only
    def spans(seed: Long) = Requests.generate(a, Requests.Interactive, seed, 60, "s")
      .groupBy(op => (op.vars.size, op.t1 - op.t0 + 1)).view.mapValues(_.size).toMap
    assert(spans(1) == spans(2) && spans(1).values.toSet == Set(20))
    assert(mix(1, Fetch.Bulk.mix) == mix(2, Fetch.Bulk.mix))
    assert(mix(1, Fetch.Bulk.mix) == Map((2, 9, "rect") -> 30, (3, 6, "rect") -> 30))
  }

  test("triangles keep only the cells on their side of the diagonal") {
    // right angle at the south-west corner of a 4x4 block of cells
    val op = FetchOp("t", Seq(0), 0, 0, Seq((-0.5, -0.5), (3.6, -0.5), (-0.5, 3.6), (-0.5, -0.5)))
    assert(op.cells.toSet == (for (y <- 0 to 3; x <- 0 to 3 if x + y <= 3) yield (y, x)).toSet)
  }
}
