package perfbench

import graft.sources.Hdf5

/** The GDDP-shaped archive both fetch workloads serve: one NetCDF-4 file per
  * variable (`tasmax`, `tasmin`, `pr`), daily values over one non-leap year in
  * the standard calendar, chunked one day per chunk with the shuffle+deflate
  * pipeline that CMIP daily files ship with.
  *
  * Values are closed-form in (variable, t, y, x) and the seed, so the output
  * checks recompute every pixel without reading the archive back. Every value
  * is a multiple of 0.5 below 2^11, so the float32 store is exact.
  */
final case class Archive(seed: Long, ny: Int, nx: Int, days: Int) {
  import Archive._

  // the seed shifts the value pattern and the holes, never their shape: a
  // pattern's entropy sets what decode, PNG encoding and zipping cost, and
  // that must not differ between seeds
  private val rng = new java.util.Random(seed)
  private val phase: Int = rng.nextInt(100)
  private val holePhase: Int = rng.nextInt(Hole)

  /** Grid coordinates, by the same affine the requests' polygons use. */
  private val lat: Array[Double] = Array.tabulate(ny)(y => Lat0 + y * Step)
  private val lon: Array[Double] = Array.tabulate(nx)(x => Lon0 + x * Step)

  /** The cell's value, or None where the archive holds `_FillValue`. */
  def value(v: Int, t: Int, y: Int, x: Int): Option[Double] =
    if ((t + 3 * y + x + holePhase + v) % Hole == 0) None
    else {
      val k = (31 * t + 7 * y + 13 * x + 7 * v + phase) % 100
      Some(Base(v) + 0.5 * k)
    }

  def day(t: Int): java.time.LocalDate = Epoch.plusDays(t.toLong)

  def fileName(v: Int): String = s"${Variables(v)}_day_perfbench_${Epoch.getYear}.nc"

  /** Writes the three files into `dir` through the engine's HDF5 writer. */
  def write(dir: java.io.File): Unit = {
    import Hdf5._
    dir.mkdirs()
    val coords = Seq(
      WDataset("time", I32, Seq(days.toLong), Array.tabulate(days)(_.toDouble),
        strAttrs = Seq("CLASS" -> "DIMENSION_SCALE", "NAME" -> "time",
          "units" -> s"days since $Epoch", "calendar" -> "standard")),
      WDataset("lat", F64, Seq(ny.toLong), lat,
        strAttrs = Seq("CLASS" -> "DIMENSION_SCALE", "NAME" -> "lat",
          "units" -> "degrees_north")),
      WDataset("lon", F64, Seq(nx.toLong), lon,
        strAttrs = Seq("CLASS" -> "DIMENSION_SCALE", "NAME" -> "lon",
          "units" -> "degrees_east")))
    for (v <- Variables.indices) {
      val data = new Array[Double](days * ny * nx)
      var i = 0
      for (t <- 0 until days; y <- 0 until ny; x <- 0 until nx) {
        data(i) = value(v, t, y, x).getOrElse(Fill)
        i += 1
      }
      Hdf5.write(new java.io.File(dir, fileName(v)).getPath, coords :+
        WDataset(Variables(v), F32, Seq(days.toLong, ny.toLong, nx.toLong), data,
          strAttrs = Seq("long_name" -> LongNames(v), "units" -> Units(v)),
          numAttrs = Seq(("_FillValue", F32, Seq(Fill))),
          refAttrs = Seq("DIMENSION_LIST" -> Seq(Seq("time"), Seq("lat"), Seq("lon"))),
          chunkDims = Some(Seq(1, ny, nx)),
          filters = Seq(Shuffle(F32.size), Deflate(4))),
        latest = false)
    }
  }
}

object Archive {
  val Variables: Seq[String] = Seq("tasmax", "tasmin", "pr")
  val LongNames: Seq[String] = Seq(
    "Daily Maximum Near-Surface Air Temperature",
    "Daily Minimum Near-Surface Air Temperature",
    "Precipitation")
  val Units: Seq[String] = Seq("K", "K", "kg m-2 s-1")
  val Base: Seq[Double] = Seq(270.0, 250.0, 0.0)
  val Fill: Double = 1.0e20
  /** Every `Hole`-th diagonal of a day's grid is NODATA. */
  val Hole = 23
  val Epoch: java.time.LocalDate = java.time.LocalDate.of(2001, 1, 1)
  /** South-west corner inside the reference's dataset boundary (`main.py:95`). */
  val Lat0 = 42.0; val Lon0 = -90.0; val Step = 0.05
}
