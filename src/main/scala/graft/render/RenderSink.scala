package graft.render

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.domain.GridQuery

/** Raster render sink: bin cell values with fixed breaks and write one PNG
  * per (variable, timestep) — the reference's output contract
  * (`gddp<variable><dates>.png`, `Gddp.scala:236`, `main.py:114-127`).
  *
  * Scale shape: cells are repartitioned by (variable, ts) and the PNGs are
  * written from `foreachPartition` on the executors (the reference also wrote
  * from the task, `Gddp.scala:234-236`) — the driver never materializes pixel
  * data. One image's cells always land in one partition; images are bounded
  * (one raster tile), tasks scale with the number of timesteps.
  */
object RenderSink {

  /** Blue→red ramp, nbins entries (the reference's `ColorRamps.BlueToRed`). */
  def blueToRed(nbins: Int): Array[Int] =
    Array.tabulate(nbins) { i =>
      val f = if (nbins == 1) 0.0 else i.toDouble / (nbins - 1)
      val r = (255 * f).toInt
      val b = (255 * (1 - f)).toInt
      val g = (96 * (1 - math.abs(2 * f - 1))).toInt
      (r << 16) | (g << 8) | b
    }

  val Nodata: Int = 0x202020 // dark gray for NULL cells

  /** R2 archive sink: zip the rendered PNGs into one archive — the response
    * payload of the reference's `/fetchResult` (`main.py:114-127` zips
    * `gddp<variable><dates>.png` files into `result.zip`). Deflate-compressed,
    * entries in name order for a deterministic archive. Returns entry names.
    *
    * Driver-side by design: the PNGs are written distributed (one task per
    * image, below); the zip is response assembly over a bounded file list —
    * the same boundary the reference draws.
    */
  def zipPngs(dir: String, zipPath: String): Seq[String] = {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".png")).sortBy(_.getName).toSeq
    val zos = new ZipOutputStream(new java.io.FileOutputStream(zipPath))
    try files.map { f =>
      val e = new ZipEntry(f.getName)
      e.setTime(0L) // fixed mtime: same content => byte-identical archive
      zos.putNextEntry(e)
      java.nio.file.Files.copy(f.toPath, zos)
      zos.closeEntry()
      f.getName
    } finally zos.close()
  }

  /** The colour breaks `(lo, step)` a selection renders with: `nbins` equal
    * bins over the selection's exact value range, the reference's colour map
    * (`Gddp.scala:230-236`), or over `(0, 1)` when it holds no value. The
    * min/max is one metadata-sized aggregate.
    */
  def valueBreaks(sel: DataFrame, nbins: Int): (Double, Double) = {
    val stats = sel.agg(min("value"), max("value")).collect()(0)
    val (lo, hi) =
      if (stats.isNullAt(0)) (0.0, 1.0)
      else (stats.getDouble(0), stats.getDouble(1))
    (lo, math.max((hi - lo) / nbins, 1e-9))
  }

  /** Writes `<outDir>/grid_<variable>_<yyyy-MM-dd>.png` per timestep.
    * `sel` needs columns (variable, ts, y, x, value); grid dims are taken
    * from the y/x extent of each image's own cells.
    */
  def writePngs(sel: DataFrame, outDir: String, lo: Double, step: Double, nbins: Int): Unit = {
    new java.io.File(outDir).mkdirs()
    val ramp = blueToRed(nbins)
    sel
      .select(col("variable"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("y"), col("x"),
        when(col("value").isNull, lit(-1))
          .otherwise(GridQuery.colorBin(col("value"), lo, step, nbins)).as("bin"))
      .repartition(col("variable"), col("day"))
      .sortWithinPartitions("variable", "day")
      .foreachPartition { (rows: Iterator[Row]) =>
        // images are sorted within the partition, so a single streaming pass
        // buffers ONE image's cells at a time (bounded: a raster tile) —
        // never the whole partition, however many images hash into it
        val it = rows.buffered
        while (it.hasNext) {
          val variable = it.head.getString(0); val day = it.head.getString(1)
          val cells = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
          while (it.hasNext && it.head.getString(0) == variable &&
              it.head.getString(1) == day) {
            val r = it.next()
            cells += ((r.getInt(2), r.getInt(3), r.getInt(4)))
          }
          var y0 = Int.MaxValue; var y1 = Int.MinValue
          var x0 = Int.MaxValue; var x1 = Int.MinValue
          cells.foreach { case (y, x, _) =>
            y0 = math.min(y0, y); y1 = math.max(y1, y)
            x0 = math.min(x0, x); x1 = math.max(x1, x)
          }
          val w = x1 - x0 + 1; val h = y1 - y0 + 1
          val px = Array.fill(w * h)(Nodata)
          cells.foreach { case (y, x, bin) =>
            // row 0 at the top = northmost latitude (flip y)
            px((y1 - y) * w + (x - x0)) = if (bin < 0) Nodata else ramp(bin)
          }
          Png.write(s"$outDir/grid_${variable}_$day.png", w, h, px)
        }
      }
  }
}
