package graft.tools

import graft.domain.{GridData, GridQuery, QueryRequest}
import graft.render.RenderSink

/** CLI twin of the reference's spark-submit entry
  * (`README.md:44-52`: `<ncDir> <geojson> <start,end> <vars>`): runs the
  * composed domain query over the grid, writes the selection as parquet and
  * one PNG per (variable, day), coloured like `POST /fetchResult`.
  *
  * Usage: runMain graft.tools.GridCli <outDir> [<start,end>] [<vars,csv>]
  */
object GridCli {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "/tmp/graft_grid_out"
    val dates = (if (args.length > 1) args(1) else "1990-01-03,1990-01-06").split(",")
    val vars = (if (args.length > 2) args(2) else "tasmax,tasmin").split(",").toSeq

    val spark = graft.Session.local()
    val req = QueryRequest(vars, dates(0), dates(1), GridData.kawarthaRing)
    GridQuery.select(GridData.cells(spark), req)
      .write.mode("overwrite").parquet(s"$outDir/cells")
    // the breaks and the PNGs read the written selection, not a recompute
    val cells = spark.read.parquet(s"$outDir/cells")
    val nbins = 10
    val (lo, step) = RenderSink.valueBreaks(cells, nbins)
    RenderSink.writePngs(cells, outDir, lo, step, nbins)
    val pngs = new java.io.File(outDir).listFiles().count(_.getName.endsWith(".png"))
    println(s"[grid-cli] wrote ${cells.count()} cells and $pngs PNGs to $outDir")
    spark.stop()
  }
}
