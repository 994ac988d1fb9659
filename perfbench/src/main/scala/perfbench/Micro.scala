package perfbench

import java.io.File

import graft.core.{CellType, Extent, Focal, GridBounds, NoData, Resample, Tile}
import graft.core.crs.CRS
import graft.core.geotiff.GeoTiff
import graft.expressions.{NormalizedDifference, ReprojectAndMerge, Slope}
import graft.udt.{RefTile, TileUDT}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Layer micro-timings of the traced run: direct calls into the public
 * functions of graft.datasource, graft.udt, graft.core, graft.expressions
 * and graft.RasterJoin's merge, on 256x256 uint16 windows of the
 * workload's own seeded scene.
 */
object Micro {
  /** Median microseconds per call over 5 batches of at least 20 ms each. */
  def time(body: () => Any): Double = {
    var sink: Any = null
    var n = 1
    var t = 0L
    while ({ val t0 = System.nanoTime(); var i = 0; while (i < n) { sink = body(); i += 1 }
      t = System.nanoTime() - t0; t < 20000000L }) n *= 2
    val batches = Seq.fill(5) {
      val t0 = System.nanoTime(); var i = 0
      while (i < n) { sink = body(); i += 1 }
      (System.nanoTime() - t0) / 1e3 / n
    }
    if (sink == null) throw new IllegalStateException("micro-timing produced no result")
    Runner.quantile(batches, 0.5)
  }

  /** graft.core has no NDVI kernel: `rf_normalized_difference` runs
    * `BinaryLocalOp`'s cell loop over graft.core tiles into a float64
    * tile. This is that loop, so the gap to expr.ndvi_us is the codec and
    * the expression around it. */
  def ndvi(nir: Tile, red: Tile): Tile = {
    val out = Tile.empty(CellType.float64, nir.cols, nir.rows)
    var i = 0
    while (i < out.size) {
      val a = nir.getDouble(i); val b = red.getDouble(i)
      out.setDouble(i, if (NoData.isData(a) && NoData.isData(b)) (a - b) / (a + b) else Double.NaN)
      i += 1
    }
    out
  }

  def run(spark: SparkSession, seed: Long, input: Option[File], dir: File): Seq[(String, (Double, String))] = {
    val path = input.map(_.getAbsolutePath).getOrElse {
      dir.mkdirs()
      val l = Scenes.Layout(seed, 1, 512, 1)
      val p = l.path(dir, 0)
      GeoTiff.writeMultiband(p, Scenes.bands(seed, 0, 512, 4).map(Scenes.tile(_, 512)).toSeq,
        l.extent(0), l.crs)
      p
    }
    val info = RefTile.info(path)
    val win = GridBounds(0, 0, 255, 255)
    def band(b: Int) = RefTile.readWindow(path, win, math.min(b, info.samplesPerPixel - 1))
    val (band0, red, nir) = (band(0), band(1), band(2))
    val re = info.rasterExtent
    val ext = Extent(info.extent.xmin, info.extent.ymax - 256 * re.cellHeight,
      info.extent.xmin + 256 * re.cellWidth, info.extent.ymax)
    val crs = info.crs
    val enc = TileUDT.encode(band0)
    val tileType = TileUDT.instance
    def bound(i: Int) = BoundReference(i, tileType, nullable = false)
    val pair = InternalRow(TileUDT.encode(nir), TileUDT.encode(red))
    val ndviExpr = NormalizedDifference(bound(0), bound(1))
    val slopeExpr = Slope(bound(0), Literal(1.0))
    val one = InternalRow(enc)
    val square1 = Focal.Neighborhood.parse("square-1")
    val pts = Array.tabulate(1000)(i => (ext.xmin + (i % 40) * 190.0, ext.ymin + (i / 40) * 300.0))

    // RasterJoin's merge: four source windows onto one 128x128 EPSG:4326 tile
    val srcWins = for (r <- 0 to 1; c <- 0 to 1) yield GridBounds(c * 256, r * 256, c * 256 + 255, r * 256 + 255)
    val srcTiles = srcWins.map(w => TileUDT.encode(RefTile.readWindow(path, w, 0)))
    val srcExts = srcWins.map { w =>
      InternalRow(info.extent.xmin + w.colMin * re.cellWidth, info.extent.ymax - (w.rowMax + 1) * re.cellHeight,
        info.extent.xmin + (w.colMax + 1) * re.cellWidth, info.extent.ymax - w.rowMin * re.cellHeight)
    }
    val ll = Seq((0, 0), (512, 512)).map { case (c, r) =>
      CRS.transform(info.extent.xmin + c * re.cellWidth, info.extent.ymax - r * re.cellHeight, crs, CRS.wgs84)
    }
    val (lon0, lon1) = (ll.map(_._1).min, ll.map(_._1).max)
    val (lat0, lat1) = (ll.map(_._2).min, ll.map(_._2).max)
    val mergeRow = InternalRow(
      new GenericArrayData(srcTiles.toArray[Any]), new GenericArrayData(srcExts.toArray[Any]),
      new GenericArrayData(Array.fill[Any](4)(UTF8String.fromString(crs.normalized))),
      InternalRow(lon0, lat0, lon1, lat1), UTF8String.fromString(CRS.wgs84.normalized), 128, 128,
      UTF8String.fromString("bilinear"))
    val extentType = graft.expressions.SpatialSupport.extentSchema
    val mergeExpr = ReprojectAndMerge(Seq[DataType](ArrayType(TileUDT.schema), ArrayType(extentType),
      ArrayType(StringType), extentType, StringType, IntegerType, IntegerType, StringType)
      .zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = false): Expression })
    require(mergeExpr.eval(mergeRow) != null)

    def us(name: String, body: () => Any) = name -> (time(body), "us")
    Seq(
      us("datasource.read.window_us", () => RefTile.readWindow(path, win, 0)),
      us("datasource.write.tile_us", () => GeoTiff.writeBytes(band0, ext, crs)),
      us("udt.encode_us", () => TileUDT.encode(band0)),
      us("udt.decode_us", () => TileUDT.decode(enc)),
      us("core.ndvi_us", () => ndvi(nir, red)),
      us("core.slope_us", () => Focal.slope(band0, re.cellWidth, re.cellHeight, 1.0)),
      us("core.focal_mean_us", () => Focal.mean(band0, square1)),
      us("core.resample_avg_us", () => Resample(band0, 128, 128, "average")),
      us("core.stats_us", () => band0.statsAccum),
      "crs.transform_us" -> (time { () =>
        var acc = 0.0; var i = 0
        while (i < pts.length) { acc += CRS.transform(pts(i)._1, pts(i)._2, crs, CRS.wgs84)._1; i += 1 }
        acc
      } / pts.length, "us"),
      us("expr.ndvi_us", () => ndviExpr.eval(pair)),
      us("expr.slope_us", () => slopeExpr.eval(one)),
      us("raster_join.merge_us", () => mergeExpr.eval(mergeRow)))
  }
}
