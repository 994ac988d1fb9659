package perfbench

import java.io.File

import scala.collection.mutable

import graft.core.geotiff.GeoTiff
import graft.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/**
 * Map algebra and statistics over a seeded catalog of multiband uint16
 * UTM scenes, read with `format("raster")`, `band_indexes` and 256x256
 * windows. Every result is compared with a reference computed by plain
 * loops over the generated arrays.
 */
final class SceneAnalytics(seed: Long) extends Workload {
  val layout = Scenes.Layout(seed, scenes = 4, size = 1024, across = 2)
  private val size = layout.size
  private val T = 256
  private val keys = size / T
  private val maskClass = 1 + (Scenes.mix(seed ^ 7) & 0x7fffffffL).toInt % 6
  private val selScene = (Scenes.mix(seed ^ 11) & 0x7fffffffL).toInt % layout.scenes
  private val selCol = (Scenes.mix(seed ^ 13) & 0x7fffffffL).toInt % (keys - 1)
  private val selRow = (Scenes.mix(seed ^ 17) & 0x7fffffffL).toInt % (keys - 1)
  private var firstScene: File = _

  override def microInput: Option[File] = Option(firstScene)

  private def read(spark: SparkSession, dir: File, bands: String, buffer: Int = 0): DataFrame =
    spark.read.format("raster")
      .option("path", dir.getAbsolutePath)
      .option("band_indexes", bands)
      .option("tile_dimensions", s"$T,$T")
      .option("buffer_size", buffer.toString)
      .load()

  // plain-loop references, filled by references()
  private val ndvi, slope, focal, hist, sel = new Acc
  private val tileMeans = mutable.Map.empty[(String, Int, Int), Double]

  override def warmUpRotations: Int = 4

  override def references(): Unit =
    for (s <- 0 until layout.scenes) {
      val b = Scenes.bands(seed, s, size, 4)
      var i = 0
      while (i < size * size) {
        val red = b(1)(i).toDouble
        val nir = b(2)(i).toDouble
        ndvi.add((nir - red) / (nir + red))
        hist.add(red)
        i += 1
      }
      for (kr <- 0 until keys; kc <- 0 until keys) {
        val selected = s == selScene && kc - selCol >= 0 && kc - selCol <= 1 &&
          kr - selRow >= 0 && kr - selRow <= 1
        var sum = 0.0
        var n = 0L
        var r = kr * T
        while (r < (kr + 1) * T) {
          var c = kc * T
          while (c < (kc + 1) * T) {
            val i = r * size + c
            if (b(3)(i) != maskClass) { sum += b(0)(i); n += 1 }
            if (selected) sel.add(b(1)(i))
            c += 1
          }
          r += 1
        }
        tileMeans((layout.name(s), kc, kr)) = sum / n
        terrain(b(0), kc, kr, slope, focal)
      }
    }

  def prepare(spark: SparkSession, dir: File): Seq[Op] = {
    for (s <- 0 until layout.scenes) {
      val path = layout.path(dir, s)
      GeoTiff.writeMultiband(path, Scenes.bands(seed, s, size, 4).map(Scenes.tile(_, size)).toSeq,
        layout.extent(s), layout.crs)
      if (s == 0) firstScene = new File(path)
    }
    val allCells = layout.scenes.toLong * size * size

    def stats(expected: Acc, what: String)(r: Any): Option[String] =
      expected.check(what, r.asInstanceOf[Array[Row]].head.getStruct(0))

    val sceneExt = layout.extent(selScene)
    val x0 = sceneExt.xmin + selCol * T * layout.cell + 1
    val y1 = sceneExt.ymax - selRow * T * layout.cell - 1
    val x1 = x0 + 2 * T * layout.cell - 2
    val y0 = y1 - 2 * T * layout.cell + 2
    val window = s"POLYGON(($x0 $y0, $x1 $y0, $x1 $y1, $x0 $y1, $x0 $y0))"

    Seq(
      Op("ndvi_stats", 2 * allCells,
        s => read(s, dir, "1,2").agg(rf_agg_stats(rf_normalized_difference(col("tile_b2"), col("tile_b1")))),
        _.collect(), stats(ndvi, "ndvi")),
      Op("mask_tile_mean", 2 * allCells,
        s => read(s, dir, "0,3").select(col("path"), col("spatial_key.col"), col("spatial_key.row"),
          rf_tile_mean(rf_mask_by_value(col("tile_b0"), col("tile_b3"), maskClass.toDouble))),
        _.collect(), r => {
          val rows = r.asInstanceOf[Array[Row]]
          val bad = rows.filterNot { row =>
            tileMeans.get((new File(row.getString(0)).getName, row.getInt(1), row.getInt(2)))
              .exists(m => math.abs(m - row.getDouble(3)) <= 1e-9 * math.abs(m))
          }
          if (rows.length != tileMeans.size || bad.nonEmpty)
            Some(s"${rows.length} tile means (${bad.length} wrong), expected ${tileMeans.size}")
          else None
        }),
      Op("slope_focal_mean", allCells,
        s => read(s, dir, "0", buffer = 1)
          .agg(rf_agg_stats(rf_slope(col("tile_b0"), 1.0)),
            rf_agg_stats(rf_focal_mean(col("tile_b0"), "square-1"))),
        _.collect(), r => {
          val row = r.asInstanceOf[Array[Row]].head
          slope.check("slope", row.getStruct(0)).orElse(focal.check("focal mean", row.getStruct(1)))
        }),
      Op("approx_histogram", allCells,
        s => read(s, dir, "1").agg(rf_agg_approx_histogram(col("tile_b1"))),
        _.collect(), r => {
          val bins = r.asInstanceOf[Array[Row]].head.getStruct(0).getSeq[Row](0)
          val total = bins.map(_.getLong(1)).sum
          val inRange = bins.forall(b => b.getDouble(0) >= hist.min && b.getDouble(0) <= hist.max)
          if (total != hist.n || !inRange || bins.isEmpty)
            Some(s"histogram holds $total cells in ${bins.size} bins, expected ${hist.n} in [${hist.min}, ${hist.max}]")
          else None
        }),
      Op("selective_window", 4L * T * T,
        s => read(s, dir, "1")
          .filter(st_intersects(st_geometry(col("extent")), st_geomFromWKT(lit(window))))
          .agg(rf_agg_stats(col("tile_b1"))),
        _.collect(), stats(sel, "window")))
  }

  /** Slope (Horn, unit cell size, degrees) and 3x3 focal mean over one
    * buffered read window, as plain loops. Neighbours outside the window
    * fall back to the centre cell for slope and are skipped for the mean. */
  private def terrain(z: Array[Int], kc: Int, kr: Int, slope: Acc, focal: Acc): Unit = {
    val c0 = math.max(0, kc * T - 1)
    val r0 = math.max(0, kr * T - 1)
    val c1 = math.min(size - 1, (kc + 1) * T)
    val r1 = math.min(size - 1, (kr + 1) * T)
    def v(c: Int, r: Int, centre: Double): Double =
      if (c < c0 || c > c1 || r < r0 || r > r1) centre else z(r * size + c).toDouble
    var r = r0
    while (r <= r1) {
      var c = c0
      while (c <= c1) {
        val e = z(r * size + c).toDouble
        val a = v(c - 1, r - 1, e); val b = v(c, r - 1, e); val cc = v(c + 1, r - 1, e)
        val d = v(c - 1, r, e); val f = v(c + 1, r, e)
        val g = v(c - 1, r + 1, e); val h = v(c, r + 1, e); val i = v(c + 1, r + 1, e)
        val dx = ((cc + 2 * f + i) - (a + 2 * d + g)) / 8
        val dy = ((g + 2 * h + i) - (a + 2 * b + cc)) / 8
        slope.add(math.toDegrees(math.atan(math.sqrt(dx * dx + dy * dy))))
        var sum = 0.0
        var n = 0
        var dr = -1
        while (dr <= 1) {
          var dc = -1
          while (dc <= 1) {
            val rr = r + dr
            val c2 = c + dc
            if (rr >= r0 && rr <= r1 && c2 >= c0 && c2 <= c1) { sum += z(rr * size + c2); n += 1 }
            dc += 1
          }
          dr += 1
        }
        focal.add(sum / n)
        c += 1
      }
      r += 1
    }
  }
}
