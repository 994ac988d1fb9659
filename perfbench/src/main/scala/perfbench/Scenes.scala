package perfbench

import java.io.File

import graft.core.{CellType, Extent, Tile}
import graft.core.crs.CRS
import graft.core.geotiff.GeoTiff

/** Seeded synthetic imagery: uint16 multiband scenes laid out on a UTM grid. */
object Scenes {
  /** SplitMix64: a fast, well-mixed hash for per-cell noise. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def unit(x: Long): Double = (mix(x) >>> 11).toDouble / (1L << 53).toDouble

  final case class Layout(seed: Long, scenes: Int, size: Int, across: Int) {
    val zone: Int = 31 + (mix(seed) & 0x7fffffffL).toInt % 6
    val crs: CRS = CRS(s"EPSG:326$zone")
    val cell = 30.0
    val x0: Double = 300000 + math.floor(unit(seed ^ 1) * 100) * 300
    val y0: Double = 4500000 + math.floor(unit(seed ^ 2) * 100) * 300
    def extent(s: Int): Extent = {
      val span = size * cell
      val xmin = x0 + (s % across) * span
      val ymax = y0 - (s / across) * span
      Extent(xmin, ymax - span, xmin + span, ymax)
    }
    def name(s: Int): String = f"scene-$s%03d.tif"
    def path(dir: File, s: Int): String = new File(dir, name(s)).getAbsolutePath
  }

  /** Band values of scene `s` as row-major arrays (all cells >= 1, so
    * the uint16 NoData value 0 never occurs). Band 0 is a smooth surface
    * that is constant on 2x2 blocks, bands 1 and 2 are red and
    * near-infrared, band 3 a land-cover class 1..6 on 32x32 blocks. */
  def bands(seed: Long, s: Int, size: Int, nBands: Int): Array[Array[Int]] = {
    val k = mix(seed * 31 + s)
    val fx = 0.004 + unit(k) * 0.01
    val fy = 0.004 + unit(k + 1) * 0.01
    val px = unit(k + 2) * 6.28
    val py = unit(k + 3) * 6.28
    val out = Array.fill(nBands)(new Array[Int](size * size))
    var r = 0
    while (r < size) {
      var c = 0
      while (c < size) {
        val i = r * size + c
        val bc = c & ~1 // band 0 is constant on 2x2 blocks
        val br = r & ~1
        val h = mix(k ^ (br.toLong << 20 | bc))
        out(0)(i) = 1000 + (800 * math.sin(bc * fx + px) * math.cos(br * fy + py)).toInt +
          (h & 63).toInt
        if (nBands > 1) {
          val n = mix(k + i)
          val veg = 0.5 + 0.5 * math.sin(c * fy + py) * math.sin(r * fx + px)
          out(1)(i) = 300 + (n & 1023).toInt + (1200 * (1 - veg)).toInt
          out(2)(i) = 800 + ((n >>> 10) & 2047).toInt + (3000 * veg).toInt
          out(3)(i) = 1 + (mix(k ^ ((r >> 5).toLong << 20 | (c >> 5))) & 0x7fffffffL).toInt % 6
        }
        c += 1
      }
      r += 1
    }
    out
  }

  def tile(a: Array[Int], size: Int): Tile = {
    val t = Tile.empty(CellType.uint16, size, size)
    var i = 0
    while (i < a.length) { t.setDouble(i, a(i).toDouble); i += 1 }
    t
  }
}

/** Running count / min / max / sum / sum of squares, the plain-loop
  * counterpart of `rf_agg_stats`. */
final class Acc {
  var n = 0L
  var sum, sumSq = 0.0
  var min = Double.PositiveInfinity
  var max = Double.NegativeInfinity
  def add(v: Double): Unit = {
    n += 1; sum += v; sumSq += v * v
    if (v < min) min = v
    if (v > max) max = v
  }
  def mean: Double = sum / n
  def variance: Double = (sumSq - sum * mean) / (n - 1)

  /** Compares with an `rf_agg_stats` row; None when they agree. */
  def check(what: String, row: org.apache.spark.sql.Row): Option[String] = {
    def close(a: Double, b: Double, tol: Double) =
      math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))
    val got = (row.getLong(0), row.getDouble(2), row.getDouble(3), row.getDouble(4), row.getDouble(5))
    if (got._1 != n || !close(got._2, min, 1e-12) || !close(got._3, max, 1e-12) ||
        !close(got._4, mean, 1e-9) || !close(got._5, variance, 1e-6))
      Some(f"$what stats (n,min,max,mean,var)=$got, expected ($n,$min,$max,$mean,$variance)")
    else None
  }
}
