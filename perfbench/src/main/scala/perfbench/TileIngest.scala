package perfbench

import java.io.File

import graft.RasterJoin
import graft.core.crs.CRS
import graft.core.geotiff.GeoTiff
import graft.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, struct}

/**
 * Writes and regrids: scene band 0 is regridded onto a seeded EPSG:4326
 * grid with `RasterJoin` (bilinear) and written with the `tiles` writer;
 * 0.5x `average` overviews of small windows are written as more files
 * than `RefTile`'s 4096-entry metadata cache holds, then read back and
 * aggregated.
 */
final class TileIngest(seed: Long) extends Workload {
  val layout = Scenes.Layout(seed, scenes = 2, size = 768, across = 2)
  private val size = layout.size
  private val W = 16 // overview source window
  private val G = 4 // target grid is G x G tiles
  private val TT = 128 // target tile size
  private val files = layout.scenes * (size / W) * (size / W)
  private var firstScene: File = _

  /** The target grid over scene 0: tile (0, 0)'s top-left corner, then
    * tile width and height in degrees; the origin is jittered by the seed. */
  private val (lon0, lat1, w, h) = {
    val e = layout.extent(0)
    val corners = Seq((e.xmin, e.ymin), (e.xmin, e.ymax), (e.xmax, e.ymin), (e.xmax, e.ymax))
      .map { case (x, y) => CRS.transform(x, y, layout.crs, CRS.wgs84) }
    val lonMin = corners.map(_._1).min
    val latMax = corners.map(_._2).max
    val w = (corners.map(_._1).max - lonMin) / G
    val h = (latMax - corners.map(_._2).min) / G
    (lonMin + (Scenes.unit(seed ^ 23) - 0.5) * 0.2 * w, latMax + (Scenes.unit(seed ^ 29) - 0.5) * 0.2 * h, w, h)
  }

  // plain-loop references, filled by references(): the overview cells,
  // band 0's range in scene 0, and per target tile the cells whose centre
  // falls inside scene 0 (exactly the cells the bilinear regrid fills)
  private val overviewCells = new Acc
  private val band0 = new Acc
  private val regridCells = Array.ofDim[Long](G, G)

  override def microInput: Option[File] = Option(firstScene)

  override def warmUpRotations: Int = 3

  override def references(): Unit = {
    for (s <- 0 until layout.scenes) {
      val b0 = Scenes.bands(seed, s, size, 1)(0)
      // band 0 is constant on 2x2 blocks, so each overview cell is exactly
      // the block value
      for (r <- 0 until size by 2; c <- 0 until size by 2) overviewCells.add(b0(r * size + c))
      if (s == 0) b0.foreach(v => band0.add(v))
    }
    val scene0 = layout.extent(0)
    for (tr <- 0 until G; tc <- 0 until G; r <- 0 until TT; c <- 0 until TT) {
      val x = lon0 + tc * w + (c + 0.5) * w / TT
      val y = lat1 - tr * h - (r + 0.5) * h / TT
      val (sx, sy) = CRS.transform(x, y, CRS.wgs84, layout.crs)
      if (sx >= scene0.xmin && sx <= scene0.xmax && sy >= scene0.ymin && sy <= scene0.ymax)
        regridCells(tr)(tc) += 1
    }
  }

  /** The G x G target tiles, an empty float64 tile each. */
  private def targetGrid(spark: SparkSession): DataFrame =
    spark.range(G * G).select(
      struct(
        (lit(lon0) + (col("id") % G) * w).as("xmin"),
        (lit(lat1 - h) - (col("id") / G).cast("long") * h).as("ymin"),
        (lit(lon0 + w) + (col("id") % G) * w).as("xmax"),
        (lit(lat1) - (col("id") / G).cast("long") * h).as("ymax")).as("t_extent"),
      lit(CRS.wgs84.normalized).as("t_crs"),
      rf_make_constant_tile(lit(0), TT, TT, "float64").as("t_tile"))

  private def tifs(d: File): Seq[File] =
    Option(d.listFiles).map(_.toSeq).getOrElse(Nil).filter(_.getName.endsWith(".tif"))

  /** Reads the written regrid tiles back: one per target tile, each with
    * the reference's count of data cells, all within band 0's range. */
  private def checkRegrid(dir: File): Option[String] = {
    val catalog = new File(dir, "catalog.csv")
    val listed = if (catalog.exists) java.nio.file.Files.readAllLines(catalog.toPath).size - 1 else -1
    val tiles = tifs(dir).map(f => GeoTiff.read(f.getAbsolutePath))
    val seen = Array.ofDim[Int](G, G)
    val problems = tiles.flatMap { case (t, e, _) =>
      val tc = math.round((e.xmin - lon0) / w).toInt
      val tr = math.round((lat1 - e.ymax) / h).toInt
      if (tc < 0 || tc >= G || tr < 0 || tr >= G) Some(s"tile at $e is off the target grid")
      else {
        seen(tr)(tc) += 1
        val values = (0 until t.size).map(t.getDouble).filterNot(_.isNaN)
        val slack = 1e-9 * band0.max
        if (values.size != regridCells(tr)(tc))
          Some(s"target tile ($tc, $tr) has ${values.size} data cells, expected ${regridCells(tr)(tc)}")
        else values.find(v => v < band0.min - slack || v > band0.max + slack)
          .map(v => s"target tile ($tc, $tr) holds $v outside band 0's [${band0.min}, ${band0.max}]")
      }
    }
    if (tiles.size != G * G || listed != G * G || seen.exists(_.exists(_ != 1)))
      Some(s"${tiles.size} tiles ($listed listed), expected one per target cell: ${G * G}")
    else problems.headOption
  }

  def prepare(spark: SparkSession, dir: File): Seq[Op] = {
    val scenes = new File(dir, "scenes")
    scenes.mkdirs()
    for (s <- 0 until layout.scenes) {
      val path = layout.path(scenes, s)
      GeoTiff.write(path, Scenes.tile(Scenes.bands(seed, s, size, 1)(0), size), layout.extent(s), layout.crs)
      if (s == 0) firstScene = new File(path)
    }
    val regridOut = new File(dir, "regrid")
    val overviews = new File(dir, "overviews")

    def read(s: SparkSession, path: String, dims: Int) = s.read.format("raster")
      .option("path", path).option("band_indexes", "0")
      .option("tile_dimensions", s"$dims,$dims").load()

    Seq(
      Op("regrid_4326", G.toLong * G * TT * TT,
        s => RasterJoin(targetGrid(s), read(s, layout.path(scenes, 0), 256),
          col("t_extent"), col("t_crs"), col("t_tile"),
          col("extent"), col("crs"), col("tile_b0"), method = "bilinear")
          .select(col("t_extent").as("extent"), col("t_crs").as("crs"), col("right_tile").as("tile")),
        df => df.write.format("tiles").mode("overwrite").save(regridOut.getAbsolutePath),
        _ => checkRegrid(regridOut),
        writes = Some(regridOut),
        after = () => Runner.deleteTree(regridOut),
        probe = true),
      Op("overview_write", files.toLong * (W / 2) * (W / 2),
        s => read(s, scenes.getAbsolutePath, W)
          .select(col("extent"), col("crs"), rf_resample(col("tile_b0"), lit(0.5), "average").as("tile")),
        df => df.write.format("tiles").mode("overwrite").save(overviews.getAbsolutePath),
        _ => {
          val n = tifs(overviews).size
          if (n != files) Some(s"$n overview files, expected $files") else None
        },
        writes = Some(overviews)),
      Op("overview_read_back", overviewCells.n,
        s => s.read.format("raster").option("path", overviews.getAbsolutePath).load()
          .agg(rf_agg_stats(col("tile"))),
        _.collect(), r => {
          val row = r.asInstanceOf[Array[Row]].head.getStruct(0)
          val n = row.getLong(0)
          val sum = row.getDouble(4) * n
          val expected = overviewCells
          if (n != expected.n || math.abs(sum - expected.sum) > 1e-9 * expected.sum)
            Some(s"read back $n cells summing to $sum, wrote ${expected.n} summing to ${expected.sum}")
          else None
        },
        after = () => Runner.deleteTree(overviews)))
  }
}
