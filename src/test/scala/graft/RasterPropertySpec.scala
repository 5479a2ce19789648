package graft

import org.apache.spark.sql.functions._

import graft.core.Fixtures
import graft.cube.{Crs, DataCube}
import graft.sources.Rasters

/** Seeded-random property check for the three binary raster containers:
  * random grid shapes (including 1-row and 1-column — the r8 TIFF
  * inline-strip regression surface), adversarial doubles (±0.0,
  * denormals, ±huge, negatives), random per-band holes and random Zarr
  * chunk shapes must ALL round-trip write→load bit-for-bit, with holes
  * surfacing as NaN. RasterSpec pins fixed byte-level cases; this pins
  * the value path over the input space.
  */
class RasterPropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(7)

  private def adversarial(): Double = rnd.nextInt(7) match {
    case 0 => 0.0
    case 1 => -0.0
    case 2 => java.lang.Double.MIN_VALUE          // denormal
    case 3 => -rnd.nextDouble() * 1e300
    case 4 => rnd.nextDouble() * 1e-300
    case 5 => -rnd.nextDouble() * 100
    case _ => rnd.nextDouble() * 100
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  test("random grids round-trip bit-exactly through GTiff, NetCDF-3 and " +
       "Zarr v2 (8 seeded shapes incl. 1-row / 1-col)") {
    val shapes = Seq((1, 5), (4, 1), (1, 1)) ++
      Seq.fill(5)((1 + rnd.nextInt(7), 1 + rnd.nextInt(7)))
    shapes.zipWithIndex.foreach { case ((h, w), iter) =>
      val nBands = 1 + rnd.nextInt(2)
      // band b0 is DENSE so every axis label exists in the cube; later
      // bands get random holes (missing cells → NaN pixels)
      val cells = for {
        b <- 0 until nBands; y <- 0 until h; x <- 0 until w
        if b == 0 || rnd.nextInt(5) != 0
      } yield (x.toLong, y.toLong, s"b$b", adversarial())
      val cube = DataCube(cells.toDF("x", "y", "band", "value"))
        .withCrs(Crs(32633, a = 10.0, c = 0.0, e = -10.0, f = 0.0))

      val present = cells.map { case (x, y, b, v) =>
        (s"band-$b", y, x) -> v
      }.toMap

      // Per-container coordinate semantics (pinned by RasterSpec's fixed
      // cases): GTiff emits FILE rows, north-up flipped when e<0; NetCDF
      // emits the stored y/x coordinate-var LABELS; Zarr emits label
      // INDICES and drops NaN cells (absent chunks are all-fill).
      def check(tag: String, back: org.apache.spark.sql.DataFrame): Unit = {
        val got = back.collect()
        val expectedRows =
          if (tag == "zarr") cells.length else nBands * h * w
        assert(got.length == expectedRows,
          s"[$iter/$tag] ${got.length} pixels, expected $expectedRows " +
            s"(h=$h w=$w bands=$nBands)")
        got.foreach { r =>
          val s = r.getString(0)
          val (y, x) = tag match {
            case "gtiff"  => ((h - 1 - r.getInt(1)).toLong, r.getInt(2).toLong)
            case "netcdf" => (r.getDouble(1).toLong, r.getDouble(2).toLong)
            case _        => (r.getInt(1).toLong, r.getInt(2).toLong)
          }
          val g = bits(r.getDouble(3))
          val e = present.get((s, y, x)).map(bits)
            .getOrElse(bits(Double.NaN))
          assert(g == e,
            s"[$iter/$tag] $s (y=$y,x=$x): got " +
              s"${java.lang.Double.longBitsToDouble(g)} expected " +
              s"${java.lang.Double.longBitsToDouble(e)} (h=$h w=$w)")
        }
      }

      def tmp(tag: String): String = Fixtures.dir(s"rprop_${tag}_$iter")

      val tif = tmp("tif")
      Rasters.saveGeoTiff(cube, tif)
      check("gtiff", Rasters.loadGeoTiff(spark, tif))

      val nc = tmp("nc")
      Rasters.saveNetcdf(cube, nc)
      check("netcdf", Rasters.loadNetcdf(spark, nc))

      val zr = tmp("zarr")
      Rasters.saveZarr(cube, zr,
        chunkY = 1 + rnd.nextInt(4), chunkX = 1 + rnd.nextInt(4))
      check("zarr", Rasters.loadZarr(spark, zr))
    }
  }
}
