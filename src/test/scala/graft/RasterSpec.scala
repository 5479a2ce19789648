package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.core.Fixtures
import graft.cube.{Crs, DataCube}
import graft.sources.Rasters

/** C15d binary raster sinks: byte-level format checks (magics, GeoTIFF
  * keys, NetCDF header, Zarr chunk grid) plus exact value round-trips
  * through the independent distributed loaders. */
class RasterSpec extends SparkSpec {
  import spark.implicits._

  // 6×4 grid, two bands, one missing cell per band, one negative value.
  private def fixture: DataCube = {
    val rows = for {
      b <- Seq("red", "nir"); y <- 0 until 4; x <- 0 until 6
      if !(x == 2 && y == 1) // hole → NaN in the raster
    } yield (x.toLong, y.toLong, b,
      (if (b == "red") 1.0 else -2.0) * (y * 6 + x) + 0.25)
    DataCube(rows.toDF("x", "y", "band", "value"))
      .withCrs(Crs(32633, a = 10.0, c = 500000.0, e = -10.0, f = 4500000.0))
  }

  private def tmp(tag: String): String =
    Fixtures.dir(s"raster_$tag")

  test("geotiff: one file per band, TIFF magic + EPSG geokey, exact pixels") {
    val dir = tmp("tif")
    val cube = fixture
    Rasters.saveGeoTiff(cube, dir)
    val files = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted // Hadoop local-FS .crc sidecars
    assert(files.toSeq == Seq("band-nir.tif", "band-red.tif"))
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "band-red.tif"))
    assert(bytes(0) == 'I' && bytes(1) == 'I' && bytes(2) == 42,
      "little-endian TIFF magic")
    // EPSG code must appear in the GeoKey directory (short 32633)
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val shorts = (0 until bytes.length / 2).map(i => bb.getShort(i * 2) & 0xffff)
    assert(shorts.containsSlice(Seq(3072, 0, 1, 32633)),
      "ProjectedCSType geokey with the cube's EPSG")

    val back = Rasters.loadGeoTiff(spark, dir)
    assert(back.count() == 2 * 4 * 6) // holes present as NaN pixels
    // e < 0 → north-up: pixel row 0 is the MAX y label (y=3)
    val redTop = back.filter(col("slice") === "band-red" &&
      col("row") === 0 && col("colx") === 0).head().getAs[Double]("value")
    assert(redTop == (3 * 6 + 0) + 0.25)
    // hole is NaN at pixel (row = 3-1 = 2, colx = 2)
    val hole = back.filter(col("slice") === "band-red" &&
      col("row") === 2 && col("colx") === 2).head().getAs[Double]("value")
    assert(java.lang.Double.isNaN(hole))
    // every present cell round-trips bit-exactly
    val exact = back.filter(!isnan(col("value")))
      .select(regexp_replace(col("slice"), "band-", "").as("band"),
        (lit(3) - col("row")).cast("long").as("y"),
        col("colx").cast("long").as("x"), col("value"))
      .join(cube.df.withColumnRenamed("value", "v0"), Seq("band", "y", "x"))
    assert(exact.count() == cube.df.count())
    assert(exact.filter(col("value") =!= col("v0")).count() == 0)
  }

  test("geotiff: single-row raster stores strip offset inline (TIFF 6.0)") {
    // TIFF 6.0: a count-1 LONG tag's value field holds the VALUE, not a
    // pointer — so an h==1 file must carry StripOffsets/StripByteCounts
    // inline, or external readers dereference pixel data at the wrong
    // offset and round-trips read the offsets array as doubles.
    val bytes = Rasters.tiffBytes(w = 5, h = 1,
      rowMajor = Array(1.5, -2.25, 3.0, 0.0, 42.125),
      originX = 0.0, originY = 0.0, scaleX = 1.0, scaleY = 1.0,
      epsg = 32633)
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ifd = bb.getInt(4)
    val n = bb.getShort(ifd)
    val inline = (0 until n).map(k => ifd + 2 + k * 12).flatMap { e =>
      val id = bb.getShort(e) & 0xffff
      if (id == 273 || id == 279) Some(id -> bb.getInt(e + 8)) else None
    }.toMap
    assert(inline(273) == 8, "strip offset must be the inline data start")
    assert(inline(279) == 5 * 8, "byte count must be inline row bytes")
    val (w, h, pix) = Rasters.parseTiff(bytes)
    assert(w == 5 && h == 1)
    assert(pix.toSeq == Seq(1.5, -2.25, 3.0, 0.0, 42.125))
  }

  test("netcdf: classic magic, label coordinates, exact values") {
    val dir = tmp("nc")
    val cube = fixture
    Rasters.saveNetcdf(cube, dir)
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "band-nir.nc"))
    assert(bytes(0) == 'C' && bytes(1) == 'D' && bytes(2) == 'F' &&
      bytes(3) == 1, "NetCDF-3 classic magic")
    val back = Rasters.loadNetcdf(spark, dir)
    assert(back.count() == 2 * 4 * 6)
    val exact = back.filter(!isnan(col("value")))
      .select(regexp_replace(col("slice"), "band-", "").as("band"),
        col("y").cast("long").as("y"), col("x").cast("long").as("x"),
        col("value"))
      .join(cube.df.withColumnRenamed("value", "v0"), Seq("band", "y", "x"))
    assert(exact.count() == cube.df.count())
    assert(exact.filter(col("value") =!= col("v0")).count() == 0)
  }

  test("zarr: chunk grid files + metadata, edge padding, exact values") {
    val dir = tmp("zarr")
    val cube = fixture
    Rasters.saveZarr(cube, dir, chunkY = 3, chunkX = 4)
    // 4 rows / chunk 3 → 2 row-chunks; 6 cols / chunk 4 → 2 col-chunks
    val red = new java.io.File(s"$dir/band-red")
    val names = red.listFiles().map(_.getName)
      .filterNot(_.endsWith(".crc")).sorted // Hadoop local-FS sidecars
    assert(names.toSeq == Seq(".zarray", "0.0", "0.1", "1.0", "1.1"))
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/band-red/.zarray")), "UTF-8")
    assert(meta.contains("\"zarr_format\":2") &&
      meta.contains("\"shape\":[4,6]") && meta.contains("\"chunks\":[3,4]") &&
      meta.contains("\"dtype\":\"<f8\"") && meta.contains("\"order\":\"C\""))
    // consolidated metadata inlines every slice's .zarray under one key
    val zmeta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/.zmetadata")), "UTF-8")
    assert(zmeta.contains("\"zarr_consolidated_format\":1") &&
      zmeta.contains("\"band-red/.zarray\":{") &&
      zmeta.contains("\"band-nir/.zarray\":{"))
    // every chunk file is the full padded chunk size
    assert(red.listFiles()
      .filter(f => !f.getName.endsWith(".crc") && f.getName != ".zarray")
      .forall(_.length == 3 * 4 * 8))
    val back = Rasters.loadZarr(spark, dir)
    val exact = back
      .select(regexp_replace(col("slice"), "band-", "").as("band"),
        col("row").cast("long").as("y"), col("colx").cast("long").as("x"),
        col("value"))
      .join(cube.df.withColumnRenamed("value", "v0"), Seq("band", "y", "x"))
    assert(exact.count() == cube.df.count())
    assert(exact.filter(col("value") =!= col("v0")).count() == 0)
    // the hole never materializes a row (NaN-fill dropped on read)
    assert(back.count() == cube.df.count())
  }

  test("a null x label fails naming the dimension, before any file") {
    val dir = tmp("null_x")
    val rows = Seq[(java.lang.Long, Long, String, Double)](
      (0L, 0L, "red", 1.0), (1L, 0L, "red", 2.0), (null, 1L, "red", 3.0))
    val cube = DataCube(rows.toDF("x", "y", "band", "value"))
    val e = intercept[IllegalArgumentException](Rasters.saveGeoTiff(cube, dir))
    assert(e.getMessage.contains("dimension x"), e.getMessage)
    val written = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try assert(!written.iterator().asScala.exists(_.toString.endsWith(".tif")),
      "a refused write must leave no .tif behind")
    finally written.close()
  }

  test("no slice dims: a bare (x, y) cube exports as a single raster") {
    val dir = tmp("flat")
    val rows = for (y <- 0 until 3; x <- 0 until 3)
      yield (x.toLong, y.toLong, (y * 3 + x).toDouble)
    val cube = DataCube(rows.toDF("x", "y", "value"))
      .withCrs(Crs(32633, a = 1.0, e = 1.0)) // e > 0: no flip
    Rasters.saveGeoTiff(cube, dir)
    val back = Rasters.loadGeoTiff(spark, dir)
    assert(back.select("slice").distinct().head().getString(0) == "slice")
    val v = back.filter(col("row") === 2 && col("colx") === 1)
      .head().getAs[Double]("value")
    assert(v == 7.0) // row index = y label when e > 0
  }
}
