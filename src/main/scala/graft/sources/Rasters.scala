package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.cube.{Crs, DataCube}

/** Binary raster containers for `save_result` (SURVEY §2C15d; reference:
  * minibackend/custom_processes.py:115 netcdf, :121 GTiff, :187 zarr) —
  * the openEO raster interop the lake formats don't cover, written from
  * scratch against the public format specs (TIFF 6.0 + GeoTIFF 1.1 keys,
  * NetCDF-3 classic, Zarr v2) so no native codec is needed.
  *
  * Scale design: a raster FILE is inherently a dense, contiguous grid, so
  * the per-file gather is the format's intrinsic cost, not an accident of
  * the plan. The writers keep everything else distributed:
  *
  *   - One file per SLICE (the non-spatial dims: band, time, …). Slices
  *     are written in parallel on executors — rows are hash-repartitioned
  *     and sorted by (slice, y, x), and each task streams out every slice
  *     it owns. A scene/tile-sized slice (the unit the reference's xarray
  *     export emits per item) fits executor memory by construction;
  *     100 TB cubes export as many slices, not one monolith.
  *   - Zarr is the scale path: the value array is CHUNKED and every chunk
  *     is an independent file, so the write parallelizes WITHIN a slice as
  *     well and a consumer prunes chunks exactly like parquet row groups.
  *   - Both axes are read in ONE aggregate over the cube: each axis's
  *     sorted distinct labels, O(axis) driver rows (the resample
  *     target-grid contract, never O(cube)), and whether any label is
  *     null, which fails the write before any file is written. The Zarr
  *     writer takes its O(slices) slice keys from that same aggregate.
  *
  * All three loaders read back through `binaryFile` sources — one task per
  * file/chunk, distributed parse, no driver funnel — and RasterSpec pins
  * byte-exact value round-trips plus the format magics.
  */
object Rasters {

  private val NaNBits = java.lang.Double.doubleToLongBits(Double.NaN)

  // ---- shared slicing -----------------------------------------------------

  /** (sliceDims, xs, ys, slice-key → dense row-major Array[Double]) plumbing
    * shared by the per-slice writers. Missing cells are NaN (nodata).
    * `slices` holds the sorted distinct slice keys when [[plan]] was asked
    * for them, else nothing. */
  private case class GridPlan(xd: String, yd: String, sliceDims: Seq[String],
                              xs: Array[Long], ys: Array[Long],
                              slices: Seq[Seq[Any]] = Nil)

  /** The x and y axes from ONE aggregate over the cube: per axis the
    * sorted distinct labels and whether any label is null. A cell with a
    * null label has no pixel, so a null fails with an
    * IllegalArgumentException naming the dimension, before any file is
    * written. With `withSlices` the same aggregate also collects the
    * sorted distinct slice keys. Every aggregate here ignores duplicates
    * (`collect_set`, `max`), which lets Spark's RemoveRedundantAggregates
    * drop a cube's own group-by from this pass (a null COUNT would keep
    * it). */
  private def plan(cube: DataCube, withSlices: Boolean = false): GridPlan = {
    val xd = cube.requireDim(cube.xDim, "x")
    val yd = cube.requireDim(cube.yDim, "y")
    val others = cube.dims.filterNot(d => d == xd || d == yd)
    val keys =
      if (withSlices && others.nonEmpty)
        Seq(array_sort(collect_set(struct(others.map(col): _*))))
      else Nil
    val r = cube.df.select((Seq(xd, yd).flatMap { d =>
      val label = col(d).cast("long")
      Seq(array_sort(collect_set(label)), max(label.isNull))
    } ++ keys): _*).collect()(0) // SCALE:raster-grid-labels
    def axis(i: Int, d: String): Array[Long] = {
      require(r.isNullAt(2 * i + 1) || !r.getBoolean(2 * i + 1),
        s"raster writers need a label on every cell: dimension $d has " +
          "null labels")
      r.getSeq[Long](2 * i).toArray
    }
    val slices =
      if (!withSlices) Nil
      else if (others.isEmpty) Seq(Seq.empty[Any])
      else r.getSeq[Row](4).map(_.toSeq)
    GridPlan(xd, yd, others, axis(0, xd), axis(1, yd), slices)
  }

  private def sliceName(dims: Seq[String], key: Seq[Any]): String =
    if (dims.isEmpty) "slice"
    else dims.zip(key).map { case (d, v) => s"$d-$v" }.mkString("_")

  /** Repartition+sort by slice key and hand each task an iterator of
    * (sliceName, dense row-major grid) — one gather per slice, slices
    * parallel across tasks. Rows for one slice are contiguous after the
    * sort, so a task holds ONE slice's grid at a time. */
  private def forEachSlice(cube: DataCube, gp: GridPlan)
                          (write: (String, Array[Double]) => Unit): Unit = {
    val w = gp.xs.length; val h = gp.ys.length
    val xIdx = gp.xs.zipWithIndex.toMap
    val yIdx = gp.ys.zipWithIndex.toMap
    val sliceCols = gp.sliceDims.map(col)
    val ordered =
      (if (gp.sliceDims.isEmpty) cube.df.coalesce(1)
       else cube.df.repartition(sliceCols: _*))
        .sortWithinPartitions((sliceCols :+ col(gp.yd) :+ col(gp.xd)): _*)
        .select((sliceCols :+ col(gp.yd).cast("long") :+
          col(gp.xd).cast("long") :+
          col(cube.valueCol).cast("double")): _*)
    val nSlice = gp.sliceDims.length
    val dims = gp.sliceDims
    ordered.foreachPartition { (rows: Iterator[Row]) =>
      var key: Seq[Any] = null
      var grid: Array[Double] = null
      def flush(): Unit = if (grid != null) write(sliceName(dims, key), grid)
      rows.foreach { r =>
        val k = (0 until nSlice).map(r.get)
        if (key == null || k != key) {
          flush()
          key = k
          grid = Array.fill(w * h)(Double.NaN)
        }
        val yi = yIdx(r.getLong(nSlice))
        val xi = xIdx(r.getLong(nSlice + 1))
        if (!r.isNullAt(nSlice + 2)) grid(yi * w + xi) = r.getDouble(nSlice + 2)
      }
      flush()
    }
  }

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def freshDir(spark: SparkSession, path: String): Unit = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (f.exists(p)) f.delete(p, true)
    f.mkdirs(p)
  }

  private def writeFile(spark: SparkSession, path: String,
                        bytes: Array[Byte]): Unit = {
    val out = fs(spark, path).create(new Path(path), true)
    try out.write(bytes) finally out.close()
  }

  // ---- GeoTIFF ------------------------------------------------------------

  /** One single-band float64 GeoTIFF per slice under `path/` (TIFF 6.0
    * little-endian, one strip per row, uncompressed; GeoTIFF 1.1
    * ModelPixelScale/ModelTiepoint + the minimal projected-CRS key set).
    * The cube's affine CRS (x_world = a·x + c, y_world = e·y + f) maps the
    * SORTED axis labels to world coordinates; rows are written north-up
    * (the first raster row is the maximum-y label when e < 0). */
  def saveGeoTiff(cube: DataCube, path: String): Unit = {
    val gp = plan(cube)
    val spark = cube.df.sparkSession
    freshDir(spark, path)
    val crs = cube.crs.getOrElse(Crs(0))
    val w = gp.xs.length; val h = gp.ys.length
    val northUp = crs.e < 0
    val dx = if (w > 1) (gp.xs(1) - gp.xs(0)).toDouble else 1.0
    val dy = if (h > 1) (gp.ys(1) - gp.ys(0)).toDouble else 1.0
    // pixel (0,0) = (first x label, top y label) in label space
    val topY = if (northUp) gp.ys.last.toDouble else gp.ys.head.toDouble
    val originX = crs.a * gp.xs.head + crs.c
    val originY = crs.e * topY + crs.f
    val scaleX = math.abs(crs.a) * dx
    val scaleY = math.abs(crs.e) * dy
    val epsg = crs.epsg
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val dir = path
    forEachSlice(cube, gp) { (name, grid) =>
      val rowMajor =
        if (northUp) { // flip: row 0 = max y label
          val out = new Array[Double](grid.length)
          var j = 0
          while (j < h) {
            System.arraycopy(grid, (h - 1 - j) * w, out, j * w, w); j += 1
          }
          out
        } else grid
      val bytes = tiffBytes(w, h, rowMajor, originX, originY,
        scaleX, scaleY, epsg)
      val p = new Path(s"$dir/$name.tif")
      val f = p.getFileSystem(conf.value)
      val os = f.create(p, true)
      try os.write(bytes) finally os.close()
    }
  }

  /** TIFF assembly: header, pixel strips, then one IFD. Offsets are all
    * computed up front (uncompressed, one strip per row), so the file
    * streams out in a single pass. */
  private[graft] def tiffBytes(w: Int, h: Int, rowMajor: Array[Double],
                                 originX: Double, originY: Double,
                                 scaleX: Double, scaleY: Double,
                                 epsg: Int): Array[Byte] = {
    val rowBytes = w * 8
    val dataStart = 8
    val ifdStart = dataStart + h * rowBytes
    // IFD: count + 14 tags + next-pointer, then out-of-line arrays
    val nTags = 14
    val ifdBytes = 2 + nTags * 12 + 4
    val extraStart = ifdStart + ifdBytes
    // out-of-line payloads: strip offsets (h ints), strip counts (h ints),
    // pixel scale (3 doubles), tiepoint (6 doubles), geokeys (4*4 shorts).
    // TIFF 6.0: a count-1 LONG tag stores its VALUE inline in the value
    // field, so when h == 1 the strip offset/byte-count go inline and the
    // out-of-line arrays are omitted entirely.
    val stripArr = if (h == 1) 0 else h * 4
    val offStripOff = extraStart
    val offStripCnt = offStripOff + stripArr
    val offScale = offStripCnt + stripArr
    val offTie = offScale + 3 * 8
    val offKeys = offTie + 6 * 8
    val total = offKeys + 4 * 4 * 2
    val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdStart)
    var i = 0
    while (i < rowMajor.length) { bb.putDouble(rowMajor(i)); i += 1 }
    def tag(id: Int, typ: Int, count: Int, value: Int): Unit = {
      bb.putShort(id.toShort).putShort(typ.toShort).putInt(count)
      if (typ == 3 && count == 1) bb.putShort(value.toShort).putShort(0)
      else bb.putInt(value)
    }
    bb.putShort(nTags.toShort)
    tag(256, 3, 1, w)                 // ImageWidth
    tag(257, 3, 1, h)                 // ImageLength
    tag(258, 3, 1, 64)                // BitsPerSample
    tag(259, 3, 1, 1)                 // Compression = none
    tag(262, 3, 1, 1)                 // Photometric = BlackIsZero
    tag(273, 4, h,                    // StripOffsets (inline iff h == 1)
      if (h == 1) dataStart else offStripOff)
    tag(277, 3, 1, 1)                 // SamplesPerPixel
    tag(278, 3, 1, 1)                 // RowsPerStrip
    tag(279, 4, h,                    // StripByteCounts (inline iff h == 1)
      if (h == 1) rowBytes else offStripCnt)
    tag(284, 3, 1, 1)                 // PlanarConfiguration = chunky
    tag(339, 3, 1, 3)                 // SampleFormat = IEEE float
    tag(33550, 12, 3, offScale)       // ModelPixelScaleTag
    tag(33922, 12, 6, offTie)         // ModelTiepointTag
    tag(34735, 3, 16, offKeys)        // GeoKeyDirectoryTag
    bb.putInt(0)                      // next IFD
    if (h > 1) {
      i = 0; while (i < h) { bb.putInt(dataStart + i * rowBytes); i += 1 }
      i = 0; while (i < h) { bb.putInt(rowBytes); i += 1 }
    }
    bb.putDouble(scaleX).putDouble(scaleY).putDouble(0.0)
    Seq(0.0, 0.0, 0.0, originX, originY, 0.0).foreach(bb.putDouble)
    // GeoKey directory: version 1.1.0, 3 keys
    Seq(1, 1, 0, 3,
      1024, 0, 1, 1,                  // GTModelType = projected
      1025, 0, 1, 1,                  // GTRasterType = PixelIsArea
      3072, 0, 1, epsg                // ProjectedCSType
    ).foreach(v => bb.putShort(v.toShort))
    bb.array()
  }

  /** Distributed GeoTIFF read: one task per file via `binaryFile`, parsed
    * by walking the IFD like any TIFF reader (independent of the writer's
    * offset math). Returns long-format (slice, row, colx, value) with
    * row/colx as PIXEL indices, row 0 = top. */
  def loadGeoTiff(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(s"$path/*.tif")
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (file, bytes) =>
        val (w, h, pix) = parseTiff(bytes)
        val slice = file.split('/').last.stripSuffix(".tif")
        for (j <- 0 until h; i <- 0 until w)
          yield (slice, j, i, pix(j * w + i))
      }
      .toDF("slice", "row", "colx", "value")
  }

  /** Minimal TIFF parse for the layout [[tiffBytes]] writes (little-endian,
    * float64, strip-per-row). Independent of the writer's offset math: it
    * walks the IFD like any TIFF reader. */
  private[graft] def parseTiff(bytes: Array[Byte]): (Int, Int, Array[Double]) = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(bb.getShort(0) == 0x4949.toShort && bb.getShort(2) == 42,
      "not a little-endian TIFF")
    val ifd = bb.getInt(4)
    val n = bb.getShort(ifd)
    var w = 0; var h = 0; var stripOff = 0
    var k = 0
    while (k < n) {
      val e = ifd + 2 + k * 12
      val id = bb.getShort(e) & 0xffff
      val typ = bb.getShort(e + 2)
      val v =
        if (typ == 3) bb.getShort(e + 8) & 0xffff else bb.getInt(e + 8)
      id match {
        case 256 => w = v
        case 257 => h = v
        case 273 => stripOff = v // count>1 → offset of the offsets array
        case _ =>
      }
      k += 1
    }
    val firstStrip = if (h == 1) stripOff else bb.getInt(stripOff)
    val pix = new Array[Double](w * h)
    var j = 0
    while (j < h) {
      val off =
        if (h == 1) firstStrip else bb.getInt(stripOff + j * 4)
      var i = 0
      while (i < w) { pix(j * w + i) = bb.getDouble(off + i * 8); i += 1 }
      j += 1
    }
    (w, h, pix)
  }

  // ---- NetCDF-3 classic ---------------------------------------------------

  /** One NetCDF-3 classic file per slice under `path/`: dims (y, x),
    * coordinate variables y(y)/x(x) carrying the label values, and
    * value(y, x) float64 — the CF-style layout the reference's
    * `to_netcdf` export produces per item. Big-endian per the spec. */
  def saveNetcdf(cube: DataCube, path: String): Unit = {
    val gp = plan(cube)
    val spark = cube.df.sparkSession
    freshDir(spark, path)
    val xs = gp.xs.map(_.toDouble); val ys = gp.ys.map(_.toDouble)
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val dir = path
    forEachSlice(cube, gp) { (name, grid) =>
      val bytes = netcdfBytes(xs, ys, grid)
      val p = new Path(s"$dir/$name.nc")
      val f = p.getFileSystem(conf.value)
      val os = f.create(p, true)
      try os.write(bytes) finally os.close()
    }
  }

  private def ncName(bb: ByteBuffer, s: String): Unit = {
    bb.putInt(s.length)
    bb.put(s.getBytes("ASCII"))
    var pad = (4 - s.length % 4) % 4
    while (pad > 0) { bb.put(0.toByte); pad -= 1 }
  }

  private def ncNameLen(s: String): Int = 4 + s.length + (4 - s.length % 4) % 4

  /** NetCDF-3 classic assembly: magic CDF\\x01, numrecs 0, dim list
    * (y, x), no global attrs, three non-record vars (y, x, value) with
    * begins computed from the exact header length. */
  private[sources] def netcdfBytes(xs: Array[Double], ys: Array[Double],
                                   rowMajor: Array[Double]): Array[Byte] = {
    val w = xs.length; val h = ys.length
    def varMeta(name: String, ndims: Int): Int =
      ncNameLen(name) + 4 + ndims * 4 + 8 /*vatt ABSENT*/ + 4 + 4 + 4
    val headerLen = 4 + 4 +                            // magic + numrecs
      8 + ncNameLen("y") + 4 + ncNameLen("x") + 4 +    // dim list
      8 +                                              // gatt ABSENT
      8 + varMeta("y", 1) + varMeta("x", 1) + varMeta("value", 2)
    val beginY = headerLen
    val beginX = beginY + h * 8
    val beginV = beginX + w * 8
    val total = beginV + w * h * 8
    val bb = ByteBuffer.allocate(total).order(ByteOrder.BIG_ENDIAN)
    bb.put("CDF".getBytes("ASCII")).put(1.toByte)
    bb.putInt(0)                                       // numrecs
    bb.putInt(0x0A).putInt(2)                          // NC_DIMENSION, 2
    ncName(bb, "y"); bb.putInt(h)
    ncName(bb, "x"); bb.putInt(w)
    bb.putInt(0).putInt(0)                             // gatt ABSENT
    bb.putInt(0x0B).putInt(3)                          // NC_VARIABLE, 3
    def putVar(name: String, dimIds: Seq[Int], size: Int, begin: Int): Unit = {
      ncName(bb, name)
      bb.putInt(dimIds.length)
      dimIds.foreach(bb.putInt)
      bb.putInt(0).putInt(0)                           // vatt ABSENT
      bb.putInt(6)                                     // NC_DOUBLE
      bb.putInt(size)
      bb.putInt(begin)
    }
    putVar("y", Seq(0), h * 8, beginY)
    putVar("x", Seq(1), w * 8, beginX)
    putVar("value", Seq(0, 1), w * h * 8, beginV)
    require(bb.position() == headerLen,
      s"netcdf header math: ${bb.position()} != $headerLen")
    ys.foreach(bb.putDouble)
    xs.foreach(bb.putDouble)
    rowMajor.foreach(bb.putDouble)
    bb.array()
  }

  /** Distributed NetCDF read (one task per file): parses the classic
    * header var list and emits (slice, y-label, x-label, value). */
  def loadNetcdf(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(s"$path/*.nc")
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (file, bytes) =>
        val (ys, xs, v) = parseNetcdf(bytes)
        val slice = file.split('/').last.stripSuffix(".nc")
        val w = xs.length
        for (j <- ys.indices; i <- xs.indices)
          yield (slice, ys(j), xs(i), v(j * w + i))
      }
      .toDF("slice", "y", "x", "value")
  }

  private[sources] def parseNetcdf(bytes: Array[Byte])
      : (Array[Double], Array[Double], Array[Double]) = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    require(bb.get(0) == 'C' && bb.get(1) == 'D' && bb.get(2) == 'F' &&
      bb.get(3) == 1, "not a NetCDF-3 classic file")
    bb.position(8)
    def name(): String = {
      val n = bb.getInt()
      val b = new Array[Byte](n); bb.get(b)
      bb.position(bb.position() + (4 - n % 4) % 4)
      new String(b, "ASCII")
    }
    require(bb.getInt() == 0x0A, "expected dim list")
    val nd = bb.getInt()
    val dimSizes = (0 until nd).map { _ => name(); bb.getInt() }
    bb.getInt(); bb.getInt() // gatt ABSENT
    require(bb.getInt() == 0x0B, "expected var list")
    val nv = bb.getInt()
    var vars = Map.empty[String, (Seq[Int], Int)]
    (0 until nv).foreach { _ =>
      val vn = name()
      val k = bb.getInt()
      val ids = (0 until k).map(_ => bb.getInt())
      bb.getInt(); bb.getInt() // vatt ABSENT
      require(bb.getInt() == 6, s"$vn: expected NC_DOUBLE")
      bb.getInt() // vsize
      vars += vn -> (ids, bb.getInt())
    }
    def readVar(n: String): Array[Double] = {
      val (ids, begin) = vars(n)
      val len = ids.map(dimSizes).product
      Array.tabulate(len)(i => bb.getDouble(begin + i * 8))
    }
    (readVar("y"), readVar("x"), readVar("value"))
  }

  // ---- Zarr v2 ------------------------------------------------------------

  /** One Zarr v2 array per slice under `path/<slice>/`: `.zarray` JSON
    * metadata plus raw little-endian float64 chunk files `j.i` — the
    * chunked layout xarray's `to_zarr` writes (compressor null). This is
    * the SCALE path of the three: chunks are independent files written by
    * independent tasks (parallel within a slice, not just across slices),
    * and a windowed reader fetches only intersecting chunks — the raster
    * analog of parquet row-group pruning. Edge chunks are zero-padded to
    * the full chunk shape per the spec; missing cells carry NaN
    * (fill_value "NaN" in the metadata). */
  def saveZarr(cube: DataCube, path: String, chunkY: Int = 256,
               chunkX: Int = 256): Unit = {
    val gp = plan(cube, withSlices = true)
    val spark = cube.df.sparkSession
    freshDir(spark, path)
    val w = gp.xs.length; val h = gp.ys.length
    val xIdx = gp.xs.zipWithIndex.toMap
    val yIdx = gp.ys.zipWithIndex.toMap
    val cw = math.min(chunkX, w); val ch = math.min(chunkY, h)
    val nCx = (w + cw - 1) / cw
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val dir = path
    val sliceCols = gp.sliceDims.map(col)
    val nSlice = gp.sliceDims.length
    val dims = gp.sliceDims
    // driver: one .zarray per slice (metadata is O(slices), tiny)
    val meta =
      s"""{"zarr_format":2,"shape":[$h,$w],"chunks":[$ch,$cw],
         |"dtype":"<f8","compressor":null,"fill_value":"NaN",
         |"order":"C","filters":null}""".stripMargin.replace("\n", "")
    gp.slices.foreach { k =>
      writeFile(spark, s"$path/${sliceName(gp.sliceDims, k)}/.zarray",
        meta.getBytes("UTF-8"))
    }
    // consolidated metadata (zarr v2 convention): every .zarray inlined
    // under one key map, so a consumer opens the store with ONE read
    // instead of listing slice directories — O(slices) driver-side JSON
    val entries = gp.slices.map { k =>
      s""""${sliceName(gp.sliceDims, k)}/.zarray":$meta"""
    }.mkString(",")
    writeFile(spark, s"$path/.zmetadata",
      s"""{"zarr_consolidated_format":1,"metadata":{$entries}}"""
        .getBytes("UTF-8"))
    // executors: rows shuffle on (slice, chunk) — each task writes the
    // chunk files it owns; within-slice parallelism is nCy×nCx-way.
    // Chunk ids come from the label→index maps (closure-shipped, O(axis)).
    import spark.implicits._
    val keyed = cube.df.select((sliceCols :+ col(gp.yd).cast("long") :+
        col(gp.xd).cast("long") :+ col(cube.valueCol).cast("double")): _*)
    val chunkRows = keyed.map { r =>
      val slice = sliceName(dims, (0 until nSlice).map(r.get))
      val yi = yIdx(r.getLong(nSlice)); val xi = xIdx(r.getLong(nSlice + 1))
      val v = if (r.isNullAt(nSlice + 2)) Double.NaN else r.getDouble(nSlice + 2)
      (slice, yi / ch, xi / cw, yi % ch, xi % cw, v)
    }.toDF("slice", "cj", "ci", "ly", "lx", "v")
    chunkRows
      .repartition(col("slice"), col("cj"), col("ci"))
      .sortWithinPartitions("slice", "cj", "ci", "ly", "lx")
      .foreachPartition { (rows: Iterator[Row]) =>
        var key: (String, Int, Int) = null
        var buf: Array[Double] = null
        def flush(): Unit = if (buf != null) {
          val (slice, cj, ci) = key
          val bb = ByteBuffer.allocate(buf.length * 8)
            .order(ByteOrder.LITTLE_ENDIAN)
          buf.foreach(bb.putDouble)
          val p = new Path(s"$dir/$slice/$cj.$ci")
          val f = p.getFileSystem(conf.value)
          val os = f.create(p, true)
          try os.write(bb.array()) finally os.close()
        }
        rows.foreach { r =>
          val k = (r.getString(0), r.getInt(1), r.getInt(2))
          if (key == null || k != key) {
            flush(); key = k; buf = Array.fill(ch * cw)(Double.NaN)
          }
          buf(r.getInt(3) * cw + r.getInt(4)) = r.getDouble(5)
        }
        flush()
      }
    val _ = nCx // within-slice chunk-grid width; documented parallelism
  }

  /** Distributed Zarr read: `.zarray` metadata per slice (driver, tiny),
    * then one task per CHUNK file. Absent chunks are all-fill per the
    * spec and simply contribute no rows here (NaN cells are dropped on
    * write as well, so round-trips are exact on present cells). */
  def loadZarr(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, path)
    val slices = f.listStatus(new Path(path)).filter(_.isDirectory)
      .map(_.getPath.getName)
    val metas = slices.map { s =>
      val in = f.open(new Path(s"$path/$s/.zarray"))
      val bytes = try {
        val b = new ByteArrayOutputStream()
        val tmp = new Array[Byte](4096)
        var n = in.read(tmp)
        while (n > 0) { b.write(tmp, 0, n); n = in.read(tmp) }
        b.toByteArray
      } finally in.close()
      val j = new String(bytes, "UTF-8")
      def arr2(key: String): (Int, Int) = {
        val m = s""""$key":\\[(\\d+),(\\d+)\\]""".r.findFirstMatchIn(j).get
        (m.group(1).toInt, m.group(2).toInt)
      }
      s -> (arr2("shape"), arr2("chunks"))
    }.toMap
    val metaB = spark.sparkContext.broadcast(metas)
    spark.read.format("binaryFile").load(s"$path/*/[0-9]*.[0-9]*")
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (file, bytes) =>
        val parts = file.split('/')
        val slice = parts(parts.length - 2)
        val Array(cj, ci) = parts.last.split('.').map(_.toInt)
        val ((hh, ww), (ch, cw)) = metaB.value(slice)
        val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
        for {
          ly <- 0 until ch
          lx <- 0 until cw
          y = cj * ch + ly if y < hh
          x = ci * cw + lx if x < ww
          v = bb.getDouble((ly * cw + lx) * 8)
          if !java.lang.Double.isNaN(v)
        } yield (slice, y, x, v)
      }
      .toDF("slice", "row", "colx", "value")
  }
}
