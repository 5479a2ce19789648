package graft.sources

import org.apache.spark.sql.DataFrame

import graft.core.Tables

/** save_result analog (SURVEY.md §2C15; reference:
  * minibackend/custom_processes.py:246 writes netcdf/gtiff/zarr).
  *
  * The reference's geo formats need native codecs; the Spark-native sinks
  * are the columnar lake formats a cluster actually serves from. Writes are
  * partition-parallel; `partitionBy` columns become directory partitions so
  * downstream reads get partition pruning for free.
  */
object Sinks {

  val supported: Set[String] = Set("parquet", "csv", "json")

  def saveResult(df: DataFrame, path: String, format: String = "parquet",
                 partitionBy: Seq[String] = Nil): Unit = {
    require(supported.contains(format),
      s"save_result: format '$format' not supported (one of $supported)")
    val writer = df.write.mode("overwrite")
    val partitioned =
      if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer
    format match {
      case "parquet" => partitioned.parquet(path)
      case "json"    => partitioned.json(path)
      // header on so the file round-trips with schema names
      case "csv"     => partitioned.option("header", "true").csv(path)
    }
  }

  /** Bucketed table write — the co-located-join layout from SURVEY §5:
    * both sides of a recurring fact⋈fact join are written bucketed (and
    * sorted) by the join key, so the join plan has NO Exchange on either
    * side — at 100 TB that is the difference between re-shuffling the lake
    * on every run and a purely local merge join per bucket. Bucketing
    * requires the catalog (`saveAsTable`); `database.table` names work.
    */
  def saveBucketed(df: DataFrame, table: String, buckets: Int,
                   keys: Seq[String]): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Gridded (wide) export — the interop analog of the reference's raster
    * formats (custom_processes.py:246 netcdf/gtiff): one row per
    * (other dims…, y), one column per x label, axes sorted, so the file IS
    * the raster layout a gridded consumer expects, in a lake-readable
    * format. The x-axis labels are collected (O(axis), like the resample
    * target grid — never O(cube)) to drive an explicit-values pivot: one
    * shuffle, no second pass to discover columns.
    */
  def saveGridded(cube: graft.cube.DataCube, path: String,
                  format: String = "csv"): Unit = {
    import org.apache.spark.sql.functions._
    val xd = cube.requireDim(cube.xDim, "x")
    val yd = cube.requireDim(cube.yDim, "y")
    val others = cube.dims.filterNot(d => d == xd || d == yd)
    val xs = cube.df.select(col(xd)).distinct().orderBy(col(xd))
      .collect().map(_.get(0)).toSeq // SCALE:sinks-grid-cells
    val wide = cube.df.groupBy((others :+ yd).map(col): _*)
      .pivot(xd, xs)
      .agg(first(col(cube.valueCol)))
      .orderBy((others :+ yd).map(col): _*)
    saveResult(wide, path, format)
  }

  /** Z-order (Morton) layout write — the multi-dimensional clustering of
    * Delta/Iceberg `OPTIMIZE ZORDER BY`, expressed as plain Spark: rows
    * are range-partitioned AND sorted by the bit-interleaved image of the
    * two clustering columns, so every parquet file covers a compact
    * square-ish tile of (a, b) space and its footer min/max statistics
    * are tight on BOTH columns. A linear sort makes one column's stats
    * tight and leaves the other spanning the full domain in every file —
    * a 2-D range predicate then prunes nothing on the second column. At
    * 100 TB this layout is what turns bbox-style scans (spatial extents,
    * time × key, embedding cell × shard) from full-lake reads into a
    * handful of row groups; SinksSpec measures the footer-pruning win on
    * real files.
    *
    * Columns must be non-negative ints ≤ 2²¹ (bbox grids, cell ids,
    * bucketed timestamps); the interleave is 16 shift-or column ops per
    * bit level — whole-stage codegen, no UDF.
    */
  def saveZOrdered(df: DataFrame, path: String, a: String, b: String,
                   files: Int, bits: Int = 21): Unit = {
    import org.apache.spark.sql.functions._
    val z = morton(col(a), col(b), bits)
    df.withColumn("_z", z)
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }

  /** Bit-interleaved Morton key: a₀b₀a₁b₁… from the low `bits` bits of
    * each column (a in the even positions). Pure column math. */
  def morton(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
             bits: Int = 21): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val al = a.cast("long"); val bl = b.cast("long")
    (0 until bits).map { i =>
      val abit = shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i + 1)
      val bbit = shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i)
      abit.bitwiseOR(bbit)
    }.reduce(_ bitwiseOR _)
  }

  /** Melt a saveGridded file back into a long-format cube frame:
    * (other dims…, y, x, value) — x labels come from the column names. */
  def loadGridded(spark: org.apache.spark.sql.SparkSession, path: String,
                  idCols: Seq[String], format: String = "csv"): DataFrame = {
    import org.apache.spark.sql.functions._
    val wide = loadResult(spark, path, format)
    val xCols = wide.columns.filterNot(idCols.contains)
    wide.unpivot(idCols.map(col).toArray,
      xCols.map(col).toArray, "x", "value")
  }

  /** load_collection analog for results written by saveResult. */
  def loadResult(spark: org.apache.spark.sql.SparkSession, path: String,
                 format: String = "parquet"): DataFrame = format match {
    case "parquet" => Tables.parquet(spark, path)
    case "json"    => spark.read.json(path)
    case "csv"     => spark.read.option("header", "true")
      .option("inferSchema", "true").csv(path)
    case other => throw new IllegalArgumentException(s"load_result: $other")
  }
}
