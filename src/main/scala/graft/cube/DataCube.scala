package graft.cube

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Raised when an operator needs a dimension the cube doesn't have
  * (reference: openeo DimensionMissing / DimensionMismatch exceptions).
  */
final class DimensionMissing(msg: String) extends IllegalArgumentException(msg)

/** Named reducers accepted by reduce/aggregate operators (the openEO
  * `reducer` callback, restricted to the built-in set so everything stays
  * inside whole-stage codegen).
  */
object Reducers {
  import graft.core.Exact
  def apply(name: String): Column => Column = name.toLowerCase match {
    // mean/sum are decimal-backed (graft.core.Exact) so results are
    // independent of partial-aggregation order — required for the oracle
    // gate and a sane property at 1000-executor scale too.
    case "mean" | "avg" => Exact.eavg
    case "sum"          => Exact.esum
    case "fmean"        => avg // fast double variants for perf-only paths
    case "fsum"         => sum
    case "min"          => min
    case "max"          => max
    case "count"        => c => count(c)
    // openEO any/all over truthy cells (nonzero = true), null-ignoring
    // (ignore_nodata=true): null cells stay null so max/min skip them, and
    // an all-null group yields null — not false.
    case "any" => c =>
      max(when(c.isNotNull, when(c =!= 0, 1.0).otherwise(0.0)))
    case "all" => c =>
      min(when(c.isNotNull, when(c =!= 0, 1.0).otherwise(0.0)))
    case "median"       => c => median(c)
    case "sd" | "stddev" => c => stddev_samp(c)
    case "variance"     => c => var_samp(c)
    // openEO product reducer. exp(sum(log)) alone breaks on zeros (-inf) and
    // negatives (NaN); reconstruct sign from negative-count parity and
    // short-circuit any zero — still a single distributive aggregation pass.
    case "product" => c =>
      when(sum(when(c === 0, 1).otherwise(0)) > 0, lit(0.0))
        .otherwise(
          pow(lit(-1.0), pmod(sum(when(c < 0, 1).otherwise(0)), lit(2)))
            * exp(sum(log(abs(nullif(c, lit(0)))))))
    // openEO quantiles with linear interpolation between order statistics —
    // Spark `percentile` is the exact (sort-based) variant and matches
    // DuckDB's quantile_cont formula.
    case q if q.startsWith("quantile:") =>
      val p = q.stripPrefix("quantile:").toDouble
      require(p >= 0 && p <= 1, s"quantile probability out of range: $p")
      c => percentile(c, lit(p))
    case other => throw new IllegalArgumentException(s"Unknown reducer: $other")
  }

  /** Windowed form: `.over` must attach to the aggregate, so the exact
    * decimal reducers need their cast applied outside the window expression.
    */
  def over(name: String, c: Column,
           w: org.apache.spark.sql.expressions.WindowSpec): Column =
    name.toLowerCase match {
      case "mean" | "avg" => Exact.esumOver(c, w) / count(c).over(w)
      case "sum"          => Exact.esumOver(c, w)
      case other          => apply(other)(c).over(w)
    }
}

/** An openEO raster/vector datacube re-expressed Spark-first.
  *
  * Long format: one row per cell; every column except `valueCol` is a
  * dimension. All operators below are declarative DataFrame transforms, so
  * Catalyst gets to push filters into the scan, prune columns, broadcast
  * small sides and re-plan under AQE — the 100 TB story is the plan shape,
  * not this wrapper.
  *
  * Reference semantics: openeo-processes-dask cube processes as used by
  * /root/reference (see SURVEY.md §2C), with the dimension-alias behavior of
  * `utils/dim_utils.py`.
  */
final case class DataCube(df: DataFrame, valueCol: String = "value",
                          crs: Option[Crs] = None) {

  def dims: Seq[String] = df.columns.toSeq.filterNot(_ == valueCol)

  /** Attach CRS metadata (EPSG code + affine grid transform). Operators
    * preserve it via `copy`; grid-changing operators that move to a new
    * transform set it explicitly (`resampleProjection`). */
  def withCrs(c: Crs): DataCube = copy(crs = Some(c))

  /** Reference semantics: binary cube operations must not silently mix
    * projections (the reference resolves both cubes' CRS up front,
    * utils/epsg_utils.py:10). A CRS-carrying cube combined with a
    * projectionless one is as much a mismatch as two different codes. */
  private def requireSameCrs(other: DataCube, op: String): Unit =
    (crs, other.crs) match {
      case (Some(l), Some(r)) =>
        require(l.epsg == r.epsg,
          s"$op: CRS mismatch — EPSG:${l.epsg} vs EPSG:${r.epsg}; " +
            "reproject one cube first")
      case (Some(l), None) =>
        throw new IllegalArgumentException(
          s"$op: left cube carries EPSG:${l.epsg} but the right cube has " +
            "no CRS")
      case (None, Some(r)) =>
        throw new IllegalArgumentException(
          s"$op: right cube carries EPSG:${r.epsg} but the left cube has " +
            "no CRS")
      case (None, None) => ()
    }

  def bandDim: Option[String] = DimAliases.resolve(dims, DimAliases.band)
  def timeDim: Option[String] = DimAliases.resolve(dims, DimAliases.time)
  def xDim: Option[String]    = DimAliases.resolve(dims, DimAliases.x)
  def yDim: Option[String]    = DimAliases.resolve(dims, DimAliases.y)

  def requireDim(opt: Option[String], what: String): String =
    opt.getOrElse(throw new DimensionMissing(
      s"Cube has no $what dimension among [${dims.mkString(", ")}]"))

  private def v: Column = col(valueCol)

  // ---- apply family -------------------------------------------------------

  /** openEO `apply`: unary function on every cell value. */
  def applyUnary(f: Column => Column): DataCube =
    copy(df = df.withColumn(valueCol, f(v)))

  /** openEO `apply_dimension` with a cumulative process (e.g. cumsum) along
    * `dim`, per series identified by the remaining dimensions in
    * `seriesDims`. Window-partitioned: scales with the number of series.
    */
  def cumulateOverDim(dim: String, seriesDims: Seq[String],
                      tieBreak: Seq[String] = Nil,
                      reducer: String = "sum"): DataCube = {
    val w = Window.partitionBy(seriesDims.map(col): _*)
      .orderBy((col(dim) +: tieBreak.map(col)): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    copy(df = df.withColumn(valueCol, Reducers.over(reducer, v, w)))
  }

  /** Rolling reducer along `dim` over a `[-before, +after]` row frame —
    * `apply_dimension` with a moving window (smoothing / rolling stats).
    * One window shuffle keyed by the series; the frame is row-based so the
    * per-partition state is O(width). */
  def movingAggregate(dim: String, seriesDims: Seq[String],
                      before: Int, after: Int, reducer: String = "mean",
                      tieBreak: Seq[String] = Nil): DataCube = {
    val w = Window.partitionBy(seriesDims.map(col): _*)
      .orderBy((col(dim) +: tieBreak.map(col)): _*)
      .rowsBetween(-before, after)
    copy(df = df.withColumn(valueCol, Reducers.over(reducer, v, w)))
  }

  /** openEO `sort` along a dimension: values are sorted along `dim`, the
    * dimension labels keep their order (value at sorted position i lands on
    * the i-th label). Null values are dropped, the openEO `nodata = null`
    * default.
    *
    * One groupBy shuffle: labels and values are collected per series and
    * sorted as arrays (series length along one dim is bounded — time steps,
    * bands — never the 100 TB axis), then re-zipped positionally.
    */
  def sortAlongDim(dim: String, ascending: Boolean = true): DataCube = {
    val resolved = DimAliases.alternative(dims, dim).getOrElse(
      throw new DimensionMissing(s"sort: no dimension $dim"))
    val series = dims.filterNot(_ == resolved)
    copy(df = df.filter(v.isNotNull)
      .groupBy(series.map(col): _*)
      .agg(sort_array(collect_list(col(resolved))).as("_l"),
           sort_array(collect_list(v), asc = ascending).as("_v"))
      .select((series.map(col)
        :+ explode(arrays_zip(col("_l"), col("_v"))).as("_z")): _*)
      .select((series.map(col)
        :+ col("_z._l").as(resolved) :+ col("_z._v").as(valueCol)): _*))
  }

  /** C43: the openEO ARRAY-PROCESS view of a cube — collapse `dim` into
    * ordered `labels`/`values` array columns, one row per remaining-dims
    * series. This is the seam the reference's array child processes
    * (array_element / array_filter / array_contains / array_concat …,
    * pulled in from openeo-processes-dask) operate through: once a series
    * is an array, every array process is a plain Spark higher-order
    * function in whole-stage codegen, and [[explodeSeries]] melts the
    * result back to long format.
    *
    * One groupBy shuffle (the sortAlongDim shape): series length along one
    * dim is bounded — time steps, bands — never the lake axis; ordering
    * comes from sorting (label, value) structs, so the array order is the
    * label order, deterministic cross-engine.
    */
  def seriesAlong(dim: String): DataFrame = {
    val resolved = DimAliases.alternative(dims, dim).getOrElse(
      throw new DimensionMissing(s"series: no dimension $dim"))
    val series = dims.filterNot(_ == resolved)
    df.groupBy(series.map(col): _*)
      .agg(array_sort(collect_list(struct(col(resolved).as("l"),
        v.as("x")))).as("_s"))
      .select((series.map(col)
        :+ transform(col("_s"), s => s.getField("l")).as("labels")
        :+ transform(col("_s"), s => s.getField("x")).as("values")): _*)
  }

  /** Inverse of [[seriesAlong]]: melt `labels`/`values` arrays back into
    * long-format rows along `dim` — map-side explode, zero shuffle. */
  def explodeSeries(ser: DataFrame, dim: String): DataCube = {
    val series = ser.columns.filterNot(c => c == "labels" || c == "values")
    val out = ser
      .select((series.map(col)
        :+ explode(arrays_zip(col("labels"), col("values"))).as("_z")): _*)
      .select((series.map(col)
        :+ col("_z.labels").as(dim) :+ col("_z.values").as(valueCol)): _*)
    DataCube(out)
  }

  /** openEO `order` along a dimension: argsort — the value at output
    * position i becomes the ORIGINAL index (0-based position along `dim`)
    * of the i-th smallest value. `tieBreak` must make the ordering total
    * (pass a unique column) or cross-engine results are undefined.
    * Two row_numbers over the same partition key — one shuffle, the second
    * window reuses the partitioning. Output dims: series + `position`.
    */
  def orderAlongDim(dim: String, seriesDims: Seq[String],
                    tieBreak: Seq[String] = Nil,
                    ascending: Boolean = true): DataCube = {
    val resolved = DimAliases.alternative(dims, dim).getOrElse(
      throw new DimensionMissing(s"order: no dimension $dim"))
    val labOrd = (col(resolved) +: tieBreak.map(col))
    val valCore = (v +: col(resolved) +: tieBreak.map(col))
    val valOrd = if (ascending) valCore.map(_.asc) else (v.desc +: labOrd.map(_.asc))
    val part = Window.partitionBy(seriesDims.map(col): _*)
    val idx = row_number().over(part.orderBy(labOrd: _*)) - 1
    val pos = row_number().over(part.orderBy(valOrd: _*)) - 1
    copy(df = df.withColumn("_idx", idx).withColumn("_pos", pos)
      .select((seriesDims.map(col)
        :+ col("_pos").as("position")
        :+ col("_idx").cast("long").as(valueCol)): _*))
  }

  /** openEO `rearrange`: permute values along `dim` — the output cell at
    * position i keeps label i but takes the value from position `perm(i)`.
    * Same one-groupBy array formulation as sort (the permutation is applied
    * with `element_at` inside codegen, no self-join). */
  def rearrange(dim: String, perm: Seq[Int]): DataCube = {
    val resolved = DimAliases.alternative(dims, dim).getOrElse(
      throw new DimensionMissing(s"rearrange: no dimension $dim"))
    val series = dims.filterNot(_ == resolved)
    val permArr = array(perm.map(p => lit(p)): _*)
    val sorted = df.groupBy(series.map(col): _*)
      .agg(array_sort(collect_list(struct(col(resolved).as("l"),
        v.as("x")))).as("_s"))
    val out = transform(
      sequence(lit(0), least(size(col("_s")), lit(perm.size)) - 1),
      i => struct(
        element_at(col("_s"), i + 1).getField("l").as("l"),
        element_at(col("_s"),
          element_at(permArr, i + 1) + 1).getField("x").as("x")))
    copy(df = sorted
      .select((series.map(col) :+ explode(out).as("_z")): _*)
      .select((series.map(col)
        :+ col("_z.l").as(resolved) :+ col("_z.x").as(valueCol)): _*))
  }

  /** openEO `climatological_normal`: reduce the time dimension to the mean
    * over a climatology period (month / dayofyear / hour). The output cube
    * swaps `time` for a `period` dimension. Exact decimal mean. */
  /** openEO's two-argument `anomaly(data, normals, period)`: subtract a
    * PRECOMPUTED normals cube (dims = non-time dims + `period`) — e.g. a
    * 30-year climatology applied to a fresh season, where the single-cube
    * `anomaly` above would wrongly derive normals from the new data
    * itself. Broadcast join on (shared dims, period): normals are tiny
    * (periods × bands) next to the cube. */
  def anomalyAgainst(normals: DataCube, freq: String = "month"): DataCube = {
    val t = requireDim(timeDim, "temporal")
    require(normals.dims.contains("period"),
      "anomaly: normals cube must carry a 'period' dimension")
    val periodCol = freq match {
      case "month"     => month(col(t))
      case "dayofyear" => dayofyear(col(t))
      case "hour"      => hour(col(t))
      case other => throw new IllegalArgumentException(s"anomaly: freq $other")
    }
    // Every non-period normals dim must exist on the data cube: silently
    // dropping an extra normals dim from the join keys would duplicate
    // every data row once per label of that dim via the broadcast join.
    val extra = normals.dims.filterNot(_ == "period").filterNot(dims.contains)
    require(extra.isEmpty,
      s"anomaly: normals dims ${extra.mkString(",")} absent from data cube")
    val keys = normals.dims.filterNot(_ == "period") :+ "_graft_period"
    val n = normals.df
      .withColumnRenamed(normals.valueCol, "_normal")
      .withColumnRenamed("period", "_graft_period")
    copy(df = df.withColumn("_graft_period", periodCol)
      .join(broadcast(n.select((keys.map(col) :+ col("_normal")): _*)), keys,
        "left_outer")
      .withColumn(valueCol, v - col("_normal"))
      .drop("_normal", "_graft_period"))
  }

  def climatologicalNormal(freq: String = "month"): DataCube = {
    val t = requireDim(timeDim, "temporal")
    val periodCol = freq match {
      case "month"     => month(col(t))
      case "dayofyear" => dayofyear(col(t))
      case "hour"      => hour(col(t))
      case other =>
        throw new IllegalArgumentException(s"climatological_normal: $other")
    }
    val keep = dims.filterNot(_ == t)
    copy(df = df
      .groupBy((keep.map(col) :+ periodCol.as("period")): _*)
      .agg((graft.core.Exact.esum(v) / count(v)).as(valueCol)))
  }

  // ---- reduce / aggregate -------------------------------------------------

  /** openEO `reduce_dimension`: drop `dim`, reducing values over it.
    *
    * `first`/`last` reducers are order-along-the-reduced-dimension semantics
    * (openEO arrays first/last): implemented as a row_number window with a
    * full deterministic tie-break (dim value, then cell value) — min_by
    * would be nondeterministic on duplicate labels.
    */
  def reduceDimension(dim: String, reducer: String,
                      tieBreak: Seq[String] = Nil): DataCube = {
    val resolved = DimAliases.alternative(dims, dim).getOrElse(
      throw new DimensionMissing(s"reduce_dimension: no dimension $dim"))
    val keep = dims.filterNot(_ == resolved)
    reducer.toLowerCase match {
      case f @ ("first" | "last") =>
        val ordCols = (col(resolved) +: tieBreak.map(col)) :+ v
        val ord = if (f == "first") ordCols.map(_.asc_nulls_first)
                  else ordCols.map(_.desc_nulls_last)
        val w = Window.partitionBy(keep.map(col): _*).orderBy(ord: _*)
        copy(df = df.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1)
          .select((keep.map(col) :+ v): _*))
      case _ =>
        copy(df = df.groupBy(keep.map(col): _*)
          .agg(Reducers(reducer)(v).as(valueCol)))
    }
  }

  /** openEO `reduce_spatial`: reduce over both spatial dimensions at once. */
  def reduceSpatial(reducer: String): DataCube = {
    val xd = requireDim(xDim, "x")
    val yd = requireDim(yDim, "y")
    val keep = dims.filterNot(d => d == xd || d == yd)
    copy(df = df.groupBy(keep.map(col): _*)
      .agg(Reducers(reducer)(v).as(valueCol)))
  }

  /** openEO `quantiles` over one dimension: exact linear-interpolated
    * percentiles (Spark `percentile`, matching DuckDB quantile_cont), one
    * output column per probability. Single aggregation pass; at scale the
    * sort cost is per-group, bounded by series length.
    */
  def quantiles(dim: String, probs: Seq[Double]): DataFrame = {
    val resolved = DimAliases.alternative(dims, dim).getOrElse(
      throw new DimensionMissing(s"quantiles: no dimension $dim"))
    val keep = dims.filterNot(_ == resolved)
    val aggs = probs.map(p =>
      percentile(v, lit(p)).as(s"q_${p.toString.replace('.', '_')}"))
    df.groupBy(keep.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** openEO `extrema` over one dimension: (min, max) in one pass. */
  def extrema(dim: String): DataFrame = {
    val resolved = DimAliases.alternative(dims, dim).getOrElse(
      throw new DimensionMissing(s"extrema: no dimension $dim"))
    val keep = dims.filterNot(_ == resolved)
    df.groupBy(keep.map(col): _*)
      .agg(min(v).as("vmin"), max(v).as("vmax"))
  }

  /** openEO `aggregate_temporal_period`: truncate the time dimension to
    * `period` (spark date_trunc unit: "day"/"week"/"month"/…) and reduce.
    */
  def aggregateTemporalPeriod(period: String, reducer: String): DataCube = {
    val t = requireDim(timeDim, "temporal")
    val bucketed = df.withColumn(t, date_trunc(period, col(t)))
    val cube = copy(df = bucketed)
    copy(df = bucketed.groupBy(cube.dims.map(col): _*)
      .agg(Reducers(reducer)(v).as(valueCol)))
  }

  /** openEO `aggregate_spatial` (zonal statistics).
    *
    * The reference rasterizes polygons into a zone-label grid then
    * group-aggregates (overrides/aggregate.py:105). Spark-first analog:
    * label each cell with its zone via a broadcast range-join against the
    * zone table (rectangles: zone_id, xmin, xmax, ymin, ymax — the
    * rasterization of arbitrary polygons at a given resolution), then one
    * groupBy. Map-side label assignment, single shuffle for the stats.
    */
  def aggregateSpatial(zones: DataFrame, reducer: String,
                       extraKeys: Seq[String] = Nil): DataFrame = {
    val xd = requireDim(xDim, "x")
    val yd = requireDim(yDim, "y")
    val joined = df.join(broadcast(zones),
      col(xd) >= col("xmin") && col(xd) < col("xmax") &&
      col(yd) >= col("ymin") && col(yd) < col("ymax"))
    joined.groupBy((col("zone_id") +: extraKeys.map(col)): _*)
      .agg(Reducers(reducer)(v).as(valueCol), count(lit(1)).as("n_cells"))
  }

  /** openEO `aggregate_spatial` over arbitrary polygon geometries — the
    * reference's actual surface (overrides/aggregate.py:105 rasterizes
    * GeoJSON features to a zone-label grid, then group-stats). Here the
    * "rasterize" is a per-cell ray-cast label expression: each polygon
    * contributes one codegen'd point-in-polygon term, cells joining the
    * first polygon that contains them (like rasterize burn order). Map-side
    * labeling + one groupBy — the polygon list is plan-time metadata, never
    * shuffled data.
    */
  def aggregateSpatialPolygons(polygons: Seq[(String, Seq[(Double, Double)])],
                               reducer: String,
                               extraKeys: Seq[String] = Nil): DataFrame = {
    val xd = requireDim(xDim, "x")
    val yd = requireDim(yDim, "y")
    val px = col(xd).cast("double")
    val py = col(yd).cast("double")
    val label = polygons.foldRight(lit(null).cast("string")) {
      case ((name, poly), rest) =>
        when(insidePolygon(poly, px, py), lit(name)).otherwise(rest)
    }
    df.withColumn("zone_id", label)
      .filter(col("zone_id").isNotNull)
      .groupBy((col("zone_id") +: extraKeys.map(col)): _*)
      .agg(Reducers(reducer)(v).as(valueCol), count(lit(1)).as("n_cells"))
  }

  /** openEO `date_shift` applied to the time dimension: move every time
    * label by `amount` `unit`s (pure column arithmetic, no shuffle). */
  def shiftTime(amount: Int, unit: String): DataCube = {
    val t = requireDim(timeDim, "temporal")
    val sqlUnit = unit.toLowerCase match {
      case u @ ("day" | "month" | "year" | "hour" | "minute" | "second"
                | "week" | "quarter") => u.toUpperCase
      case other => throw new IllegalArgumentException(s"date_shift: $other")
    }
    // timestampadd keeps TimestampType for every unit (date_add/add_months
    // would silently truncate time-of-day to a date)
    copy(df = df.withColumn(t,
      expr(s"timestampadd($sqlUnit, $amount, `$t`)")))
  }

  /** openEO `aggregate_temporal`: reduce over explicit (possibly
    * overlapping) intervals, each labeled. A broadcast range-join labels
    * every cell map-side (a cell in k intervals contributes to k groups,
    * matching openEO overlap semantics), then one groupBy on
    * (label, other dims).
    */
  def aggregateTemporal(intervals: Seq[(String, String, String)],
                        reducer: String): DataCube = {
    val t = requireDim(timeDim, "temporal")
    val spark = df.sparkSession
    import spark.implicits._
    val iv = broadcast(intervals.toDF("_lo", "_hi", "_label")
      .select(col("_lo").cast("timestamp").as("_lo"),
        col("_hi").cast("timestamp").as("_hi"), col("_label")))
    val keep = dims.filterNot(_ == t)
    copy(df = df
      .join(iv, col(t) >= col("_lo") && col(t) < col("_hi"))
      .groupBy((col("_label") +: keep.map(col)): _*)
      .agg(Reducers(reducer)(v).as(valueCol))
      .withColumnRenamed("_label", t))
  }

  // ---- dimension manipulation ---------------------------------------------

  /** openEO `add_dimension`: new dimension with a single label. */
  def addDimension(name: String, label: String): DataCube = {
    require(!dims.contains(name), s"add_dimension: $name exists")
    copy(df = df.withColumn(name, lit(label)))
  }

  /** openEO `drop_dimension`: remove a dimension that has exactly one
    * label; more than one label is an error
    * (DimensionLabelCountMismatch). The check is a cheap single-column
    * pre-pass (column-pruned scan), mirroring the reference's eager
    * validation. */
  def dropDimension(name: String): DataCube = {
    val resolved = DimAliases.alternative(dims, name).getOrElse(
      throw new DimensionMissing(s"drop_dimension: no dimension $name"))
    val n = df.select(col(resolved)).distinct().limit(2).count()
    require(n <= 1,
      s"drop_dimension: $resolved has more than one label")
    copy(df = df.drop(resolved))
  }

  /** openEO `rename_dimension`. */
  def renameDimension(from: String, to: String): DataCube = {
    val resolved = DimAliases.alternative(dims, from).getOrElse(
      throw new DimensionMissing(s"rename_dimension: no dimension $from"))
    require(!dims.contains(to), s"rename_dimension: $to exists")
    copy(df = df.withColumnRenamed(resolved, to))
  }

  /** openEO `rename_labels` on one dimension. */
  def renameLabels(dim: String, mapping: Map[String, String]): DataCube = {
    val resolved = DimAliases.alternative(dims, dim).getOrElse(
      throw new DimensionMissing(s"rename_labels: no dimension $dim"))
    val c = col(resolved)
    val renamed = mapping.foldLeft(when(lit(false), c)) {
      case (acc, (from, to)) => acc.when(c === from, lit(to))
    }.otherwise(c)
    copy(df = df.withColumn(resolved, renamed))
  }

  /** openEO `dimension_labels`: distinct labels of a dimension, sorted. */
  def dimensionLabels(dim: String): DataFrame = {
    val resolved = DimAliases.alternative(dims, dim).getOrElse(
      throw new DimensionMissing(s"dimension_labels: no dimension $dim"))
    df.select(col(resolved).as("label")).distinct().orderBy("label")
  }

  /** openEO `trim_cube` analog along one dimension: drop labels whose
    * cells are all null. Aggregation pass to find live labels (broadcast
    * back), then a semi-join — no row explosion. */
  def trimLabels(dim: String): DataCube = {
    val resolved = DimAliases.alternative(dims, dim).getOrElse(
      throw new DimensionMissing(s"trim_cube: no dimension $dim"))
    val live = broadcast(df.groupBy(col(resolved))
      .agg(count(v).as("_n")).filter(col("_n") > 0).drop("_n"))
    copy(df = df.join(live, Seq(resolved), "left_semi"))
  }

  // ---- filters ------------------------------------------------------------

  /** openEO `filter_temporal`: [from, to) on the time dimension. Plain
    * predicate → parquet row-group pruning.
    */
  def filterTemporal(from: String, to: String): DataCube = {
    val t = requireDim(timeDim, "temporal")
    copy(df = df.filter(col(t) >= lit(from).cast("timestamp") &&
                        col(t) < lit(to).cast("timestamp")))
  }

  /** openEO `filter_bbox` on the spatial dimensions. */
  def filterBbox(xmin: Double, xmax: Double, ymin: Double, ymax: Double): DataCube = {
    val xd = requireDim(xDim, "x")
    val yd = requireDim(yDim, "y")
    copy(df = df.filter(col(xd) >= xmin && col(xd) < xmax &&
                        col(yd) >= ymin && col(yd) < ymax))
  }

  /** openEO `trim_cube`: drop the outer spatial margins where every cell
    * is nodata, keeping interior nulls. The non-null bounding box is one
    * tiny aggregate (4 numbers) broadcast back onto the cube — a
    * declarative two-pass plan with no driver collect, so it composes
    * inside a graph like any other node. */
  def trimCube(): DataCube = {
    val xd = requireDim(xDim, "x")
    val yd = requireDim(yDim, "y")
    val b = df.filter(v.isNotNull).agg(
      min(col(xd)).as("_x0"), max(col(xd)).as("_x1"),
      min(col(yd)).as("_y0"), max(col(yd)).as("_y1"))
    copy(df = df.crossJoin(broadcast(b))
      .filter(col(xd).between(col("_x0"), col("_x1")) &&
        col(yd).between(col("_y0"), col("_y1")))
      .drop("_x0", "_x1", "_y0", "_y1"))
  }

  /** openEO `filter_bands`, honoring band-name alias groups. */
  def filterBands(bands: Seq[String]): DataCube = {
    val b = requireDim(bandDim, "bands")
    val expanded = bands.flatMap(BandAliases.alternatives)
    copy(df = df.filter(lower(col(b)).isin(expanded.map(_.toLowerCase): _*) ||
                        col(b).isin(bands: _*)))
  }

  /** openEO `filter_labels`: arbitrary predicate on one dimension. */
  def filterLabels(dim: String, pred: Column => Column): DataCube =
    copy(df = df.filter(pred(col(dim))))

  /** Even-odd ray-casting point-in-polygon test as pure column arithmetic
    * (one term per edge, all inside whole-stage codegen — no UDF, no
    * geometry library). The analog of the reference's rasterize step
    * (overrides/aggregate.py:105): the polygon becomes a per-cell boolean.
    */
  private def insidePolygon(polygon: Seq[(Double, Double)],
                            px: Column, py: Column): Column = {
    require(polygon.size >= 3, "polygon needs at least 3 vertices")
    val edges = polygon.zip(polygon.tail :+ polygon.head)
    val crossings = edges.map { case ((x1, y1), (x2, y2)) =>
      if (y1 == y2) lit(0) // horizontal edge never crosses a horizontal ray
      else when(
        (lit(y1) > py) =!= (lit(y2) > py) &&
          px < (lit(x2) - lit(x1)) * (py - lit(y1)) / (lit(y2) - lit(y1)) + lit(x1),
        1).otherwise(0)
    }
    pmod(crossings.reduce(_ + _), lit(2)) === 1
  }

  /** openEO `mask_polygon`: replace cells whose center falls outside the
    * polygon (or inside, with `maskInside=true`). Map-side only. */
  def maskPolygon(polygon: Seq[(Double, Double)],
                  replacement: Option[Double] = None,
                  maskInside: Boolean = false): DataCube = {
    val xd = requireDim(xDim, "x")
    val yd = requireDim(yDim, "y")
    val in = insidePolygon(polygon, col(xd).cast("double"), col(yd).cast("double"))
    val masked = if (maskInside) in else !in
    val repl: Column = replacement.map(lit(_).cast("double"))
      .getOrElse(lit(null).cast("double"))
    copy(df = df.withColumn(valueCol, when(masked, repl).otherwise(v)))
  }

  /** openEO `apply_polygon`: apply `f` to cells inside the polygon, leave
    * the rest untouched (the region-scoped apply). Pure column math —
    * the ray-cast test and the function both stay in codegen. */
  def applyPolygon(polygon: Seq[(Double, Double)],
                   f: Column => Column): DataCube = {
    val xd = requireDim(xDim, "x")
    val yd = requireDim(yDim, "y")
    val in = insidePolygon(polygon, col(xd).cast("double"),
      col(yd).cast("double"))
    copy(df = df.withColumn(valueCol, when(in, f(v)).otherwise(v)))
  }

  /** openEO `filter_spatial`: keep only cells inside the polygon — unlike
    * mask_polygon this drops the rows, so downstream operators scan less. */
  def filterSpatial(polygon: Seq[(Double, Double)]): DataCube = {
    val xd = requireDim(xDim, "x")
    val yd = requireDim(yDim, "y")
    copy(df = df.filter(
      insidePolygon(polygon, col(xd).cast("double"), col(yd).cast("double"))))
  }

  // ---- merge / mask -------------------------------------------------------

  /** openEO `merge_cubes` with an overlap resolver. Full outer join on the
    * shared dimensions; at scale this is a shuffle join on the dim key —
    * pre-partitioned cubes co-locate and skip the exchange.
    */
  def merge(other: DataCube, resolver: (Column, Column) => Column): DataCube = {
    requireSameCrs(other, "merge_cubes")
    val common = dims.intersect(other.dims)
    require(common.nonEmpty, "merge_cubes: no shared dimensions")
    val l = df.withColumnRenamed(valueCol, "_v_left")
    val r = other.df.withColumnRenamed(other.valueCol, "_v_right")
    val joined = l.join(r, common, "full_outer")
    copy(df = joined
      .withColumn(valueCol, resolver(col("_v_left"), col("_v_right")))
      .drop("_v_left", "_v_right"))
  }

  /** openEO `mask`: null out (or replace) cells where the mask cube is
    * non-zero. Left join on the mask's dimensions.
    */
  def mask(maskCube: DataCube, replacement: Option[Double] = None): DataCube = {
    requireSameCrs(maskCube, "mask")
    val keys = dims.intersect(maskCube.dims)
    require(keys.nonEmpty, "mask: no shared dimensions")
    val m = maskCube.df.withColumnRenamed(maskCube.valueCol, "_mask")
    val joined = df.join(m, keys, "left_outer")
    val repl: Column = replacement.map(lit(_).cast("double")).getOrElse(lit(null).cast("double"))
    copy(df = joined
      .withColumn(valueCol,
        when(col("_mask").isNotNull && col("_mask") =!= 0.0, repl).otherwise(v))
      .drop("_mask"))
  }

  // ---- band math ----------------------------------------------------------

  /** openEO `ndvi` (reference override: overrides/indices.py:9): compute
    * (nir-red)/(nir+red) from the band dimension; with `targetBand` the
    * result is appended as a new band (the reference's bug-fixed append),
    * otherwise the band dimension is dropped.
    *
    * Implemented as conditional aggregation (a 2-column pivot) — one
    * shuffle over the non-band dims, no UDFs.
    */
  def ndvi(nir: String = "nir", red: String = "red",
           targetBand: Option[String] = None): DataCube = {
    val b = requireDim(bandDim, "bands")
    val keep = dims.filterNot(_ == b)
    val nirAlts = BandAliases.alternatives(nir) :+ nir
    val redAlts = BandAliases.alternatives(red) :+ red
    val isNir = lower(col(b)).isin(nirAlts.map(_.toLowerCase): _*)
    val isRed = lower(col(b)).isin(redAlts.map(_.toLowerCase): _*)
    val agg = df.groupBy(keep.map(col): _*)
      .agg(sum(when(isNir, v)).as("_nir"), sum(when(isRed, v)).as("_red"))
      .withColumn(valueCol, (col("_nir") - col("_red")) / (col("_nir") + col("_red")))
      .drop("_nir", "_red")
    targetBand match {
      case None => copy(df = agg)
      case Some(tb) =>
        // Reference raises BandExists when target_band already labels a band
        // (overrides/indices.py:24). Long format doesn't know the label set
        // without a scan, so the guard is an execution-time raise_error on
        // the original rows — zero extra passes, fails on first conflict.
        // Alias collisions (ndvi ↔ its alias group) checked statically.
        val tbAlts = BandAliases.alternatives(tb).map(_.toLowerCase)
        require(!(BandAliases.alternatives(nir) ++ BandAliases.alternatives(red))
                  .map(_.toLowerCase).exists(tbAlts.contains),
                s"ndvi: target band $tb collides with an input band")
        val guarded = df.withColumn(b,
          when(lower(col(b)).isin(tbAlts: _*),
            raise_error(concat(lit(s"ndvi: band $tb already exists in cube: "), col(b)))
              .cast(df.schema(b).dataType))
          .otherwise(col(b)))
        val appended = agg.withColumn(b, lit(tb)).select(df.columns.map(col): _*)
        copy(df = guarded.unionByName(appended))
    }
  }

  // ---- interpolation / resampling -----------------------------------------

  /** openEO `array_interpolate_linear` along the time dimension
    * (reference override: overrides/arrays.py:7 — xarray interpolate_na with
    * use_coordinate=True): nulls are linearly interpolated between the
    * nearest non-null neighbors using the time coordinate as abscissa; ends
    * are not extrapolated.
    *
    * Windowed last/first with ignoreNulls — no per-series collect, scales
    * with series count. The prev/next value+coordinate pairs stay consistent
    * because both CASE expressions share the same null condition.
    */
  def interpolateLinear(seriesDims: Seq[String], tieBreak: Seq[String] = Nil): DataCube = {
    val t = requireDim(timeDim, "temporal")
    val ord = (col(t) +: tieBreak.map(col))
    val base = Window.partitionBy(seriesDims.map(col): _*).orderBy(ord: _*)
    val before = base.rowsBetween(Window.unboundedPreceding, -1)
    val after  = base.rowsBetween(1, Window.unboundedFollowing)
    // exact integer µs (oracle: DuckDB epoch_us) — a double-seconds coordinate
    // would diverge in the last bit between engines
    val tsec = graft.core.Exact.epochUs(col(t))
    val prevV = last(when(v.isNotNull, v), ignoreNulls = true).over(before)
    val prevT = last(when(v.isNotNull, tsec), ignoreNulls = true).over(before)
    val nextV = first(when(v.isNotNull, v), ignoreNulls = true).over(after)
    val nextT = first(when(v.isNotNull, tsec), ignoreNulls = true).over(after)
    val interp = prevV + (nextV - prevV) * (tsec - prevT) / (nextT - prevT)
    copy(df = df.withColumn(valueCol, when(v.isNotNull, v).otherwise(interp)))
  }

  /** openEO `resample_cube_temporal` with method=nearest: for every target
    * timestamp (per series) take the value of the temporally nearest source
    * cell; ties prefer the earlier source.
    *
    * As-of join without UDFs or per-key collects: union source and target
    * rows, one ordered window per series, pick the nearer of
    * last-source-before and first-source-after. One shuffle on the series
    * key — survives arbitrary series counts.
    */
  def resampleCubeTemporal(targets: DataFrame, seriesDims: Seq[String],
                           tieBreak: Seq[String] = Nil): DataCube = {
    val t = requireDim(timeDim, "temporal")
    val src = df.select((seriesDims.map(col) ++ tieBreak.map(col)
      :+ col(t) :+ v.as("_v")): _*)
      .withColumn("_tag", lit(0))
    val tgt = tieBreak.foldLeft(
        targets.select((seriesDims.map(col) :+ col(t)): _*)) {
        (d, c) => d.withColumn(c, lit(null)) }
      .withColumn("_v", lit(null).cast("double")).withColumn("_tag", lit(1))
    val all = src.unionByName(tgt)
    // Duplicate source timestamps within a series would make last/first over
    // the tie nondeterministic; order by caller tie-break columns, then the
    // value itself (explicit nulls-first so any SQL oracle can mirror it).
    val base = Window.partitionBy(seriesDims.map(col): _*)
      .orderBy((col(t) +: col("_tag") +: tieBreak.map(c => col(c).asc_nulls_first)
        :+ col("_v").asc_nulls_first): _*)
    val upto  = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val after = base.rowsBetween(1, Window.unboundedFollowing)
    val tsec = graft.core.Exact.epochUs(col(t))
    val src_v = when(col("_tag") === 0, col("_v"))
    val src_t = when(col("_tag") === 0, tsec)
    val prevV = last(src_v, ignoreNulls = true).over(upto)
    val prevT = last(src_t, ignoreNulls = true).over(upto)
    val nextV = first(src_v, ignoreNulls = true).over(after)
    val nextT = first(src_t, ignoreNulls = true).over(after)
    val nearer = when(nextT.isNull, prevV)
      .when(prevT.isNull, nextV)
      .when(tsec - prevT <= nextT - tsec, prevV)
      .otherwise(nextV)
    copy(df = all
      .withColumn(valueCol, nearer)
      .filter(col("_tag") === 1)
      .select((seriesDims.map(col) :+ col(t) :+ col(valueCol)): _*))
  }

  // ---- spatial kernel / resample / anomaly --------------------------------

  /** openEO `apply_kernel`: 2D convolution over the spatial dimensions with
    * zero padding at the border.
    *
    * Scatter formulation: every input cell emits kernel-size weighted
    * contributions to its neighbors' output coordinates (a map-side
    * explode), then one groupBy sums them — no join against shifted copies
    * of the cube, so the shuffle is kernel_area × |cells| rows keyed by the
    * output cell, partition-local until the single aggregation.
    *
    * Prefer kernels whose weights are binary-exact (e.g. x/16) so results
    * are bit-stable across engines.
    */
  def applyKernel(kernel: Seq[Seq[Double]],
                  xRange: (Int, Int), yRange: (Int, Int)): DataCube = {
    val xd = requireDim(xDim, "x")
    val yd = requireDim(yDim, "y")
    val kh = kernel.length; val kw = kernel.head.length
    require(kh % 2 == 1 && kw % 2 == 1, "apply_kernel: kernel must be odd-sized")
    val offs = for {
      (row, iy) <- kernel.zipWithIndex
      (wgt, ix) <- row.zipWithIndex
      if wgt != 0.0
    } yield struct(lit(ix - kw / 2).as("dx"), lit(iy - kh / 2).as("dy"),
      lit(wgt).as("w"))
    val keep = dims.filterNot(d => d == xd || d == yd)
    val exploded = df.select(
        (keep.map(col) :+ col(xd) :+ col(yd) :+ v :+
          explode(array(offs: _*)).as("k")): _*)
      .select((keep.map(col) :+ (col(xd) - col("k.dx")).as(xd)
        :+ (col(yd) - col("k.dy")).as(yd) :+ (v * col("k.w")).as(valueCol)): _*)
      .filter(col(xd) >= xRange._1 && col(xd) <= xRange._2 &&
        col(yd) >= yRange._1 && col(yd) <= yRange._2)
    copy(df = exploded
      .groupBy((keep.map(col) :+ col(xd) :+ col(yd)): _*)
      .agg(graft.core.Exact.esum(v).as(valueCol)))
  }

  /** openEO `apply_neighborhood` for a (2rx+1)×(2ry+1) spatial window and a
    * named reducer (mean/median/min/max/…): every output cell is the reducer
    * over its neighborhood.
    *
    * Same scatter formulation as apply_kernel — each input cell emits its
    * value to the neighbors' output coordinates (map-side explode), then one
    * groupBy reduces. Unlike the kernel path the contributions are unweighted
    * raw values, so ANY reducer works, including order statistics. Shuffle
    * volume is window_area × |cells| keyed by output cell; at 100 TB prefer
    * apply_kernel when the operation is linear (weights fold into the sum).
    */
  def applyNeighborhood(rx: Int, ry: Int, reducer: String,
                        xRange: (Int, Int), yRange: (Int, Int)): DataCube = {
    val xd = requireDim(xDim, "x")
    val yd = requireDim(yDim, "y")
    val offs = for { dx <- -rx to rx; dy <- -ry to ry }
      yield struct(lit(dx).as("dx"), lit(dy).as("dy"))
    val keep = dims.filterNot(d => d == xd || d == yd)
    val exploded = df.select(
        (keep.map(col) :+ col(xd) :+ col(yd) :+ v :+
          explode(array(offs: _*)).as("k")): _*)
      .select((keep.map(col) :+ (col(xd) + col("k.dx")).as(xd)
        :+ (col(yd) + col("k.dy")).as(yd) :+ v): _*)
      .filter(col(xd) >= xRange._1 && col(xd) <= xRange._2 &&
        col(yd) >= yRange._1 && col(yd) <= yRange._2)
    copy(df = exploded
      .groupBy((keep.map(col) :+ col(xd) :+ col(yd)): _*)
      .agg(Reducers(reducer)(v).as(valueCol)))
  }

  /** openEO `resample_spatial` (downscale by an integer factor): bucket the
    * spatial coordinates and reduce. One aggregation, output is 1/factor²
    * of the input — the standard pyramid step. */
  def resampleSpatial(factor: Int, reducer: String = "mean"): DataCube =
    aggregateSpatialWindow(factor, factor, reducer)

  /** openEO `resample_spatial` with a `projection`/`resolution` argument:
    * re-grid the cube from its own affine transform onto `target`'s grid
    * (same EPSG — cross-EPSG datum math is rejected, see [[Crs]]). Each
    * cell CENTER maps src grid → world → target cell as one composed
    * affine — pure column math inside codegen, so the only shuffle is the
    * final reduce of cells landing on the same target cell; at any scale
    * this is exactly one exchange, like `aggregate_spatial_window`.
    * Nearest-cell (floor) assignment, the reference's default resampling.
    */
  def resampleProjection(target: Crs, reducer: String = "mean"): DataCube = {
    val src = crs.getOrElse(throw new DimensionMissing(
      "resample_spatial: cube has no CRS; attach one with withCrs"))
    require(src.epsg == target.epsg,
      s"resample_spatial: cross-EPSG reprojection (EPSG:${src.epsg} → " +
        s"EPSG:${target.epsg}) needs a projection library; this build " +
        "re-grids within one EPSG only")
    val xd = requireDim(xDim, "x")
    val yd = requireDim(yDim, "y")
    // operand order is mirrored verbatim in the DuckDB oracle
    // (CubeQueries.reprojectSql) — keep the two in sync
    val wx = (col(xd).cast("double") + lit(0.5)) * lit(src.a) + lit(src.c)
    val wy = (col(yd).cast("double") + lit(0.5)) * lit(src.e) + lit(src.f)
    val gx = floor((wx - lit(target.c)) / lit(target.a))
    val gy = floor((wy - lit(target.f)) / lit(target.e))
    val keep = dims.filterNot(d => d == xd || d == yd)
    copy(df = df
      .groupBy((keep.map(col) :+ gx.as(xd) :+ gy.as(yd)): _*)
      .agg(Reducers(reducer)(v).as(valueCol)),
      crs = Some(target))
  }

  /** `resample_spatial` in the upscale direction: each cell becomes a
    * `factor`×`factor` block of cells carrying its value (nearest-neighbor
    * upsampling). Map-side explode — output is factor² × input rows, no
    * shuffle. */
  def upsampleSpatial(factor: Int): DataCube = {
    require(factor >= 1, s"upsample factor: $factor")
    val xd = requireDim(xDim, "x")
    val yd = requireDim(yDim, "y")
    val offs = for { dx <- 0 until factor; dy <- 0 until factor }
      yield struct(lit(dx).as("dx"), lit(dy).as("dy"))
    val keep = dims.filterNot(d => d == xd || d == yd)
    copy(df = df
      .select((keep.map(col) :+ col(xd) :+ col(yd) :+ v
        :+ explode(array(offs: _*)).as("k")): _*)
      .select((keep.map(col)
        :+ (col(xd) * factor + col("k.dx")).as(xd)
        :+ (col(yd) * factor + col("k.dy")).as(yd) :+ v): _*))
  }

  /** openEO `aggregate_spatial_window`: reduce non-overlapping
    * `sizeX`×`sizeY` blocks; output coordinates are the window indices.
    * One aggregation — the window index is pure column arithmetic, so the
    * only shuffle is the reduce itself. */
  def aggregateSpatialWindow(sizeX: Int, sizeY: Int,
                             reducer: String = "mean"): DataCube = {
    val xd = requireDim(xDim, "x")
    val yd = requireDim(yDim, "y")
    val bucketed = df
      .withColumn(xd, floor(col(xd) / sizeX).cast("long"))
      .withColumn(yd, floor(col(yd) / sizeY).cast("long"))
    copy(df = bucketed.groupBy(dims.map(col): _*)
      .agg(Reducers(reducer)(v).as(valueCol)))
  }

  /** openEO `resample_cube_spatial`: re-grid this cube onto the target
    * cube's spatial axes (nearest-cell assignment via midpoint boundaries),
    * reducing cells that land on the same target cell.
    *
    * Target axis labels are collected to the driver — for a raster grid the
    * axis is O(width), thousands of labels even at 100 TB (the cube is
    * width × height × bands × time, the axis is not) — then broadcast as
    * per-axis [lo, hi) bucket ranges. Source cells map via a broadcast range
    * join (map-side), followed by one reduce shuffle.
    */
  def resampleCubeSpatial(target: DataCube, reducer: String = "mean"): DataCube = {
    val xd = requireDim(xDim, "x")
    val yd = requireDim(yDim, "y")
    val txd = target.requireDim(target.xDim, "x")
    val tyd = target.requireDim(target.yDim, "y")
    val spark = df.sparkSession
    import spark.implicits._

    def axisRanges(labels: Seq[Double]): Seq[(Double, Double, Double)] = {
      val s = labels.sorted
      val mids = s.zip(s.tail).map { case (a, b) => (a + b) / 2 }
      val los = Double.MinValue +: mids
      val his = mids :+ Double.MaxValue
      s.lazyZip(los).lazyZip(his).toSeq
    }
    def axisDf(tcol: String, out: String): DataFrame = {
      val labels = target.df.select(col(tcol).cast("double"))
        .distinct().as[Double].collect().toSeq // SCALE:cube-resample-labels
      axisRanges(labels).toDF(out, s"_lo_$out", s"_hi_$out")
    }
    val xr = axisDf(txd, "_tx")
    val yr = axisDf(tyd, "_ty")
    val keep = dims.filterNot(d => d == xd || d == yd)
    val snapped = df
      .join(broadcast(xr), col(xd).cast("double") >= col("_lo__tx") &&
        col(xd).cast("double") < col("_hi__tx"))
      .join(broadcast(yr), col(yd).cast("double") >= col("_lo__ty") &&
        col(yd).cast("double") < col("_hi__ty"))
    copy(df = snapped
      .groupBy((keep.map(col) :+ col("_tx").as(xd) :+ col("_ty").as(yd)): _*)
      .agg(Reducers(reducer)(v).as(valueCol)))
  }

  /** openEO `anomaly`: subtract the climatological normal — the mean over
    * all cells sharing (band, period-of-year) — from every cell. One
    * window over the (band, period) key; the normal is computed with exact
    * decimal sums so it is order-independent. */
  def anomaly(freq: String = "month"): DataCube = {
    val t = requireDim(timeDim, "temporal")
    val periodCol = freq match {
      case "month"     => month(col(t))
      case "dayofyear" => dayofyear(col(t))
      case "hour"      => hour(col(t))
      case other => throw new IllegalArgumentException(s"anomaly: freq $other")
    }
    val parts = bandDim.map(col).toSeq :+ periodCol
    val w = Window.partitionBy(parts: _*)
    import graft.core.Exact
    copy(df = df.withColumn(valueCol,
      v - Exact.esumOver(v, w) / count(v).over(w)))
  }

  // ---- curve fitting ------------------------------------------------------

  /** openEO `fit_curve` for a degree-2 polynomial v ≈ c0 + c1·t + c2·t²,
    * fit independently per series (the reference delegates to scipy per
    * pixel; here the least-squares solution is CLOSED FORM — one
    * aggregation computes the Gram sums Σtᵏ, Σtᵏv and Cramer's rule solves
    * the 3×3 normal equations as column arithmetic). Pure partial-agg
    * shuffle: scales with series count, no per-series iteration anywhere.
    *
    * `t` is the time coordinate in DAYS since `epoch` (keeps the Gram
    * matrix well-conditioned; exact integer µs → double division by 86 400e6).
    * Returns one row per series: seriesDims + c0, c1, c2.
    */
  def fitCurveQuadratic(seriesDims: Seq[String], epoch: String): DataFrame = {
    val t = requireDim(timeDim, "temporal")
    import graft.core.Exact
    val td = (graft.core.Exact.epochUs(col(t)) -
      graft.core.Exact.epochUs(lit(epoch))).cast("double") / lit(86400e6)
    val pre = df.filter(v.isNotNull).select(
      (seriesDims.map(col) :+ td.as("_t") :+ v.as("_v")): _*)
    val g = pre.groupBy(seriesDims.map(col): _*).agg(
      count(lit(1)).cast("double").as("s0"),
      Exact.esum(col("_t")).as("s1"),
      Exact.esum(col("_t") * col("_t")).as("s2"),
      Exact.esum(col("_t") * col("_t") * col("_t")).as("s3"),
      Exact.esum(col("_t") * col("_t") * col("_t") * col("_t")).as("s4"),
      Exact.esum(col("_v")).as("sy"),
      Exact.esum(col("_t") * col("_v")).as("sty"),
      Exact.esum(col("_t") * col("_t") * col("_v")).as("st2y"))
    // Cramer's rule on [[s0,s1,s2],[s1,s2,s3],[s2,s3,s4]] · c = [sy,sty,st2y]
    def det3(a: Column, b: Column, c: Column, d: Column, e: Column, f: Column,
             gg: Column, h: Column, i: Column): Column =
      a * (e * i - f * h) - b * (d * i - f * gg) + c * (d * h - e * gg)
    val (s0, s1, s2, s3, s4) =
      (col("s0"), col("s1"), col("s2"), col("s3"), col("s4"))
    val (sy, sty, st2y) = (col("sy"), col("sty"), col("st2y"))
    val dd = det3(s0, s1, s2, s1, s2, s3, s2, s3, s4)
    val d0 = det3(sy, s1, s2, sty, s2, s3, st2y, s3, s4)
    val d1 = det3(s0, sy, s2, s1, sty, s3, s2, st2y, s4)
    val d2 = det3(s0, s1, sy, s1, s2, sty, s2, s3, st2y)
    g.select((seriesDims.map(col) :+ (d0 / dd).as("c0")
      :+ (d1 / dd).as("c1") :+ (d2 / dd).as("c2")): _*)
  }

  /** `fit_curve` for an arbitrary polynomial degree. Same shape as the
    * quadratic: ONE partial-agg shuffle computes the per-series moments
    * Σtᵏ (k ≤ 2d) and Σtᵏv (k ≤ d); the (d+1)×(d+1) normal equations are
    * then solved per SERIES row (already one row per series after the
    * aggregate — the solve is O(d³) on a handful of doubles, applied
    * distributed, never a collect). Returns seriesDims + `coefs` array
    * with c0..cd.
    */
  def fitCurvePoly(seriesDims: Seq[String], epoch: String,
                   degree: Int): DataFrame = {
    require(degree >= 1 && degree <= 8, s"fit_curve degree: $degree")
    val t = requireDim(timeDim, "temporal")
    import graft.core.Exact
    val td = (graft.core.Exact.epochUs(col(t)) -
      graft.core.Exact.epochUs(lit(epoch))).cast("double") / lit(86400e6)
    val pre = df.filter(v.isNotNull).select(
      (seriesDims.map(col) :+ td.as("_t") :+ v.as("_v")): _*)
    def tpow(k: Int): Column =
      (1 to k).map(_ => col("_t")).foldLeft(lit(1.0))(_ * _)
    val momentAggs = (0 to 2 * degree).map(k =>
      Exact.esum(tpow(k)).as(s"_s$k"))
    val rhsAggs = (0 to degree).map(k =>
      Exact.esum(tpow(k) * col("_v")).as(s"_r$k"))
    val g = pre.groupBy(seriesDims.map(col): _*)
      .agg((momentAggs ++ rhsAggs).head, (momentAggs ++ rhsAggs).tail: _*)
    val solve = udf { (s: Seq[Double], r: Seq[Double]) =>
      // Gaussian elimination with partial pivoting on the normal equations
      val n = r.length
      val a = Array.tabulate(n, n)((i, j) => s(i + j))
      val b = r.toArray
      for (col0 <- 0 until n) {
        val piv = (col0 until n).maxBy(i => math.abs(a(i)(col0)))
        val tmp = a(col0); a(col0) = a(piv); a(piv) = tmp
        val tb = b(col0); b(col0) = b(piv); b(piv) = tb
        for (row <- col0 + 1 until n) {
          val f = a(row)(col0) / a(col0)(col0)
          for (j <- col0 until n) a(row)(j) -= f * a(col0)(j)
          b(row) -= f * b(col0)
        }
      }
      val x = new Array[Double](n)
      for (i <- n - 1 to 0 by -1) {
        var acc = b(i)
        for (j <- i + 1 until n) acc -= a(i)(j) * x(j)
        x(i) = acc / a(i)(i)
      }
      x.toSeq
    }
    g.select((seriesDims.map(col)
      :+ solve(array((0 to 2 * degree).map(k => col(s"_s$k")): _*),
        array((0 to degree).map(k => col(s"_r$k")): _*)).as("coefs")): _*)
  }

  /** Degree-3 `fit_curve` with the solve as PURE column math: one
    * moment-sum aggregation (like fitCurvePoly) and then Cramer's rule on
    * the 4×4 normal equations, generated by graft.core.Cramer — the same
    * expansion instantiated as SQL text gives a bit-identical DuckDB
    * oracle, which the pivoting Gaussian solve of fitCurvePoly (an
    * iterative, data-dependent algorithm) cannot. No UDF, fully codegen.
    * Returns seriesDims + c0..c3.
    */
  def fitCurveCubic(seriesDims: Seq[String], epoch: String): DataFrame = {
    val t = requireDim(timeDim, "temporal")
    import graft.core.{Cramer, Exact}
    val td = (graft.core.Exact.epochUs(col(t)) -
      graft.core.Exact.epochUs(lit(epoch))).cast("double") / lit(86400e6)
    val pre = df.filter(v.isNotNull).select(
      (seriesDims.map(col) :+ td.as("_t") :+ v.as("_v")): _*)
    def tpow(k: Int): Column =
      (1 to k).map(_ => col("_t")).foldLeft(lit(1.0))(_ * _)
    val aggs = (0 to 6).map(k => Exact.esum(tpow(k)).as(s"_s$k")) ++
      (0 to 3).map(k => Exact.esum(tpow(k) * col("_v")).as(s"_r$k"))
    val g = pre.groupBy(seriesDims.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val mat = Vector.tabulate(4, 4)((i, j) => col(s"_s${i + j}"))
    val rhs = Vector.tabulate(4)(i => col(s"_r$i"))
    val coefs = Cramer.solve(mat, rhs, Cramer.columns)
    g.select((seriesDims.map(col) ++
      coefs.zipWithIndex.map { case (c, k) => c.as(s"c$k") }): _*)
  }

  /** `predict_curve` for fitCurvePoly coefficients: value = Σ cₖ·tᵏ with a
    * broadcast join of the per-series coefficient rows. */
  def predictCurvePoly(coefs: DataFrame, seriesDims: Seq[String],
                       epoch: String, degree: Int): DataCube = {
    val t = requireDim(timeDim, "temporal")
    val td = (graft.core.Exact.epochUs(col(t)) -
      graft.core.Exact.epochUs(lit(epoch))).cast("double") / lit(86400e6)
    val poly = (0 to degree).map { k =>
      element_at(col("coefs"), k + 1) *
        (1 to k).map(_ => td).foldLeft(lit(1.0))(_ * _)
    }.reduce(_ + _)
    copy(df = df.join(broadcast(coefs), seriesDims)
      .withColumn(valueCol, poly)
      .drop("coefs"))
  }

  /** openEO `predict_curve`: evaluate fitted per-series coefficients at the
    * cube's own timestamps (broadcast join on the series key). */
  def predictCurveQuadratic(coefs: DataFrame, seriesDims: Seq[String],
                            epoch: String): DataCube = {
    val t = requireDim(timeDim, "temporal")
    val td = (graft.core.Exact.epochUs(col(t)) -
      graft.core.Exact.epochUs(lit(epoch))).cast("double") / lit(86400e6)
    val joined = df.join(broadcast(coefs), seriesDims)
    copy(df = joined
      .withColumn(valueCol,
        col("c0") + col("c1") * td + col("c2") * td * td)
      .drop("c0", "c1", "c2"))
  }

  // ---- value scaling (STAC-MLM ValueScaling, scaling_utils.py:63) ---------

  /** min-max: (v - min)/(max - min), statistics per band computed over the
    * cube (partial aggregation map-side, then broadcast back).
    */
  def scaleMinMax(perDim: Option[String]): DataCube =
    scaleWith(perDim, Seq(min(v), max(v))) { st =>
      (v - st(0)) / (st(1) - st(0))
    }

  /** z-score: (v - mean)/stddev_pop, statistics per band. Mean and variance
    * come from exact decimal sums (see graft.core.Exact) via the explicit
    * E[v²]−E[v]² formulation, so the result is bitwise reproducible across
    * engines and runs.
    */
  def scaleZScore(perDim: Option[String]): DataCube = {
    import graft.core.Exact
    scaleWith(perDim, Seq(count(v), Exact.esum(v), Exact.esum(v * v))) { st =>
      val mu = st(1) / st(0)
      val m2n = st(2) / st(0)
      (v - mu) / sqrt(m2n - mu * mu)
    }
  }

  /** Shared scaling plan: the statistics are a `groupBy(dim)` aggregate
    * (|dim| rows — a handful of bands even at 100 TB) broadcast-joined
    * back onto the cube, or a 1-row global aggregate cross-joined as a
    * broadcast relation. The cube itself never shuffles: the only
    * exchange is the metadata-sized stats aggregation, and the scaled
    * value is computed map-side inside whole-stage codegen. (A
    * `Window.partitionBy(band)` formulation computes the same numbers but
    * funnels the ENTIRE cube into |bands| reducer partitions — unbounded
    * per-reducer buffering at scale — so it is deliberately avoided.)
    * The aggregate expressions are evaluated identically to their window
    * counterparts, so results are bitwise unchanged.
    */
  private def scaleWith(perDim: Option[String], aggs: Seq[Column])
                       (f: IndexedSeq[Column] => Column): DataCube = {
    val named = aggs.zipWithIndex.map { case (a, i) => a.as(s"_st$i") }
    val stCols = aggs.indices.map(i => col(s"_st$i")).toIndexedSeq
    val joined = perDim match {
      case Some(d) =>
        // null-SAFE equality (<=>): groupBy puts null dim values in their
        // own group, and a plain USING join would silently DROP those rows
        // (null keys never equal-match) — the old Window.partitionBy form
        // scaled the null partition, so the join form must too.
        val stats = df.groupBy(col(d)).agg(named.head, named.tail: _*)
          .withColumnRenamed(d, "_stKey")
        df.join(broadcast(stats), col(d) <=> col("_stKey")).drop("_stKey")
      case None =>
        val stats = df.agg(named.head, named.tail: _*)
        df.crossJoin(broadcast(stats))
    }
    // USING-joins hoist the key column to the front: restore the cube's
    // original column order so dim layout is unchanged for downstream ops.
    copy(df = joined.withColumn(valueCol, f(stCols))
      .select(df.columns.map(col).toIndexedSeq: _*))
  }

  /** openEO `flatten_dimensions`: combine several dimensions into one whose
    * labels are the joined source labels. Pure projection (no shuffle). */
  def flattenDimensions(srcDims: Seq[String], target: String,
                        sep: String = "~"): DataCube = {
    val resolved = srcDims.map(d => DimAliases.alternative(dims, d).getOrElse(
      throw new DimensionMissing(s"flatten_dimensions: no dimension $d")))
    require(!dims.diff(resolved).contains(target),
      s"flatten_dimensions: $target exists")
    val keep = dims.diff(resolved)
    copy(df = df.select((keep.map(col)
      :+ concat_ws(sep, resolved.map(c => col(c).cast("string")): _*).as(target)
      :+ v): _*))
  }

  /** openEO `unflatten_dimension`: split a flattened dimension back into
    * component dimensions (string labels). Pure projection. */
  def unflattenDimension(dim: String, targets: Seq[String],
                         sep: String = "~"): DataCube = {
    val resolved = DimAliases.alternative(dims, dim).getOrElse(
      throw new DimensionMissing(s"unflatten_dimension: no dimension $dim"))
    val keep = dims.filterNot(_ == resolved)
    val parts = split(col(resolved), java.util.regex.Pattern.quote(sep))
    val comps = targets.zipWithIndex.map { case (t, i) => parts(i).as(t) }
    copy(df = df.select((keep.map(col) ++ comps :+ v): _*))
  }

  /** openEO `linear_scale_range`: clip to [inMin, inMax], then map linearly
    * onto [outMin, outMax]. Pure column arithmetic. */
  def linearScaleRange(inMin: Double, inMax: Double,
                       outMin: Double = 0.0, outMax: Double = 1.0): DataCube =
    applyUnary { c =>
      (least(greatest(c, lit(inMin)), lit(inMax)) - lit(inMin)) /
        (lit(inMax) - lit(inMin)) * (lit(outMax) - lit(outMin)) + lit(outMin)
    }

  def clip(minV: Option[Double], maxV: Option[Double]): DataCube = applyUnary { c =>
    val lo = minV.map(m => greatest(c, lit(m))).getOrElse(c)
    maxV.map(m => least(lo, lit(m))).getOrElse(lo)
  }

  def offset(o: Double): DataCube = applyUnary(_ - lit(o))
  def scale(s: Double): DataCube  = applyUnary(_ / lit(s))
}
