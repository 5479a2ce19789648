package graft

import org.apache.spark.sql.functions._

import graft.core.{Fixtures, Tables}
import graft.multimodal.Multimodal
import graft.plans.ProcessGraph
import graft.queries.PipelineQueries
import graft.sources.Sinks

/** Multimodal plumbing, sink roundtrips, and process-graph executor
  * behavior that the oracle gate can't see. */
class PipelineSpec extends SparkSpec {

  private lazy val media =
    Multimodal.mediaFromDocuments(Tables.documents(spark, sfDir)).cache()

  test("multimodal: batching shape actually reaches the decode stage") {
    val sizes = Multimodal.extractFeatures(media.repartition(2), batchSize = 64)
      .toDF().select("batch_size").distinct()
      .collect().map(_.getInt(0)).sorted
    assert(sizes.forall(s => s >= 1 && s <= 64),
      s"batch sizes out of range: ${sizes.mkString(",")}")
    assert(sizes.contains(64), "full batches must dominate a 250-doc partition")
  }

  test("multimodal: resize emits fixed-width payloads; frame sample counts") {
    val resized = media.select(
      octet_length(Multimodal.resizeStub(col("payload"), 16)).as("n"))
      .distinct().collect().map(_.getInt(0))
    assert(resized.toSeq == Seq(16), s"resize widths: ${resized.mkString(",")}")
    val frames = Multimodal.frameSample(
      media.filter(col("kind") === "video"), frameLen = 32, every = 2)
    assert(frames.count() > 0)
    val bad = frames.filter(octet_length(col("frame")) > 32).count()
    assert(bad == 0, "frames longer than frameLen")
  }

  test("sinks: parquet/json/csv save_result round-trips rows") {
    val df = Tables.nation(spark, sfDir)
      .select("n_nationkey", "n_name", "n_regionkey")
    for (fmt <- Sinks.supported) {
      val dir = Fixtures.dir(s"sink_$fmt") + "/out"
      Sinks.saveResult(df, dir, fmt)
      val back = Sinks.loadResult(spark, dir, fmt)
        .select("n_nationkey", "n_name", "n_regionkey")
      assert(back.count() == df.count(), s"$fmt row count")
      assert(back.exceptAll(df.selectExpr("CAST(n_nationkey AS BIGINT)",
        "n_name", "CAST(n_regionkey AS BIGINT)").toDF(
        "n_nationkey", "n_name", "n_regionkey")).isEmpty ||
        back.exceptAll(df).isEmpty, s"$fmt contents")
    }
    intercept[IllegalArgumentException] {
      Sinks.saveResult(df, "/tmp/never", "netcdf")
    }
  }

  test("gridded export round-trips the raster layout") {
    import graft.core.Exact
    val cube = graft.cube.DataCube(Tables.lineitem(spark, sfDir)
      .select(pmod(col("l_partkey"), lit(16)).as("x"),
        pmod(col("l_suppkey"), lit(8)).as("y"),
        col("l_returnflag").as("band"), col("l_quantity"))
      .groupBy("x", "y", "band")
      .agg(Exact.rnd4(Exact.esum(col("l_quantity"))).as("value")))
    val dir = Fixtures.dir("gridded") + "/out"
    Sinks.saveGridded(cube, dir, "csv")
    // the wide file has one row per (band, y) and one column per x label
    val wide = Sinks.loadResult(spark, dir, "csv")
    assert(wide.columns.take(2).toSeq == Seq("band", "y"))
    assert(wide.columns.length >= 2 + 16, s"x columns missing: ${wide.columns.length}")
    // melt back → exactly the original cells
    val back = Sinks.loadGridded(spark, dir, Seq("band", "y"), "csv")
      .filter(col("value").isNotNull)
      .select(col("band"), col("y").cast("long").as("y"),
        col("x").cast("long").as("x"), col("value").cast("double").as("value"))
    val orig = cube.df.select(col("band"), col("y").cast("long").as("y"),
      col("x").cast("long").as("x"), col("value").cast("double").as("value"))
    assert(back.exceptAll(orig).isEmpty && orig.exceptAll(back).isEmpty,
      "gridded export must round-trip the cube cells exactly")
  }

  test("process graph: whole graph collapses into one pushed-down scan") {
    val df = new ProcessGraph(spark, sfDir).run(PipelineQueries.demoGraph)
    val plan = df.queryExecution.executedPlan.toString
    // the graph's temporal extent must reach the parquet scan as a pushed
    // row-group filter on the raw storage column
    assert(plan.contains("GreaterThanOrEqual(ts"),
      s"expected pushed ts range filter in:\n$plan")
    assert(df.count() > 0)
  }

  test("process graph: unknown nodes and processes fail fast") {
    val pg = new ProcessGraph(spark, sfDir)
    intercept[IllegalArgumentException] {
      pg.run("""{"a": {"process_id": "nope", "arguments": {}, "result": true}}""")
    }
    intercept[IllegalArgumentException] {
      pg.run("""{"a": {"process_id": "apply", "arguments": {}}}""") // no result
    }
  }

  test("process graph: apply_dimension and curve fit/predict compose") {
    import org.apache.spark.sql.functions._
    val pg = new ProcessGraph(spark, sfDir)
    val cum = pg.run(
      """{"l": {"process_id": "load_collection", "arguments": {"id": "events"}},
        | "c": {"process_id": "apply_dimension",
        |       "arguments": {"data": {"from_node": "l"},
        |                     "dimension": "t", "process": "cumsum"},
        |       "result": true}}""".stripMargin)
    val base = pg.run(
      """{"l": {"process_id": "load_collection", "arguments": {"id": "events"},
        |       "result": true}}""".stripMargin)
    assert(cum.count() == base.count())
    // cumsum's max per band equals the plain sum per band
    val sums = base.groupBy("band").agg(sum("value").as("s"))
      .join(cum.groupBy("band").agg(max("value").as("m")), Seq("band"))
      .select(abs(col("s") - col("m")).as("d")).collect().map(_.getDouble(0))
    assert(sums.forall(_ < 1e-6))
    val pred = pg.run(
      """{"l": {"process_id": "load_collection", "arguments": {"id": "events"}},
        | "f": {"process_id": "fit_curve",
        |       "arguments": {"data": {"from_node": "l"}, "degree": 2}},
        | "p": {"process_id": "predict_curve",
        |       "arguments": {"data": {"from_node": "l"},
        |                     "parameters": {"from_node": "f"}, "degree": 2},
        |       "result": true}}""".stripMargin)
    assert(pred.count() == base.count())
    assert(pred.filter(col("value").isNull || isnan(col("value"))).count() == 0)
    // run_udf with the sql runtime routes through the whitelisted
    // processing-expression path
    val udf = pg.run(
      """{"l": {"process_id": "load_collection", "arguments": {"id": "events"}},
        | "u": {"process_id": "run_udf",
        |       "arguments": {"data": {"from_node": "l"},
        |                     "udf": "x * 2 + 1", "runtime": "sql"},
        |       "result": true}}""".stripMargin)
    val su = udf.agg(sum("value")).collect()(0).getDouble(0)
    val br = base.agg(sum("value"), count(lit(1))).collect()(0)
    val expected = 2 * br.getDouble(0) + br.getLong(1)
    assert(math.abs(su - expected) < 1e-6, s"$su vs $expected")
    intercept[IllegalArgumentException] {
      pg.run(
        """{"l": {"process_id": "load_collection", "arguments": {"id": "events"}},
          | "u": {"process_id": "run_udf",
          |       "arguments": {"data": {"from_node": "l"},
          |                     "udf": "md5(x)", "runtime": "sql"},
          |       "result": true}}""".stripMargin)
    }
  }

  test("stac catalog: spatial extent prunes tile FILES before the scan") {
    import org.apache.spark.sql.functions._
    import graft.sources.StacCatalog
    val catalog = graft.queries.PipelineQueries.stacSpatialFixture(spark, sfDir)
    val loaded = StacCatalog.loadCollection(spark, catalog,
      spatialExtent = Some(StacCatalog.BBox(10, 2, 40, 9)))
    // extent reaches only the two southern tiles: t01/t11 (y ≥ 32) must
    // not even appear in the scan's file list
    val files = loaded.inputFiles
      .map(_.replaceAll(".*/(t\\d\\d)\\.parquet.*", "$1")).toSet
    assert(files == Set("t00", "t10"), s"expected 2 pruned tiles, got $files")
    // residual row filter: half-open [west,east) × [south,north)
    val r = loaded.agg(min("x"), max("x"), min("y"), max("y")).first()
    assert(r.getLong(0) >= 10 && r.getLong(1) < 40 &&
      r.getLong(2) >= 2 && r.getLong(3) < 9)
    // an item without a bbox cannot be pruned and is conservatively kept
    val noBbox = java.nio.file.Files.readString(
      java.nio.file.Paths.get(catalog)).replaceFirst("\"bbox\": \\[[^]]*],", "")
    val p2 = java.nio.file.Paths.get(Fixtures.dir("stacnb"), "stacnb.json")
    java.nio.file.Files.writeString(p2, noBbox)
    val kept = StacCatalog.selectAssets(p2.toString, None,
      spatialExtent = Some(StacCatalog.BBox(100, 100, 200, 200)))
    assert(kept.size == 1, s"bbox-less item must survive pruning: $kept")
  }

  test("stac catalog: proj extension → CRS-tagged cube; mixed CRS rejected") {
    import graft.sources.StacCatalog
    val catalog = graft.queries.PipelineQueries.stacSpatialFixture(spark, sfDir)

    // all four tiles declare the same proj:epsg/proj:transform → one Crs
    val crs = StacCatalog.catalogCrs(catalog).get
    assert(crs.epsg == 32633)
    assert(crs.a == 10.0 && crs.c == 500000.0 &&
      crs.e == -10.0 && crs.f == 4650000.0)

    // loadCube hands back a cube that can resample_spatial(projection=...)
    // without any manual withCrs — catalog metadata flows through
    val cube = StacCatalog.loadCube(spark, catalog)
    assert(cube.crs.contains(crs))
    val coarse = cube.resampleProjection(
      graft.cube.Crs(32633, a = 20.0, c = 500000.0, e = -20.0, f = 4650000.0))
    assert(coarse.crs.exists(_.a == 20.0))
    assert(coarse.df.count() > 0)

    // one tile on a different EPSG → the selection must refuse to mix
    val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(catalog))
    val mixed = java.nio.file.Paths.get(Fixtures.dir("stacmx"), "stacmx.json")
    java.nio.file.Files.writeString(mixed,
      txt.replaceFirst("\"proj:epsg\": 32633", "\"proj:epsg\": 4326"))
    val e = intercept[IllegalArgumentException] {
      StacCatalog.catalogCrs(mixed.toString)
    }
    assert(e.getMessage.contains("mixed CRS"))
    // ...but pruning down to same-CRS items makes the selection valid again
    assert(StacCatalog.catalogCrs(mixed.toString,
      spatialExtent = Some(StacCatalog.BBox(33, 33, 63, 63))).isDefined)

    // rotation terms are not representable in the axis-aligned Crs
    val rot = java.nio.file.Paths.get(Fixtures.dir("stacrot"), "stacrot.json")
    java.nio.file.Files.writeString(rot, txt.replace(
      "[10.0, 0.0, 500000.0, 0.0, -10.0, 4650000.0]",
      "[10.0, 0.1, 500000.0, 0.0, -10.0, 4650000.0]"))
    val e2 = intercept[IllegalArgumentException] {
      StacCatalog.catalogCrs(rot.toString)
    }
    assert(e2.getMessage.contains("rotated"))
  }

  test("graph resample_cube_spatial/temporal align onto a target cube") {
    val pg = new ProcessGraph(spark, sfDir)
    // spatial: align the full grid onto its own 2×-downscaled twin
    val aligned = pg.run(
      """{"l": {"process_id": "load_collection", "arguments": {"id": "grid"}},
        | "t": {"process_id": "resample_spatial",
        |       "arguments": {"data": {"from_node": "l"}, "resolution": 2}},
        | "r": {"process_id": "resample_cube_spatial",
        |       "arguments": {"data": {"from_node": "l"},
        |                     "target": {"from_node": "t"}},
        |       "result": true}}""".stripMargin)
    val down = pg.run(
      """{"l": {"process_id": "load_collection", "arguments": {"id": "grid"}},
        | "t": {"process_id": "resample_spatial",
        |       "arguments": {"data": {"from_node": "l"}, "resolution": 2},
        |       "result": true}}""".stripMargin)
    assert(aligned.select("x", "y").distinct().count() ==
      down.select("x", "y").distinct().count(),
      "aligned cube must live on the target grid")
    // temporal: events onto the daily-mean cube's timestamps
    val asof = pg.run(
      """{"l": {"process_id": "load_collection", "arguments": {"id": "events"}},
        | "d": {"process_id": "aggregate_temporal_period",
        |       "arguments": {"data": {"from_node": "l"},
        |                     "period": "day", "reducer": "mean"}},
        | "r": {"process_id": "resample_cube_temporal",
        |       "arguments": {"data": {"from_node": "l"},
        |                     "target": {"from_node": "d"}},
        |       "result": true}}""".stripMargin)
    assert(asof.count() > 0)
    assert(asof.filter(col("value").isNull).count() == 0,
      "every target timestamp picks a nearest source value")
  }

  test("graph save_result writes the gridded raster layout") {
    val dir = Fixtures.dir("pg_grid") + "/out"
    new ProcessGraph(spark, sfDir).run(
      s"""{"l": {"process_id": "load_collection", "arguments": {"id": "grid"}},
         | "s": {"process_id": "save_result",
         |       "arguments": {"data": {"from_node": "l"},
         |                     "path": "$dir", "format": "gridded-csv"},
         |       "result": true}}""".stripMargin)
    val wide = Sinks.loadResult(spark, dir, "csv")
    assert(wide.columns.take(2).toSeq == Seq("band", "y"))
    assert(wide.columns.length > 10, s"x columns: ${wide.columns.length}")
  }

  test("graph save_result writes binary rasters (GTiff / netcdf / zarr)") {
    val base = Fixtures.dir("pg_raster")
    def save(fmt: String, dir: String) =
      new ProcessGraph(spark, sfDir).run(
        s"""{"l": {"process_id": "load_collection", "arguments": {"id": "grid"}},
           | "s": {"process_id": "save_result",
           |       "arguments": {"data": {"from_node": "l"},
           |                     "path": "$dir", "format": "$fmt"},
           |       "result": true}}""".stripMargin)
    save("GTiff", s"$base/tif")
    val tifs = graft.sources.Rasters.loadGeoTiff(spark, s"$base/tif")
    assert(tifs.select("slice").distinct().count() > 0)
    assert(tifs.filter(!isnan(col("value"))).count() > 0)
    save("netcdf", s"$base/nc")
    val ncs = graft.sources.Rasters.loadNetcdf(spark, s"$base/nc")
    assert(ncs.count() == tifs.count(),
      "netcdf and GTiff exports cover the identical grid")
    save("zarr", s"$base/zarr")
    val z = graft.sources.Rasters.loadZarr(spark, s"$base/zarr")
    assert(z.count() == tifs.filter(!isnan(col("value"))).count(),
      "zarr rows = the present (non-fill) cells of the raster")
    // and back in through the graph surface: load_raster is a source node
    val viaGraph = new ProcessGraph(spark, sfDir).run(
      s"""{"l": {"process_id": "load_raster",
         |       "arguments": {"path": "$base/zarr", "format": "zarr"},
         |       "result": true}}""".stripMargin)
    assert(viaGraph.count() == z.count())
  }

  test("graph polygon args accept real GeoJSON (Feature/Collection forms)") {
    val pg = new ProcessGraph(spark, sfDir)
    // inline ring vs GeoJSON FeatureCollection of the same diamond — the
    // closed-ring repeat vertex is dropped, results identical
    def clipGraph(geom: String) =
      s"""{"l": {"process_id": "load_collection", "arguments": {"id": "grid"}},
         | "c": {"process_id": "filter_spatial",
         |       "arguments": {"data": {"from_node": "l"},
         |                     "geometries": $geom},
         |       "result": true}}""".stripMargin
    val inline = pg.run(clipGraph("[[32,2],[62,32],[32,62],[2,32]]"))
    val geojson = pg.run(clipGraph(
      """{"type": "FeatureCollection", "features": [
        |  {"type": "Feature", "properties": {"name": "diamond"},
        |   "geometry": {"type": "Polygon", "coordinates":
        |     [[[32,2],[62,32],[32,62],[2,32],[32,2]]]}}]}""".stripMargin))
    assert(inline.exceptAll(geojson).isEmpty &&
      geojson.exceptAll(inline).isEmpty,
      "GeoJSON polygon must clip identically to the inline ring")
    // zonal stats over a FeatureCollection with named features
    val zonal = pg.run(
      """{"l": {"process_id": "load_collection", "arguments": {"id": "grid"}},
        | "z": {"process_id": "aggregate_spatial",
        |       "arguments": {"data": {"from_node": "l"},
        |         "reducer": "mean",
        |         "geometries": {"type": "FeatureCollection", "features": [
        |           {"type": "Feature", "properties": {"name": "west"},
        |            "geometry": {"type": "Polygon", "coordinates":
        |              [[[0,0],[31,0],[31,63],[0,63],[0,0]]]}}]}},
        |       "result": true}}""".stripMargin)
    assert(zonal.select("zone_id").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("west"))
  }

  test("graph filter_labels predicate and aggregate_temporal intervals") {
    val pg = new ProcessGraph(spark, sfDir)
    val filtered = pg.run(
      """{"l": {"process_id": "load_collection", "arguments": {"id": "events"}},
        | "f": {"process_id": "filter_labels",
        |       "arguments": {"data": {"from_node": "l"},
        |                     "dimension": "band",
        |                     "condition": "x = 'click'"},
        |       "result": true}}""".stripMargin)
    assert(filtered.select("band").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("click"))
    // the predicate whitelist still blocks non-whitelisted functions
    intercept[IllegalArgumentException] {
      pg.run(
        """{"l": {"process_id": "load_collection", "arguments": {"id": "events"}},
          | "f": {"process_id": "filter_labels",
          |       "arguments": {"data": {"from_node": "l"},
          |                     "dimension": "band",
          |                     "condition": "java_method('x','y') = 'z'"},
          |       "result": true}}""".stripMargin)
    }
    val agg = pg.run(
      """{"l": {"process_id": "load_collection", "arguments": {"id": "events"}},
        | "a": {"process_id": "aggregate_temporal",
        |       "arguments": {"data": {"from_node": "l"},
        |         "intervals": [["2024-01-01", "2024-01-10", "w1"],
        |                       ["2024-01-05", "2024-01-20", "w2"]],
        |         "reducer": "mean"},
        |       "result": true}}""".stripMargin)
    assert(agg.count() > 0 && agg.count() <= 2 * 5,
      s"expected per-(interval, band) rows, got ${agg.count()}")
    // trim + interpolate round out the node set: both run and preserve
    // row counts (interpolation fills, never drops)
    val interp = pg.run(
      """{"l": {"process_id": "load_collection", "arguments": {"id": "grid"}},
        | "t": {"process_id": "trim_cube",
        |       "arguments": {"data": {"from_node": "l"}},
        |       "result": true}}""".stripMargin)
    assert(interp.count() > 0)
    val base = pg.run(
      """{"l": {"process_id": "load_collection", "arguments": {"id": "events"},
        |       "result": true}}""".stripMargin)
    val filled = pg.run(
      """{"l": {"process_id": "load_collection", "arguments": {"id": "events"}},
        | "i": {"process_id": "array_interpolate_linear",
        |       "arguments": {"data": {"from_node": "l"}},
        |       "result": true}}""".stripMargin)
    assert(filled.count() == base.count())
  }

  test("graph expression callbacks stay inside the whitelist") {
    // resolver/apply expressions route through ProcessExpression: a
    // non-whitelisted function must be rejected at plan time
    val pg = new graft.plans.ProcessGraph(spark, sfDir)
    val bad = intercept[IllegalArgumentException] {
      pg.run(
        """{"l": {"process_id": "load_collection", "arguments": {"id": "grid"}},
          | "a": {"process_id": "apply",
          |       "arguments": {"data": {"from_node": "l"},
          |                     "process": "reflect('java.lang.System','exit',0)"},
          |       "result": true}}""".stripMargin)
    }
    assert(bad.getMessage.contains("non-whitelisted"))
    val badRef = intercept[IllegalArgumentException] {
      pg.run(
        """{"l": {"process_id": "load_collection", "arguments": {"id": "grid"}},
          | "m": {"process_id": "merge_cubes",
          |       "arguments": {"cube1": {"from_node": "l"},
          |                     "cube2": {"from_node": "l"},
          |                     "overlap_resolver": "x + z"},
          |       "result": true}}""".stripMargin)
    }
    assert(badRef.getMessage.contains("may only reference"))
  }

  test("stac catalog: extent prunes asset FILES, not just rows") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Paths.get(Fixtures.dir("stacspec"))
    val ev = graft.core.Tables.events(spark, sfDir)
      .select("event_id", "ts", "value")
    val weeks = Seq(("w1", "2024-01-01", "2024-01-08", 10),
      ("w2", "2024-01-08", "2024-01-15", 80),
      ("w3", "2024-01-15", "2024-01-22", 30),
      ("w4", "2024-01-22", "2024-02-01", 5))
    val items = weeks.map { case (id, from, to, cc) =>
      val href = s"$dir/$id.parquet"
      ev.filter(col("ts") >= lit(from).cast("timestamp") &&
        col("ts") < lit(to).cast("timestamp"))
        .coalesce(1).write.mode("overwrite").parquet(href)
      s"""{"type": "Feature", "id": "$id",
         |  "properties": {"start_datetime": "$from", "end_datetime": "$to",
         |                 "eo:cloud_cover": $cc},
         |  "assets": {"data": {"href": "$href"}}}""".stripMargin
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/catalog.json"),
      items.mkString("{\"type\": \"FeatureCollection\", \"features\": [",
        ",\n", "]}"))
    val loaded = graft.sources.StacCatalog.loadCollection(spark,
      s"$dir/catalog.json", Some(("2024-01-05", "2024-01-18")))
    // only w1..w3 overlap: w4's file must not even appear in the scan
    val files = loaded.inputFiles.map(_.replaceAll(".*/(w\\d)\\.parquet.*", "$1")).toSet
    assert(files == Set("w1", "w2", "w3"), s"expected 3 pruned assets, got $files")
    // property filters compound with the extent
    import graft.sources.StacCatalog.PropertyFilter
    val lowCloud = graft.sources.StacCatalog.selectAssets(
      s"$dir/catalog.json", Some(("2024-01-05", "2024-01-18")),
      Seq(PropertyFilter("eo:cloud_cover", "lt", 50)))
      .map(_.replaceAll(".*/(w\\d)\\.parquet.*", "$1")).toSet
    assert(lowCloud == Set("w1", "w3"), s"got $lowCloud")
    // items missing a filtered property are excluded (STAC convention)
    val noProp = graft.sources.StacCatalog.selectAssets(
      s"$dir/catalog.json", None, Seq(PropertyFilter("nope", "lt", 1)))
    assert(noProp.isEmpty)
    val n = loaded.count()
    val expected = graft.core.Tables.events(spark, sfDir)
      .filter(col("ts") >= lit("2024-01-05").cast("timestamp") &&
        col("ts") < lit("2024-01-18").cast("timestamp")).count()
    assert(n == expected, s"row parity: $n vs $expected")
  }

  test("curation graph: JSON pipeline equals the direct operator chain") {
    val g = graft.SparkEntry.queries("pipeline_curate_graph")(spark, sfDir)
    val direct = graft.SparkEntry.queries("pipeline_curate")(spark, sfDir)
    assert(g.exceptAll(direct).isEmpty && direct.exceptAll(g).isEmpty,
      "graph-declared curation diverges from the coded chain")
    assert(g.count() > 0)
    // the sample/mix/gopher nodes apply the exact library predicates
    def run(j: String) = new graft.plans.ProcessGraph(spark, sfDir).run(j)
    val docs = graft.core.Tables.documents(spark, sfDir)
    val sampled = run(
      """{"s": {"process_id": "load_documents", "arguments": {}},
        | "p": {"process_id": "sample_documents",
        |       "arguments": {"data": {"from_node": "s"}, "rate": 0.5},
        |       "result": true}}""".stripMargin).count()
    val directSample = docs.filter(
      graft.functions.TextFunctions.hashSampleKeep(col("doc_id"), 0.5)).count()
    assert(sampled == directSample && sampled > 0)
    val mixed = run(
      """{"s": {"process_id": "load_documents", "arguments": {}},
        | "m": {"process_id": "mix_to_budget",
        |       "arguments": {"data": {"from_node": "s"},
        |                     "weights": {"src0": 0.5},
        |                     "default_weight": 0.1, "budget": 4000},
        |       "result": true}}""".stripMargin)
    assert(mixed.columns.toSeq ==
      Seq("doc_id", "source", "lang", "text"),
      "mix node must keep the doc table (incl. the lang label column)")
    assert(mixed.count() > 0 && mixed.count() < docs.count())
    // unknown curation argument types fail loudly, not silently
    val ex = intercept[IllegalArgumentException] {
      new graft.plans.ProcessGraph(spark, sfDir).run(
        """{"p": {"process_id": "pack_sequences",
          |       "arguments": {"data": {"from_node": "p2"}},
          |       "result": true},
          | "p2": {"process_id": "load_collection",
          |        "arguments": {"id": "grid"}}}""".stripMargin)
    }
    assert(ex.getMessage.contains("document table"))
  }

  test("morton key interleaves bits (hand-checked values)") {
    import spark.implicits._
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (255L, 255L))
      .toDF("a", "b")
      .select(Sinks.morton(col("a"), col("b")).as("z")).as[Long].collect()
    // a bits land in odd positions, b bits in even: (3,5) =
    // a=011, b=101 → z = b0·1 + a0·2 + b1·0 + a1·8 + b2·16 = 27
    assert(rows.toSeq == Seq(0L, 2L, 1L, 27L, 65535L), rows.toSeq)
  }

  test("z-order layout prunes 2-D range scans where a linear sort cannot") {
    import spark.implicits._
    // a 256×256 grid, 16 files each way; footer min/max per file decides
    // which files a range predicate can skip — the same statistics-based
    // file pruning the scan planner applies on a lake
    val grid = (0 until 256).flatMap(x => (0 until 256).map(y => (x, y)))
      .toDF("x", "y")
    val base = Fixtures.dir("zorder")
    // AQE may coalesce the range exchange into fewer, wider files when a
    // sibling suite has tuned the shared session — pin it off so the
    // 16-file layout comparison is the one the Scaladoc describes
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Sinks.saveZOrdered(grid, s"$base/zorder", "x", "y", files = 16)
      grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
        .write.mode("overwrite").parquet(s"$base/linear")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    def touched(dir: String, pred: (Long, Long, Long, Long) => Boolean): Int =
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).count { f =>
          val r = spark.read.parquet(f.getAbsolutePath)
            .agg(min("x"), max("x"), min("y"), max("y")).head()
          pred(r.getAs[Int](0).toLong, r.getAs[Int](1).toLong,
            r.getAs[Int](2).toLong, r.getAs[Int](3).toLong)
        }
    // y-band query (no x constraint): the x-sorted layout keeps the full
    // y domain in every file — zero pruning; the morton layout tiles the
    // plane, so only the band's tile rows can match
    def yBand(xlo: Long, xhi: Long, ylo: Long, yhi: Long): Boolean =
      ylo < 96 && yhi >= 64
    def nFiles(dir: String): Int = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val zy = touched(s"$base/zorder", yBand)
    val ly = touched(s"$base/linear", yBand)
    assert(ly == nFiles(s"$base/linear"),
      s"x-sorted layout must not prune a y-band: $ly")
    // the band covers one tile row = 4 of 16 tiles; sampled range
    // boundaries can straddle every tile border (Delta's OPTIMIZE samples
    // the same way), so the worst case doubles that — still half the
    // files a linear sort cannot skip at all, and the straddle overhead
    // vanishes once real tables have many files per tile
    assert(zy <= nFiles(s"$base/zorder") / 2 && zy < ly,
      s"z-order must prune most files on a y-band: " +
        s"$zy of ${nFiles(s"$base/zorder")} (linear touched $ly)")
    // 2-D bbox: z-order stays competitive with the linear layout's
    // leading-column pruning
    def bbox(xlo: Long, xhi: Long, ylo: Long, yhi: Long): Boolean =
      xlo < 96 && xhi >= 64 && ylo < 96 && yhi >= 64
    val zb = touched(s"$base/zorder", bbox)
    val lb = touched(s"$base/linear", bbox)
    assert(zb <= lb + 1, s"bbox: z-order $zb vs linear $lb")
    // and the layout loses no rows
    assert(spark.read.parquet(s"$base/zorder").count() == 256L * 256)
  }
}
