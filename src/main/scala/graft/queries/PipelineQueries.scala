package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Exact, Fixtures, Tables}
import graft.multimodal.Multimodal
import graft.plans.ProcessGraph
import graft.sources.StacCatalog

/** Multimodal binary pipeline (§2D12) and process-graph executor (§2C16)
  * queries. Both fully oracle-gated: the media payloads are ASCII text
  * bytes, so DuckDB can reproduce the stub decode with ord(); the process
  * graph lowers to plain relational algebra.
  */
object PipelineQueries {

  /** D17 with a REAL encoder (the reference's make_embeddings workflow,
    * examples/make_embeddings.py, on binary columns): media → histogram
    * features → an actual `graft-mlp` network (16 → 8 relu → 4 identity)
    * fetched and EXECUTED through load_stac_ml, so the embeddings feeding
    * the ANN/dedup operators come from real weights, not the stub. The
    * weight doubles are shared with the oracle generator below — the
    * neuron-for-neuron playbook of MlQueries.ml_predict_mlp. */
  val encW1: IndexedSeq[IndexedSeq[Double]] = (0 until 8).map(j =>
    (0 until 16).map(i => ((i * 11 + j * 7) % 19 - 9) / 18.0))
  val encB1: IndexedSeq[Double] = (0 until 8).map(j => (j - 3) / 9.0)
  val encW2: IndexedSeq[IndexedSeq[Double]] = (0 until 4).map(k =>
    (0 until 8).map(j => ((j * 3 + k * 5) % 11 - 5) / 10.0))
  val encB2: IndexedSeq[Double] = (0 until 4).map(k => (k - 1) / 7.0)

  lazy val encItemPath: String = {
    val dir = java.nio.file.Paths.get(Fixtures.dir("mlp_enc"))
    def mat(m: IndexedSeq[IndexedSeq[Double]]): String =
      m.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
    val weights =
      s"""{"layers": [
         |  {"w": ${mat(encW1)}, "b": ${encB1.mkString("[", ", ", "]")},
         |   "activation": "relu"},
         |  {"w": ${mat(encW2)}, "b": ${encB2.mkString("[", ", ", "]")},
         |   "activation": "identity"}
         |]}""".stripMargin
    java.nio.file.Files.write(dir.resolve("weights.json"),
      weights.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val item =
      s"""{
         |  "stac_version": "1.0.0",
         |  "stac_extensions": [
         |    "https://stac-extensions.github.io/mlm/v1.4.0/schema.json"],
         |  "type": "Feature",
         |  "id": "graft-media-encoder",
         |  "properties": {
         |    "mlm:name": "graft-media-encoder",
         |    "mlm:framework": "graft-mlp",
         |    "mlm:batch_size_suggestion": 64,
         |    "mlm:input": [{
         |      "name": "histogram features",
         |      "bands": ${(0 until 16).map(i => s""""b$i"""").mkString("[", ", ", "]")},
         |      "input": {"shape": [-1, 16],
         |                "dim_order": ["batch", "embedding"],
         |                "data_type": "float32"}}],
         |    "mlm:output": [{
         |      "name": "media embedding",
         |      "result": {"shape": [-1, 4],
         |                 "dim_order": ["batch", "embedding"],
         |                 "data_type": "float32"}}]
         |  },
         |  "assets": {"weights": {
         |    "href": "weights.json",
         |    "roles": ["mlm:model", "mlm:weights"],
         |    "mlm:artifact_type": "graft-mlp-json"}}
         |}""".stripMargin
    val p = dir.resolve("item.json")
    java.nio.file.Files.write(p,
      item.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    p.toString
  }

  /** The flagship demo graph: load → band filter → temporal filter →
    * apply(sqrt) → daily mean. Collapses to one Catalyst plan whose scan
    * carries the temporal + band predicates. */
  val demoGraph: String =
    """{
      |  "process_graph": {
      |    "load": {"process_id": "load_collection",
      |             "arguments": {"id": "events",
      |                           "temporal_extent": ["2024-01-05", "2024-01-25"],
      |                           "bands": ["click", "view"]}},
      |    "root": {"process_id": "apply",
      |             "arguments": {"data": {"from_node": "load"},
      |                           "process": "sqrt"}},
      |    "agg":  {"process_id": "aggregate_temporal_period",
      |             "arguments": {"data": {"from_node": "root"},
      |                           "period": "day", "reducer": "mean"}},
      |    "save": {"process_id": "save_result",
      |             "arguments": {"data": {"from_node": "agg"}},
      |             "result": true}
      |  }
      |}""".stripMargin

  /** Spatial pipeline over the widened graph vocabulary: grid collection →
    * polygon clip → 2× downscale → polygon zonal stats. */
  private val spatialGraph =
    """{
      |  "process_graph": {
      |    "load": {"process_id": "load_collection",
      |             "arguments": {"id": "grid"}},
      |    "clip": {"process_id": "filter_spatial",
      |             "arguments": {"data": {"from_node": "load"},
      |               "geometries": [[32,2],[62,32],[32,62],[2,32]]}},
      |    "down": {"process_id": "resample_spatial",
      |             "arguments": {"data": {"from_node": "clip"},
      |               "resolution": 2, "method": "mean"}},
      |    "zonal": {"process_id": "aggregate_spatial",
      |              "arguments": {"data": {"from_node": "down"},
      |                "reducer": "mean",
      |                "geometries": {
      |                  "west": [[0,0],[16,0],[16,31],[0,31]],
      |                  "east": [[16,0],[31,0],[31,31],[16,31]]}},
      |              "result": true}
      |  }
      |}""".stripMargin

  /** Composed dimension-management + order-statistic graph: the vocabulary
    * the round-3 review listed as missing from the executor —
    * apply_polygon, aggregate_spatial_window, add/rename/drop_dimension,
    * rename_labels, and quantile reducers through reduce_dimension. */
  private val dimsGraph =
    """{
      |  "process_graph": {
      |    "load":  {"process_id": "load_collection",
      |              "arguments": {"id": "grid"}},
      |    "roi":   {"process_id": "apply_polygon",
      |              "arguments": {"data": {"from_node": "load"},
      |                "polygons": [[32,2],[62,32],[32,62],[2,32]],
      |                "process": "sqrt"}},
      |    "win":   {"process_id": "aggregate_spatial_window",
      |              "arguments": {"data": {"from_node": "roi"},
      |                "size": [4, 4], "reducer": "mean"}},
      |    "epoch": {"process_id": "add_dimension",
      |              "arguments": {"data": {"from_node": "win"},
      |                "name": "epoch", "label": "e1"}},
      |    "era":   {"process_id": "rename_dimension",
      |              "arguments": {"data": {"from_node": "epoch"},
      |                "source": "epoch", "target": "era"}},
      |    "bands": {"process_id": "rename_labels",
      |              "arguments": {"data": {"from_node": "era"},
      |                "dimension": "band",
      |                "source": ["A", "N", "R"],
      |                "target": ["ret_a", "ret_n", "ret_r"]}},
      |    "slim":  {"process_id": "drop_dimension",
      |              "arguments": {"data": {"from_node": "bands"},
      |                "name": "era"}},
      |    "q":     {"process_id": "reduce_dimension",
      |              "arguments": {"data": {"from_node": "slim"},
      |                "dimension": "y", "reducer": "quantile:0.25"}},
      |    "med":   {"process_id": "reduce_dimension",
      |              "arguments": {"data": {"from_node": "q"},
      |                "dimension": "x", "reducer": "quantile:0.5"}},
      |    "save":  {"process_id": "save_result",
      |              "arguments": {"data": {"from_node": "med"}},
      |              "result": true}
      |  }
      |}""".stripMargin

  /** Build (once per sfDir) a 4-week asset-slice fixture + ItemCollection
    * JSON for the `stac_load` query, returning the catalog path. */
  def stacFixture(s: SparkSession, d: String): String =
    Fixtures.once(s"stac:$d") {
      val dir = Fixtures.dir("stac")
      val ev = Tables.events(s, d)
        .select("event_id", "ts", "event_type", "value")
      val weeks = Seq(
        ("w1", "2024-01-01", "2024-01-08"),
        ("w2", "2024-01-08", "2024-01-15"),
        ("w3", "2024-01-15", "2024-01-22"),
        ("w4", "2024-01-22", "2024-02-01"))
      val items = weeks.map { case (id, from, to) =>
        val href = s"$dir/$id.parquet"
        ev.filter(col("ts") >= lit(from).cast("timestamp") &&
          col("ts") < lit(to).cast("timestamp"))
          .write.mode("overwrite").parquet(href)
        s"""{"type": "Feature", "id": "$id",
           |  "properties": {"start_datetime": "$from", "end_datetime": "$to"},
           |  "assets": {"data": {"href": "$href"}}}""".stripMargin
      }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/catalog.json"),
        items.mkString("{\"type\": \"FeatureCollection\", \"features\": [",
          ",\n", "]}"))
      s"$dir/catalog.json"
    }

  /** Build (once per sfDir) a spatially-tiled STAC fixture: the 64×64 grid
    * cube split into four 32×32 tile assets, each item carrying its
    * (inclusive) `bbox` — the layout a tiled raster catalog has, so bbox
    * item pruning is observable at the file level. */
  def stacSpatialFixture(s: SparkSession, d: String): String =
    Fixtures.once(s"stac_bbox:$d") {
      val dir = Fixtures.dir("stac_sp")
      import graft.core.Exact
      val cube = Tables.lineitem(s, d)
        .select(pmod(col("l_partkey"), lit(64)).as("x"),
          pmod(col("l_suppkey"), lit(64)).as("y"),
          col("l_returnflag").as("band"), col("l_quantity"))
        .groupBy("x", "y", "band")
        .agg(Exact.rnd4(Exact.esum(col("l_quantity"))).as("value"))
      val tiles = Seq(("t00", 0, 0), ("t10", 32, 0), ("t01", 0, 32),
        ("t11", 32, 32))
      val items = tiles.map { case (id, x0, y0) =>
        val href = s"$dir/$id.parquet"
        cube.filter(col("x") >= x0 && col("x") < x0 + 32 &&
          col("y") >= y0 && col("y") < y0 + 32)
          .write.mode("overwrite").parquet(href)
        s"""{"type": "Feature", "id": "$id",
           |  "bbox": [$x0, $y0, ${x0 + 31}, ${y0 + 31}],
           |  "properties": {"datetime": "2024-01-01",
           |    "proj:epsg": 32633,
           |    "proj:transform": [10.0, 0.0, 500000.0, 0.0, -10.0, 4650000.0]},
           |  "assets": {"data": {"href": "$href"}}}""".stripMargin
      }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/catalog.json"),
        items.mkString("{\"type\": \"FeatureCollection\", \"features\": [",
          ",\n", "]}"))
      s"$dir/catalog.json"
    }

  /** Graph exercising the safe child-graph callbacks: spatial_extent at
    * load, two expression `apply` nodes, an expression overlap resolver,
    * then a spatial reduce. */
  private val exprGraph =
    """{
      |  "process_graph": {
      |    "load": {"process_id": "load_collection",
      |             "arguments": {"id": "grid",
      |               "spatial_extent": {"west": 0, "east": 32,
      |                                  "south": 0, "north": 32}}},
      |    "a": {"process_id": "apply",
      |          "arguments": {"data": {"from_node": "load"},
      |                        "process": "x / 2 + 1"}},
      |    "b": {"process_id": "apply",
      |          "arguments": {"data": {"from_node": "load"},
      |                        "process": "sqrt(abs(x))"}},
      |    "m": {"process_id": "merge_cubes",
      |          "arguments": {"cube1": {"from_node": "a"},
      |                        "cube2": {"from_node": "b"},
      |                        "overlap_resolver": "greatest(x, y)"}},
      |    "red": {"process_id": "reduce_spatial",
      |            "arguments": {"data": {"from_node": "m"},
      |                          "reducer": "mean"},
      |            "result": true}
      |  }
      |}""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // C14b spatial: bbox item pruning (driver-side, file-level) + residual
    // half-open x/y row filter — the spatial twin of stac_load.
    "stac_load_bbox" -> { (s, d) =>
      val catalog = stacSpatialFixture(s, d)
      StacCatalog.loadCollection(s, catalog,
        spatialExtent = Some(StacCatalog.BBox(10, 2, 40, 9)))
        .select(col("x"), col("y"), col("band"), col("value"))
    },

    // C15d through the GATE (not just specs): an events-derived 5-band
    // grid is written to all three binary raster containers and read back
    // through the independent distributed loaders; the oracle computes
    // the same grid straight from events (× the three format tags), so a
    // hash match proves every format round-trips every cell bit-exactly
    // AT THE DRIVER'S SCALE FACTOR — the grid aggregates the full events
    // table, and zarr writes chunk-parallel (32×32 chunks, 16 chunk files
    // per band slice). Holes (grid cells no event hashes to) are NaN in
    // the rasters and absent from both sides of the compare.
    "raster_roundtrip" -> { (s, d) =>
      import graft.sources.Rasters
      val grid = Tables.events(s, d)
        .groupBy(col("event_type").as("band"),
          expr("event_id % 128").as("y"),
          expr("(event_id div 128) % 128").as("x"))
        .agg(Exact.rnd4(Exact.esum(col("value"))).as("value"))
      val cube = graft.cube.DataCube(grid)
      val base = Fixtures.dir("raster_rt")
      Rasters.saveGeoTiff(cube, s"$base/tif")
      Rasters.saveNetcdf(cube, s"$base/nc")
      Rasters.saveZarr(cube, s"$base/zarr", chunkY = 32, chunkX = 32)
      val band = regexp_replace(col("slice"), "band-", "").as("band")
      // default CRS has e > 0 (no north-up flip) and the axis labels are
      // dense 0-based, so loader row/col indices ARE the y/x labels
      val tif = Rasters.loadGeoTiff(s, s"$base/tif")
        .filter(!isnan(col("value")))
        .select(lit("gtiff").as("fmt"), band,
          col("row").cast("long").as("y"),
          col("colx").cast("long").as("x"), col("value"))
      val nc = Rasters.loadNetcdf(s, s"$base/nc")
        .filter(!isnan(col("value")))
        .select(lit("netcdf").as("fmt"), band,
          col("y").cast("long").as("y"),
          col("x").cast("long").as("x"), col("value"))
      val zr = Rasters.loadZarr(s, s"$base/zarr")
        .select(lit("zarr").as("fmt"), band,
          col("row").cast("long").as("y"),
          col("colx").cast("long").as("x"), col("value"))
      tif.unionByName(nc).unionByName(zr)
    },

    // C16 + child-graph callbacks: expression apply nodes and an
    // expression overlap resolver, all through the parse-tree whitelist.
    "process_graph_expr" -> { (s, d) =>
      new ProcessGraph(s, d).run(exprGraph)
        .select(col("band"), Exact.rnd4(col("value")).as("value"))
    },

    "multimodal_pipeline" -> { (s, d) =>
      val media = Multimodal.mediaFromDocuments(Tables.documents(s, d))
      Multimodal.extractFeatures(media, batchSize = 64)
        .toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"), col("fp"),
          Exact.rnd4(col("mean_intensity")).as("mean_intensity"))
    },

    // frame sampling end-to-end: video payloads → every 2nd 64-byte frame
    // → per-frame mean intensity (the shape a frame-level encoder consumes)
    "multimodal_frames" -> { (s, d) =>
      val media = Multimodal.mediaFromDocuments(Tables.documents(s, d))
        .filter(col("kind") === "video")
      val frames = Multimodal.frameSample(media, frameLen = 64, every = 2)
      val txt = decode(col("frame"), "utf-8")
      val codes = transform(sequence(lit(1), length(txt)),
        i => ascii(txt.substr(i, lit(1))))
      frames.select(col("media_id"), col("frame_idx"),
        length(txt).as("n"),
        Exact.rnd4(aggregate(codes, lit(0L), (acc, c) => acc + c)
          .cast("double") / length(txt)).as("mean_i"))
    },

    // media → embedding: the column contract that feeds the ANN/dedup
    // operators, as one declarative pipeline stage. The embedding array is
    // exploded to (pos, value) rows in the OUTPUT only — the driver's
    // pandas sorter cannot order raw array columns; downstream operators
    // consume the packed array form.
    "multimodal_embed" -> { (s, d) =>
      val media = Multimodal.mediaFromDocuments(Tables.documents(s, d))
      media.select(col("media_id"),
        posexplode(Multimodal.embedStub(decode(col("payload"), "utf-8"))))
        .select(col("media_id"), col("pos").cast("int").as("pos"),
          Exact.rnd4(col("col")).as("value"))
    },

    // D71: media dedup — exact (content md5) + perceptual (per-bin
    // 32-level quantization of the histogram features as the LSH key:
    // near-identical media land in the same cell). Same-key buckets
    // (≤64 cap, the D20 aggregate-count guard) explode to pairs verified
    // by L1 histogram distance ≤ 0.01 — candidates O(matches), never
    // O(corpus²); the decode/feature stage is the same seam a real
    // perceptual hash (pHash/blockhash) fills.
    "multimodal_dedup" -> { (s, d) =>
      val media = Multimodal.mediaFromDocuments(Tables.documents(s, d))
      val h = Multimodal.embedStub(decode(col("payload"), "utf-8"))
      val qkey = concat_ws(",",
        transform(col("h"), v => floor(v * 32).cast("int").cast("string")))
      val base = media.select(col("media_id"),
          md5(col("payload")).as("chash"), h.as("h"))
        .withColumn("qk", qkey)
      val sizes = base.groupBy("qk").agg(count(lit(1)).as("n"))
        .filter(col("n") <= 64).select("qk")
      val capped = base.join(broadcast(sizes), Seq("qk"))
      val a = capped.select(col("qk"), col("media_id").as("media_a"),
        col("chash").as("ch_a"), col("h").as("h_a"))
      val b = capped.select(col("qk"), col("media_id").as("media_b"),
        col("chash").as("ch_b"), col("h").as("h_b"))
      val l1 = aggregate(zip_with(col("h_a"), col("h_b"),
        (x, y) => abs(x - y)), lit(0.0), (acc, v) => acc + v)
      a.join(b, Seq("qk")).filter(col("media_a") < col("media_b"))
        .withColumn("l1r", l1).filter(col("l1r") <= 0.01)
        .select(col("media_a"), col("media_b"),
          (col("ch_a") === col("ch_b")).as("exact_dup"),
          Exact.rnd4(col("l1r")).as("l1"))
    },

    // D17 with real weights: the same histogram features routed through
    // the graft-mlp encoder asset (load_stac_ml → batched MlpSession
    // matmuls) — media → embedding with an ACTUAL model deciding the
    // output, the make_embeddings workflow end-to-end on binary columns.
    "multimodal_embed_mlp" -> { (s, d) =>
      val media = Multimodal.mediaFromDocuments(Tables.documents(s, d))
      val feats = media.select(col("media_id"),
        Multimodal.embedStub(decode(col("payload"), "utf-8")).as("_feat"))
      graft.ml.MlProcesses.loadStacMl(encItemPath)
        .predict(feats, idCol = "media_id", featuresCol = "_feat")
        .select(col("media_id"), posexplode(col("embedding")))
        .select(col("media_id"), col("pos").cast("int").as("pos"),
          Exact.rnd4(col("col").cast("double")).as("value"))
    },

    "process_graph" -> { (s, d) =>
      new ProcessGraph(s, d).run(demoGraph)
        .select(to_date(col("time")).as("day"), col("band"),
          Exact.rnd4(col("value")).as("value"))
    },

    // The curation pipeline (D26) declared as a JSON process graph: the
    // same chain pipeline_curate builds in code — language filter →
    // quality filter → first-wins near-dedup → sequence packing — runs
    // through the graph vocabulary and must land on the identical rows,
    // so it shares pipeline_curate's oracle verbatim.
    "pipeline_curate_graph" -> { (s, d) =>
      new ProcessGraph(s, d).run(
        """{
          |  "src":   {"process_id": "load_documents", "arguments": {}},
          |  "lang":  {"process_id": "filter_language",
          |            "arguments": {"data": {"from_node": "src"},
          |                          "language": "en"}},
          |  "qual":  {"process_id": "filter_quality",
          |            "arguments": {"data": {"from_node": "lang"},
          |                          "min_score": 0.5}},
          |  "dedup": {"process_id": "near_dedup_first_wins",
          |            "arguments": {"data": {"from_node": "qual"}}},
          |  "pack":  {"process_id": "pack_sequences",
          |            "arguments": {"data": {"from_node": "dedup"},
          |                          "budget": 1024},
          |            "result": true}
          |}""".stripMargin)
    },

    // The RAG retrieval chain (D57) declared as a JSON process graph:
    // chunk → embed → slice-queries → cosine top-k through the graph
    // vocabulary, identical rows to pipeline_rag → shares its oracle.
    "process_graph_rag" -> { (s, d) =>
      new ProcessGraph(s, d).run(
        """{
          |  "src":   {"process_id": "load_documents", "arguments": {}},
          |  "chunk": {"process_id": "chunk_documents",
          |            "arguments": {"data": {"from_node": "src"},
          |                          "width": 32, "overlap": 8}},
          |  "emb":   {"process_id": "embed_chunks",
          |            "arguments": {"data": {"from_node": "chunk"},
          |                          "dims": 16}},
          |  "qs":    {"process_id": "slice_queries",
          |            "arguments": {"data": {"from_node": "src"},
          |                          "count": 3, "offset": 8,
          |                          "length": 24, "dims": 16}},
          |  "hits":  {"process_id": "similarity_search",
          |            "arguments": {"data": {"from_node": "emb"},
          |                          "queries": {"from_node": "qs"},
          |                          "k": 5},
          |            "result": true}
          |}""".stripMargin)
    },

    // Model TRAINING as a graph node (D58): load → ridge-fit + score in
    // one declared chain; identical rows to text_quality_fit → shares its
    // hash oracle, so a graph-declared FIT is verified end-to-end too.
    "process_graph_probe" -> { (s, d) =>
      new ProcessGraph(s, d).run(
        """{
          |  "src":   {"process_id": "load_documents", "arguments": {}},
          |  "probe": {"process_id": "fit_quality_probe",
          |            "arguments": {"data": {"from_node": "src"}},
          |            "result": true}
          |}""".stripMargin)
    },

    // NB routing + evaluation as a TWO-model-node graph (A20 → A21):
    // classify then kappa-report the predictions — identical rows to
    // ml_eval_kappa → shares its hash oracle.
    "process_graph_nb" -> { (s, d) =>
      new ProcessGraph(s, d).run(
        """{
          |  "src":   {"process_id": "load_documents", "arguments": {}},
          |  "route": {"process_id": "classify_nb",
          |            "arguments": {"data": {"from_node": "src"}}},
          |  "eval":  {"process_id": "evaluate_kappa",
          |            "arguments": {"data": {"from_node": "route"}},
          |            "result": true}
          |}""".stripMargin)
    },

    // Coverage selection as a graph chain (D75): k-center cover declared
    // over the embedding node — identical rows to embed_kcenter → shares
    // its hash oracle.
    "process_graph_kcenter" -> { (s, d) =>
      new ProcessGraph(s, d).run(
        """{
          |  "emb": {"process_id": "load_embeddings", "arguments": {}},
          |  "cov": {"process_id": "kcenter_cover",
          |          "arguments": {"data": {"from_node": "emb"}, "k": 8},
          |          "result": true}
          |}""".stripMargin)
    },

    // Forest TRAINING as a graph node (A14): load → bootstrap-fit 4 CARTs
    // + vote in one declared chain; identical rows to ml_forest_fit →
    // shares its hash oracle.
    "process_graph_forest" -> { (s, d) =>
      new ProcessGraph(s, d).run(
        """{
          |  "src":    {"process_id": "load_documents", "arguments": {}},
          |  "forest": {"process_id": "fit_forest",
          |             "arguments": {"data": {"from_node": "src"}},
          |             "result": true}
          |}""".stripMargin)
    },

    // The reference's pickled-sklearn predict as ONE declared graph
    // (A29 twin): ml_predict takes the STAC-MLM item URI, whose mlm:model
    // asset (a graft-sk-forest JSON) is fetched through load_stac_ml's
    // item→asset href resolution — the exact asset path the reference
    // runs for its pickle (load_model.py:21 + scikit_learn_model.py:53).
    // Identical rows to ml_sklearn_predict → shares its hash oracle.
    "process_graph_sklearn" -> { (s, d) =>
      new ProcessGraph(s, d).run(
        s"""{
          |  "src":  {"process_id": "load_documents", "arguments": {}},
          |  "pred": {"process_id": "ml_predict",
          |           "arguments": {"data": {"from_node": "src"},
          |                         "model": "${MlQueries.skItemPath}"},
          |           "result": true}
          |}""".stripMargin)
    },

    // Boosted-tree TRAINING as a graph node (A15) — identical rows to
    // ml_boost_fit → shares its hash oracle.
    "process_graph_boost" -> { (s, d) =>
      new ProcessGraph(s, d).run(
        """{
          |  "src":   {"process_id": "load_documents", "arguments": {}},
          |  "boost": {"process_id": "fit_boost_trees",
          |            "arguments": {"data": {"from_node": "src"}},
          |            "result": true}
          |}""".stripMargin)
    },

    // Embedding-space chains through the graph vocabulary: IVF ANN search
    // and the D61 PCA projection — each shares its direct query's oracle.
    "process_graph_ann" -> { (s, d) =>
      new ProcessGraph(s, d).run(
        """{
          |  "emb":  {"process_id": "load_embeddings", "arguments": {}},
          |  "hits": {"process_id": "ann_search",
          |           "arguments": {"data": {"from_node": "emb"},
          |                         "n_queries": 20, "k": 5,
          |                         "nlist": 16, "n_probe": 4},
          |           "result": true}
          |}""".stripMargin)
    },

    // k-NN graph + MMR re-ranking as graph chains (D83/D81) — each lands
    // on its direct query's rows and shares its hash oracle.
    "process_graph_knn" -> { (s, d) =>
      new ProcessGraph(s, d).run(
        """{
          |  "emb":   {"process_id": "load_embeddings", "arguments": {}},
          |  "graph": {"process_id": "knn_graph",
          |            "arguments": {"data": {"from_node": "emb"},
          |                          "k": 4, "nlist": 128},
          |            "result": true}
          |}""".stripMargin)
    },

    "process_graph_mmr" -> { (s, d) =>
      new ProcessGraph(s, d).run(
        """{
          |  "emb": {"process_id": "load_embeddings", "arguments": {}},
          |  "div": {"process_id": "rerank_mmr",
          |          "arguments": {"data": {"from_node": "emb"},
          |                        "n_queries": 20, "k_cand": 8,
          |                        "k_out": 4, "lambda": 0.75},
          |          "result": true}
          |}""".stripMargin)
    },

    // Ranked retrieval + NDCG evaluation declared as one graph chain —
    // lands on ml_eval_ndcg's rows, shares its oracle.
    "process_graph_ndcg" -> { (s, d) =>
      new ProcessGraph(s, d).run(
        """{
          |  "emb": {"process_id": "load_embeddings", "arguments": {}},
          |  "rk":  {"process_id": "ranked_retrieval",
          |          "arguments": {"data": {"from_node": "emb"},
          |                        "n_queries": 20, "k": 10}},
          |  "m":   {"process_id": "evaluate_ndcg",
          |          "arguments": {"data": {"from_node": "rk"}, "k": 10},
          |          "result": true}
          |}""".stripMargin)
    },

    // BPE training as a declared graph step — shares text_bpe_apply's
    // unrolled oracle (train + tokenize in one node).
    "process_graph_bpe" -> { (s, d) =>
      new ProcessGraph(s, d).run(
        """{
          |  "src": {"process_id": "load_documents", "arguments": {}},
          |  "tok": {"process_id": "tokenize_bpe",
          |          "arguments": {"data": {"from_node": "src"},
          |                        "merges": 8},
          |          "result": true}
          |}""".stripMargin)
    },

    "process_graph_pca" -> { (s, d) =>
      new ProcessGraph(s, d).run(
        """{
          |  "emb": {"process_id": "load_embeddings", "arguments": {}},
          |  "abt": {"process_id": "pca_project",
          |          "arguments": {"data": {"from_node": "emb"},
          |                        "dims": 64, "iterations": 10},
          |          "result": true}
          |}""".stripMargin)
    },

    // PR/AP evaluation as a graph chain (D58 → A28): ridge-fit the probe
    // then report — identical rows to ml_eval_pr → shares its oracle.
    "process_graph_pr" -> { (s, d) =>
      new ProcessGraph(s, d).run(
        """{
          |  "src":   {"process_id": "load_documents", "arguments": {}},
          |  "probe": {"process_id": "fit_quality_probe",
          |            "arguments": {"data": {"from_node": "src"}}},
          |  "pr":    {"process_id": "evaluate_pr",
          |            "arguments": {"data": {"from_node": "probe"}},
          |            "result": true}
          |}""".stripMargin)
    },

    // Dedup evidence + containment as graph chains (D87/D76): corpus →
    // truncated-variant union (the known-answer near-dup generator) →
    // detector node — identical rows to dedup_ensemble /
    // dedup_containment → share their hash oracles.
    "process_graph_ensemble" -> { (s, d) =>
      new ProcessGraph(s, d).run(
        """{
          |  "src":  {"process_id": "load_documents", "arguments": {}},
          |  "near": {"process_id": "with_truncated_variants",
          |           "arguments": {"data": {"from_node": "src"}}},
          |  "ev":   {"process_id": "dedup_evidence",
          |           "arguments": {"data": {"from_node": "near"}},
          |           "result": true}
          |}""".stripMargin)
    },

    "process_graph_containment" -> { (s, d) =>
      new ProcessGraph(s, d).run(
        """{
          |  "src":  {"process_id": "load_documents", "arguments": {}},
          |  "near": {"process_id": "with_truncated_variants",
          |           "arguments": {"data": {"from_node": "src"}}},
          |  "cont": {"process_id": "score_containment",
          |           "arguments": {"data": {"from_node": "near"}},
          |           "result": true}
          |}""".stripMargin)
    },

    // Mixture monitoring/rebalancing as graph chains (D85/D41): the
    // per-source JS drift report and the √n temperature quota sample —
    // identical rows to text_source_drift / text_temperature_mix →
    // share their hash oracles.
    "process_graph_drift" -> { (s, d) =>
      new ProcessGraph(s, d).run(
        """{
          |  "src":   {"process_id": "load_documents", "arguments": {}},
          |  "drift": {"process_id": "source_drift",
          |            "arguments": {"data": {"from_node": "src"}},
          |            "result": true}
          |}""".stripMargin)
    },

    "process_graph_tmix" -> { (s, d) =>
      new ProcessGraph(s, d).run(
        """{
          |  "src": {"process_id": "load_documents", "arguments": {}},
          |  "mix": {"process_id": "temperature_mix",
          |          "arguments": {"data": {"from_node": "src"},
          |                        "budget": 200},
          |          "result": true}
          |}""".stripMargin)
    },

    // D89/D90 as graph chains: a declared BM25 query over the prebuilt
    // at-rest inverted index (the layout is addressed by path, like
    // load_raster), and the sharding manifest of the loaded corpus —
    // identical rows to search_index_probe / corpus_shards → share their
    // hash oracles.
    "process_graph_index" -> { (s, d) =>
      new ProcessGraph(s, d).run(
        s"""{
          |  "q": {"process_id": "search_index",
          |        "arguments": {"path": "${SimQueries.invIndex(s, d)}",
          |                      "terms": ["hash", "merge", "window"],
          |                      "top_n": 20},
          |        "result": true}
          |}""".stripMargin)
    },

    "process_graph_shards" -> { (s, d) =>
      new ProcessGraph(s, d).run(
        """{
          |  "src": {"process_id": "load_documents", "arguments": {}},
          |  "man": {"process_id": "shard_manifest",
          |          "arguments": {"data": {"from_node": "src"},
          |                        "n_shards": 8, "seed": "s42"},
          |          "result": true}
          |}""".stripMargin)
    },

    // The full curate→export story as one declared graph: the
    // pipeline_curate chain (language + quality + first-wins dedup)
    // ending in the D90 sharding manifest — identical rows to
    // pipeline_export → shares its oracle.
    "process_graph_export" -> { (s, d) =>
      new ProcessGraph(s, d).run(
        """{
          |  "src":   {"process_id": "load_documents", "arguments": {}},
          |  "lang":  {"process_id": "filter_language",
          |            "arguments": {"data": {"from_node": "src"},
          |                          "language": "en"}},
          |  "qual":  {"process_id": "filter_quality",
          |            "arguments": {"data": {"from_node": "lang"},
          |                          "min_score": 0.5}},
          |  "dedup": {"process_id": "near_dedup_first_wins",
          |            "arguments": {"data": {"from_node": "qual"}}},
          |  "man":   {"process_id": "shard_manifest",
          |            "arguments": {"data": {"from_node": "dedup"},
          |                          "n_shards": 8, "seed": "s42"},
          |            "result": true}
          |}""".stripMargin)
    },

    // STAC-catalog load: weekly asset slices + ItemCollection metadata are
    // materialized ONCE per (session, sfDir) in a temp dir — the fixture
    // build is test scaffolding, not part of the operator, so repeat runs
    // (bench warmup → timed pass) only time the pruning + pruned scan.
    // load_collection prunes to the items overlapping the extent
    // (driver-side, before any job) and applies the residual row filter;
    // the oracle only sees the final relational contract: events within
    // the extent.
    "stac_load" -> { (s, d) =>
      val catalog = stacFixture(s, d)
      StacCatalog.loadCollection(s, catalog,
        Some(("2024-01-05", "2024-01-18")))
        .select(col("event_id"), Exact.rnd4(col("value")).as("value"))
    },

    // spatial graph over the new vocabulary: load grid → clip to a polygon
    // → downscale 2× → zonal stats over two polygon zones
    "process_graph_spatial" -> { (s, d) =>
      new ProcessGraph(s, d).run(spatialGraph)
        .select(col("zone_id"), col("band"),
          Exact.rnd4(col("value")).as("value"), col("n_cells"))
    },

    "process_graph_dims" -> { (s, d) =>
      new ProcessGraph(s, d).run(dimsGraph)
        .select(col("band"), Exact.rnd4(col("value")).as("value"))
    }
  )

  val oracle: Map[String, String] = Map(

    "stac_load_bbox" ->
      s"""WITH ${CubeQueries.gridCubeSql}
        |SELECT x, y, band, value FROM cube
        |WHERE x >= 10 AND x < 40 AND y >= 2 AND y < 9""".stripMargin,

    // Mirror of raster_roundtrip: the same events grid (decimal-exact sum,
    // rnd4) crossed with the three format tags — the raster files
    // themselves are the Spark side's concern; a hash match means every
    // container reproduced every cell bit-exactly.
    "raster_roundtrip" ->
      """WITH grid AS (
        |  SELECT event_type AS band,
        |    event_id % 128 AS y,
        |    (event_id // 128) % 128 AS x,
        |    floor((CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE))
        |      * 10000 + 0.5) / 10000.0 AS value
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT f.fmt, g.band, g.y, g.x, g.value
        |FROM grid g
        |CROSS JOIN (VALUES ('gtiff'), ('netcdf'), ('zarr')) AS f(fmt)"""
        .stripMargin,

    "process_graph_expr" ->
      s"""WITH ${CubeQueries.gridCubeSql},
        |clip AS (
        |  SELECT * FROM cube
        |  WHERE x >= 0 AND x < 32 AND y >= 0 AND y < 32),
        |m AS (
        |  SELECT band, greatest(value / 2 + 1, sqrt(abs(value))) AS value
        |  FROM clip)
        |SELECT band,
        |  floor((CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
        |         / count(value)) * 10000 + 0.5) / 10000.0 AS value
        |FROM m GROUP BY 1""".stripMargin,

    // mirror of dimsGraph: sqrt(abs(x)) inside the diamond (identical edge
    // terms via insideSql), 4×4 window mean (decimal-exact), band label
    // CASE map, quantile_cont == Spark percentile. add/rename/drop of the
    // constant 'era' dimension is a no-op relationally, as in the engine.
    "process_graph_dims" -> {
      val inside = CubeQueries.insideSql(CubeQueries.diamond,
        "CAST(x AS DOUBLE)", "CAST(y AS DOUBLE)")
      s"""WITH ${CubeQueries.gridCubeSql},
        |roi AS (
        |  SELECT x, y, band,
        |    CASE WHEN $inside THEN sqrt(abs(value)) ELSE value END AS value
        |  FROM cube),
        |win AS (
        |  SELECT x // 4 AS x, y // 4 AS y, band,
        |    CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
        |      / count(value) AS value
        |  FROM roi GROUP BY 1, 2, 3),
        |q AS (
        |  SELECT x, band, quantile_cont(value, 0.25) AS value
        |  FROM win GROUP BY 1, 2),
        |m AS (
        |  SELECT band, quantile_cont(value, 0.5) AS value
        |  FROM q GROUP BY 1)
        |SELECT CASE band WHEN 'A' THEN 'ret_a' WHEN 'N' THEN 'ret_n'
        |            WHEN 'R' THEN 'ret_r' END AS band,
        |  floor((value) * 10000 + 0.5) / 10000.0 AS value
        |FROM m""".stripMargin
    },

    "multimodal_pipeline" ->
      """SELECT doc_id AS media_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |       WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  length(text) AS n_bytes,
        |  md5(text) AS fp,
        |  floor((CAST(list_sum(list_transform(generate_series(1, length(text)),
        |           i -> ord(substr(text, i, 1)))) AS DOUBLE) / length(text))
        |    * 10000 + 0.5) / 10000.0 AS mean_intensity
        |FROM documents""".stripMargin,

    "multimodal_frames" ->
      """WITH media AS (
        |  SELECT doc_id AS media_id, text FROM documents WHERE doc_id % 3 = 2),
        |f AS (
        |  SELECT media_id, text,
        |    unnest(generate_series(0,
        |      greatest(CAST(length(text) // 64 AS INT) - 1, 0), 2)) AS frame_idx
        |  FROM media),
        |fr AS (
        |  SELECT media_id, frame_idx,
        |    substr(text, CAST(frame_idx * 64 + 1 AS INT), 64) AS frame
        |  FROM f)
        |SELECT media_id, frame_idx, length(frame) AS n,
        |  floor((CAST(list_sum(list_transform(generate_series(1, length(frame)),
        |      i -> ord(substr(frame, i, 1)))) AS DOUBLE) / length(frame))
        |    * 10000 + 0.5) / 10000.0 AS mean_i
        |FROM fr""".stripMargin,

    "multimodal_embed" ->
      """WITH codes AS (
        |  SELECT doc_id AS media_id,
        |    list_transform(generate_series(1, length(text)),
        |      i -> ord(substr(text, i, 1))) AS cs
        |  FROM documents)
        |SELECT media_id, CAST(b AS INT) AS pos,
        |  floor((len(list_filter(cs, c -> c // 16 = b))
        |         / CAST(greatest(len(cs), 1) AS DOUBLE)) * 10000 + 0.5)
        |    / 10000.0 AS value
        |FROM codes CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS b) bins""".stripMargin,

    // Mirror of multimodal_dedup: the ord()-histogram CTE (the verified
    // multimodal_embed mirror), threshold phash bits, same bucket cap,
    // pair L1 via the same sequential list fold.
    "multimodal_dedup" ->
      """WITH codes AS (
        |  SELECT doc_id AS media_id, md5(text) AS chash,
        |    list_transform(generate_series(1, length(text)),
        |      i -> ord(substr(text, i, 1))) AS cs
        |  FROM documents),
        |hist AS (
        |  SELECT media_id, chash,
        |    list_transform(generate_series(0, 15), b ->
        |      len(list_filter(cs, c -> c // 16 = b))
        |        / CAST(greatest(len(cs), 1) AS DOUBLE)) AS h
        |  FROM codes),
        |ph AS (
        |  SELECT media_id, chash, h,
        |    array_to_string(list_transform(h, v ->
        |      CAST(CAST(floor(v * 32) AS INTEGER) AS VARCHAR)), ',') AS qk
        |  FROM hist),
        |ok AS (SELECT qk FROM ph GROUP BY qk HAVING count(*) <= 64),
        |cap AS (SELECT ph.* FROM ph JOIN ok USING (qk)),
        |pr AS (
        |  SELECT a.media_a, b.media_b,
        |    a.ch_a = b.ch_b AS exact_dup,
        |    list_sum(list_transform(generate_series(1, 16),
        |      i -> abs(a.h_a[i] - b.h_b[i]))) AS l1r
        |  FROM (SELECT qk, media_id AS media_a, chash AS ch_a, h AS h_a
        |        FROM cap) a
        |  JOIN (SELECT qk, media_id AS media_b, chash AS ch_b, h AS h_b
        |        FROM cap) b
        |    ON a.qk = b.qk AND a.media_a < b.media_b)
        |SELECT media_a, media_b, exact_dup,
        |  floor((l1r) * 10000 + 0.5) / 10000.0 AS l1
        |FROM pr WHERE l1r <= 0.01""".stripMargin,

    // Mirrors embedStub → ExternalModel.predict(MlpSession) neuron-for-
    // neuron from the same weight literals (the ml_predict_mlp playbook):
    //   f_i = float32(count_bin_i / max(len, 1))           [histogram]
    //   h_j = float32(relu(Σ_i double(f_i)·w1_ji + b1_j))  [left-assoc]
    //   o_k = float32(      Σ_j double(h_j)·w2_kj + b2_k)
    //   value = rnd4(double(o_k))
    // Weight literals go through CAST('<scala toString>' AS DOUBLE) so
    // DuckDB parses the identical doubles Jackson hands Spark.
    "multimodal_embed_mlp" -> {
      def wlit(v: Double) = s"CAST('$v' AS DOUBLE)"
      val hidden = (0 until 8).map { j =>
        val s = (0 until 16).map(i =>
          s"CAST(f[${i + 1}] AS DOUBLE) * ${wlit(encW1(j)(i))}")
          .mkString(" + ")
        s"CAST(CASE WHEN ($s) + ${wlit(encB1(j))} > 0 " +
          s"THEN ($s) + ${wlit(encB1(j))} ELSE 0.0 END AS FLOAT) AS h$j"
      }.mkString(",\n    ")
      val outs = (0 until 4).map { k =>
        val s = (0 until 8).map(j =>
          s"CAST(h$j AS DOUBLE) * ${wlit(encW2(k)(j))}").mkString(" + ")
        s"WHEN $k THEN CAST(CAST(($s) + ${wlit(encB2(k))} AS FLOAT) AS DOUBLE)"
      }
      s"""WITH codes AS (
         |  SELECT doc_id AS media_id,
         |    list_transform(generate_series(1, length(text)),
         |      i -> ord(substr(text, i, 1))) AS cs
         |  FROM documents),
         |feats AS (
         |  SELECT media_id,
         |    list_transform(generate_series(0, 15), b ->
         |      CAST(len(list_filter(cs, c -> c // 16 = b))
         |           / CAST(greatest(len(cs), 1) AS DOUBLE) AS FLOAT)) AS f
         |  FROM codes),
         |h AS (
         |  SELECT media_id,
         |    $hidden
         |  FROM feats)
         |SELECT media_id, CAST(k AS INT) AS pos,
         |  floor((CASE k ${outs.mkString("\n    ")}
         |   END) * 10000 + 0.5) / 10000.0 AS value
         |FROM h
         |CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) ks""".stripMargin
    },

    "stac_load" ->
      """SELECT event_id, floor((value) * 10000 + 0.5) / 10000.0 AS value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-18'""".stripMargin,

    "process_graph_spatial" -> {
      val diamond = CubeQueries.insideSql(CubeQueries.diamond,
        "CAST(x AS DOUBLE)", "CAST(y AS DOUBLE)")
      val west = CubeQueries.insideSql(
        Seq((0.0, 0.0), (16.0, 0.0), (16.0, 31.0), (0.0, 31.0)),
        "CAST(x AS DOUBLE)", "CAST(y AS DOUBLE)")
      val east = CubeQueries.insideSql(
        Seq((16.0, 0.0), (31.0, 0.0), (31.0, 31.0), (16.0, 31.0)),
        "CAST(x AS DOUBLE)", "CAST(y AS DOUBLE)")
      s"""WITH ${CubeQueries.gridCubeSql},
        |clip AS (SELECT * FROM cube WHERE $diamond),
        |down AS (
        |  SELECT CAST(floor(CAST(x AS DOUBLE) / 2) AS BIGINT) AS x,
        |         CAST(floor(CAST(y AS DOUBLE) / 2) AS BIGINT) AS y, band,
        |         CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
        |           / count(value) AS value
        |  FROM clip GROUP BY 1, 2, 3),
        |lab AS (
        |  SELECT CASE WHEN $west THEN 'west'
        |              WHEN $east THEN 'east' END AS zone_id, band, value
        |  FROM down)
        |SELECT zone_id, band,
        |  floor((CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
        |         / count(value)) * 10000 + 0.5) / 10000.0 AS value,
        |  count(*) AS n_cells
        |FROM lab WHERE zone_id IS NOT NULL GROUP BY 1, 2""".stripMargin
    },

    // Identical chain, identical oracle: the graph form of the curation
    // pipeline must hash-match the direct form's mirror.
    "pipeline_curate_graph" -> TextQueries.oracle("pipeline_curate"),
    "process_graph_rag" -> TextQueries.oracle("pipeline_rag"),
    "process_graph_probe" -> TextQueries.oracle("text_quality_fit"),

    "process_graph_forest" -> MlQueries.oracle("ml_forest_fit"),
    "process_graph_nb" -> MlQueries.oracle("ml_eval_kappa"),
    "process_graph_kcenter" -> SimQueries.oracle("embed_kcenter"),
    "process_graph_knn" -> SimQueries.oracle("embed_knn_graph"),
    "process_graph_mmr" -> SimQueries.oracle("ann_mmr"),
    "process_graph_ndcg" -> SimQueries.oracle("ml_eval_ndcg"),

    "process_graph_boost" -> MlQueries.oracle("ml_boost_fit"),
    "process_graph_sklearn" -> MlQueries.oracle("ml_sklearn_predict"),
    "process_graph_ann" -> SimQueries.oracle("ann_ivf"),
    "process_graph_pca" -> SimQueries.oracle("embed_pca"),
    "process_graph_bpe" -> TextQueries.oracle("text_bpe_apply"),
    "process_graph_pr" -> MlQueries.oracle("ml_eval_pr"),
    "process_graph_ensemble" -> DedupQueries.oracle("dedup_ensemble"),
    "process_graph_containment" -> DedupQueries.oracle("dedup_containment"),
    "process_graph_drift" -> TextQueries.oracle("text_source_drift"),
    "process_graph_tmix" -> TextQueries.oracle("text_temperature_mix"),
    "process_graph_index" -> SimQueries.oracle("search_index_probe"),
    "process_graph_shards" -> TextQueries.oracle("corpus_shards"),
    "process_graph_export" -> TextQueries.oracle("pipeline_export"),

    "process_graph" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |  event_type AS band,
        |  floor((CAST(sum(CAST(sqrt(abs(value)) AS DECIMAL(38,10))) AS DOUBLE)
        |        / count(value)) * 10000 + 0.5) / 10000.0 AS value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-25'
        |  AND event_type IN ('click', 'view')
        |GROUP BY 1, 2""".stripMargin
  )
}
