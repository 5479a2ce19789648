package graft

import org.apache.spark.sql.functions._

import graft.core.{Fixtures, Tables}
import graft.ml.{ExternalModel, MlmModelInput, MlmModelOutput, StacMlm, StacMlmItem, ValueScaling}
import graft.queries.MlQueries

/** External model execution (STAC-MLM driven, non-MLlib frameworks):
  * item parsing/validation (load_model.py:21-98), the batch-size
  * resolution cases (data_model.py:493), declarative scaling up to the
  * session boundary, and the cube round trip.
  */
class ExternalModelSpec extends SparkSpec {

  private def item(dimOrder: Seq[String], shape: Seq[Int],
                   suggestion: Option[Int]): StacMlmItem =
    StacMlmItem("t", "t", "onnx", suggestion,
      Seq(MlmModelInput("in", (0 until shape.last).map(i => s"f$i"),
        shape, dimOrder, Nil)),
      Seq(MlmModelOutput("out", Seq(-1, 4), Seq("batch", "embedding"))),
      None, None)

  test("item fixture parses: framework, bands, scaling, asset, suggestion") {
    val m = StacMlm.load(MlQueries.externalItemPath)
    assert(m.item.name == "graft-ext-encoder")
    assert(m.item.framework == "onnx")
    assert(m.item.batchSizeSuggestion.contains(32))
    assert(m.input.bands.length == 64)
    assert(m.input.scaling.length == 64)
    assert(m.input.scaling.head == ValueScaling("z-score", 0.0, 1.0))
    assert(m.output.shape == Seq(-1, 8))
    assert(m.item.weightsHref.contains("weights.onnx"))
    assert(m.item.artifactType.contains("onnx"))
    assert(m.featureWidth == 64 && m.outputWidth == 8)
  }

  test("parses real published STAC-MLM items (reference examples)") {
    // the reference ships real-world MLM items (examples/mlm_items/); the
    // parser must read their shapes — multi-output, per-band z-score lists,
    // jit-artifact assets. Skipped when the reference tree is absent.
    val dir = java.nio.file.Paths.get("/root/reference/examples/mlm_items")
    assume(java.nio.file.Files.isDirectory(dir))
    import scala.jdk.CollectionConverters._
    val items = java.nio.file.Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".json")).toSeq
    assert(items.nonEmpty)
    items.foreach { p =>
      val parsed = StacMlm.parseItem(new String(
        java.nio.file.Files.readAllBytes(p), "UTF-8"))
      assert(parsed.framework.nonEmpty && parsed.inputs.nonEmpty &&
        parsed.outputs.nonEmpty, s"$p parsed empty")
      val in = parsed.inputs.head
      assert(in.shape.nonEmpty && in.dimOrder.length == in.shape.length,
        s"$p input shape/dim_order mismatch")
      assert(in.scaling.isEmpty || in.scaling.forall(_.kind.nonEmpty))
      assert(parsed.weightsHref.nonEmpty, s"$p has no mlm:model asset")
      // PyTorch framework items pass the framework whitelist; only the
      // session behind them is stubbed in this container
      assert(StacMlm.supportedFrameworks.contains(parsed.framework.toLowerCase))
    }
  }

  test("validation rejects non-Items, non-MLM items, bad frameworks/indices") {
    def write(s: String): String = {
      val p = java.nio.file.Paths.get(Fixtures.dir("badmlm"), "badmlm.json")
      java.nio.file.Files.write(p, s.getBytes("UTF-8"))
      p.toString
    }
    // not a STAC Item
    val e1 = intercept[IllegalArgumentException] {
      StacMlm.load(write("""{"type": "FeatureCollection"}"""))
    }
    assert(e1.getMessage.contains("not a STAC Item"))
    // Item without the MLM extension
    val e2 = intercept[IllegalArgumentException] {
      StacMlm.load(write(
        """{"type": "Feature", "stac_extensions":
          |["https://stac-extensions.github.io/raster/v1.1.0/schema.json"],
          |"properties": {}}""".stripMargin))
    }
    assert(e2.getMessage.contains("STAC:MLM"))
    // valid shape, unsupported framework
    val tf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(MlQueries.externalItemPath)), "UTF-8")
      .replace("\"onnx\"", "\"tensorflow\"")
    val e3 = intercept[IllegalArgumentException] { StacMlm.load(write(tf)) }
    assert(e3.getMessage.contains("not supported"))
    // out-of-range input/output indices
    val e4 = intercept[IllegalArgumentException] {
      StacMlm.load(MlQueries.externalItemPath, inputIndex = 1)
    }
    assert(e4.getMessage.contains("input_index"))
    val e5 = intercept[IllegalArgumentException] {
      StacMlm.load(MlQueries.externalItemPath, outputIndex = 3)
    }
    assert(e5.getMessage.contains("output_index"))
    // asset selection (reference test_correct_asset_selection): a named
    // asset must carry the mlm:model role; two role-carrying assets
    // without an explicit name are ambiguous; naming one resolves it
    val base = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(MlQueries.externalItemPath)), "UTF-8")
    val twoAssets = base.replace(""""assets": {"weights": {""",
      """"assets": {
        |  "other": {"href": "doc.pdf", "roles": ["documentation"]},
        |  "weights2": {"href": "w2.onnx", "roles": ["mlm:model"]},
        |  "weights": {""".stripMargin)
    val e6 = intercept[IllegalArgumentException] {
      StacMlm.load(write(twoAssets))
    }
    assert(e6.getMessage.contains("multiple assets"))
    assert(StacMlm.load(write(twoAssets), modelAsset = Some("weights2"))
      .item.weightsHref.contains("w2.onnx"))
    val e7 = intercept[IllegalArgumentException] {
      StacMlm.load(write(twoAssets), modelAsset = Some("other"))
    }
    assert(e7.getMessage.contains("does not carry"))
  }

  test("batch-size resolution matches data_model.py:493 case by case") {
    // no batch dim, no suggestion → 1
    assert(new ExternalModel(item(Seq("embedding"), Seq(64), None), 0, 0)
      .batchSize == 1)
    // no batch dim, suggestion → suggestion
    assert(new ExternalModel(item(Seq("embedding"), Seq(64), Some(7)), 0, 0)
      .batchSize == 7)
    // batch dim with extent, no suggestion → extent
    assert(new ExternalModel(
      item(Seq("batch", "embedding"), Seq(16, 64), None), 0, 0).batchSize == 16)
    // batch dim −1, no suggestion → fallback 12
    assert(new ExternalModel(
      item(Seq("batch", "embedding"), Seq(-1, 64), None), 0, 0).batchSize == 12)
    // batch dim −1 + suggestion → suggestion
    assert(new ExternalModel(
      item(Seq("batch", "embedding"), Seq(-1, 64), Some(5)), 0, 0).batchSize == 5)
    // fixed batch dim beats a differing suggestion
    assert(new ExternalModel(
      item(Seq("batch", "embedding"), Seq(16, 64), Some(5)), 0, 0).batchSize == 16)
  }

  test("predict: batches honor the spec size; output is the scaled slice mean") {
    val m = StacMlm.load(MlQueries.externalItemPath)
    val emb = Tables.embeddings(spark, sfDir)
    val out = m.predict(emb).cache()
    assert(out.count() == emb.count())
    // every batch is ≤ the spec batch size, and the dominant batch IS it
    val sizes = out.groupBy("batch_rows").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes.keys.forall(_ <= 32), s"batch over spec size: $sizes")
    assert(sizes.keys.max == 32, s"no full-size batch ran: $sizes")
    // value check against an independent driver-side computation
    val row = emb.orderBy("vec_id").first()
    val feats = row.getSeq[Float](row.fieldIndex("embedding"))
    val scaled = feats.zipWithIndex.map { case (x, i) =>
      ((x - 0.01 * i) / (1.0 + 0.05 * i)).toFloat }
    val expect = (0 until 8).map { k =>
      var s = 0.0d // stub contract: double accumulation, float32 element
      (k * 8 until (k + 1) * 8).foreach(i => s += scaled(i))
      (s / 8).toFloat
    }
    val got = m.predict(emb.orderBy("vec_id").limit(1)).first()
      .getSeq[Float](1)
    expect.zip(got).foreach { case (e, g) =>
      assert(math.abs(e - g) < 1e-5f, s"expected $e got $g")
    }
  }

  test("scaling kinds: clip-min/clip-max/processing (scaling_utils.py set)") {
    import spark.implicits._
    def withScaling(vs: String): String = {
      val json = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(MlQueries.externalItemPath)), "UTF-8")
        .replaceAll("(?s)\"value_scaling\": \\[.*?\\]",
          s""""value_scaling": [$vs]""")
      val p = java.nio.file.Paths.get(Fixtures.dir("scal"), "scal.json")
      java.nio.file.Files.write(p, json.getBytes("UTF-8"))
      p.toString
    }
    val one = Seq((1L, Array.fill(64)(0.5f))).toDF("vec_id", "embedding")
    def out(item: String): Float =
      StacMlm.load(item).predict(one).first().getSeq[Float](1).head
    // clip-min pins 0.5 up to 0.7; clip-max caps at 0.2; processing doubles
    assert(math.abs(out(withScaling(
      """{"type": "clip-min", "minimum": 0.7}""")) - 0.7f) < 1e-6)
    assert(math.abs(out(withScaling(
      """{"type": "clip-max", "maximum": 0.2}""")) - 0.2f) < 1e-6)
    assert(math.abs(out(withScaling(
      """{"type": "processing", "format": "sql", "expression": "x * 2"}"""))
      - 1.0f) < 1e-6)
    // non-sql processing formats raise (the reference raises NotImplemented)
    intercept[UnsupportedOperationException] {
      StacMlm.load(withScaling(
        """{"type": "processing", "format": "python", "expression": "f"}"""))
    }
    // a processing entry must be the only value_scaling entry
    intercept[IllegalArgumentException] {
      StacMlm.load(withScaling(
        """{"type": "processing", "format": "sql", "expression": "x"},
          |{"type": "offset", "value": 1}""".stripMargin))
    }
  }

  test("ml_predict runs as a process-graph node (STAC-MLM model)") {
    val pg = new graft.plans.ProcessGraph(spark, sfDir)
    val out = pg.run(
      s"""{"l": {"process_id": "load_collection",
         |       "arguments": {"id": "embeddings"}},
         | "p": {"process_id": "ml_predict",
         |       "arguments": {"data": {"from_node": "l"},
         |                     "model": "${MlQueries.externalItemPath}"},
         |       "result": true}}""".stripMargin)
    val n = Tables.embeddings(spark, sfDir).count()
    assert(out.count() == n * 8, "one row per (vector, output element)")
    // parity with the direct cube predict
    val m = StacMlm.load(MlQueries.externalItemPath)
    val direct = m.predict(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos"),
        graft.core.Exact.rnd4(col("col").cast("double")).as("v"))
    val viaGraph = out.select(col("vec_id"), col("embedding").as("pos"),
      graft.core.Exact.rnd4(col("value")).as("v"))
    assert(viaGraph.exceptAll(direct).isEmpty && direct.exceptAll(viaGraph).isEmpty)
  }

  test("post_processing_function: sql applies per element, python declines") {
    import spark.implicits._
    def withPp(pp: String): String = {
      val json = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(MlQueries.externalItemPath)), "UTF-8")
        .replace(""""result": {"shape": [-1, 8],""",
          s""""post_processing_function": $pp,
             |      "result": {"shape": [-1, 8],""".stripMargin)
      val p = java.nio.file.Paths.get(Fixtures.dir("pp"), "pp.json")
      java.nio.file.Files.write(p, json.getBytes("UTF-8"))
      p.toString
    }
    val one = Seq((1L, Array.fill(64)(0.5f))).toDF("vec_id", "embedding")
    val base = StacMlm.load(MlQueries.externalItemPath)
      .predict(one).first().getSeq[Float](1)
    val scaled = StacMlm.load(withPp(
      """{"format": "sql", "expression": "x * 10"}"""))
      .predict(one).first().getSeq[Float](1)
    base.zip(scaled).foreach { case (b, s) =>
      assert(math.abs(b * 10 - s) < 1e-5f, s"$b*10 vs $s")
    }
    // python module-path post-processing (the reference's ViT reorder) is
    // a table-level reshape — the vector predict declines it loudly
    val ex = intercept[UnsupportedOperationException] {
      StacMlm.load(withPp(
        """{"format": "python",
          |  "expression": "x.y:get_featuremap_with_cls"}""".stripMargin))
        .predict(one).collect()
    }
    assert(ex.getMessage.contains("VitBridge"))
    // the real prithvi item's declared post-processing parses into metadata
    val ref = java.nio.file.Paths.get(
      "/root/reference/examples/mlm_items/prithvi_v2_item.json")
    assume(java.nio.file.Files.exists(ref))
    val item = StacMlm.parseItem(new String(
      java.nio.file.Files.readAllBytes(ref), "UTF-8"))
    assert(item.outputs.exists(_.postProcessing.exists(_._1 == "python")))
  }

  test("RF workflow runs as one graph: init → fit → save → load → predict") {
    // the reference's test_rf_class_workflow shape, as a single process
    // graph with model-typed nodes flowing between the ml_* processes
    val dir = Fixtures.dir("pgrf")
    val pg = new graft.plans.ProcessGraph(spark, sfDir)
    // only nodes reachable from the result execute (openEO lazy-graph
    // semantics), so predict chains THROUGH save (which returns the model)
    val out = pg.run(
      s"""{"init": {"process_id": "mlm_class_random_forest",
         |          "arguments": {"num_trees": 20}},
         | "fit":  {"process_id": "ml_fit",
         |          "arguments": {"model": {"from_node": "init"},
         |                        "training": "embeddings",
         |                        "target": "label"}},
         | "save": {"process_id": "save_ml_model",
         |          "arguments": {"model": {"from_node": "fit"},
         |                        "path": "$dir"}},
         | "data": {"process_id": "load_collection",
         |          "arguments": {"id": "embeddings"}},
         | "pred": {"process_id": "ml_predict",
         |          "arguments": {"data": {"from_node": "data"},
         |                        "model": {"from_node": "save"}},
         |          "result": true}}""".stripMargin)
    val n = Tables.embeddings(spark, sfDir).count()
    assert(out.count() == n, "one prediction per vector")
    val preds = out.select(col("value").cast("int")).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(preds.subsetOf((0 to 9).toSet), s"class range: $preds")
    // second graph: reload the saved model and predict — same answers
    val reloaded = pg.run(
      s"""{"load": {"process_id": "load_ml_model",
         |          "arguments": {"path": "$dir"}},
         | "data": {"process_id": "load_collection",
         |          "arguments": {"id": "embeddings"}},
         | "pred": {"process_id": "ml_predict",
         |          "arguments": {"data": {"from_node": "data"},
         |                        "model": {"from_node": "load"}},
         |          "result": true}}""".stripMargin)
    assert(reloaded.exceptAll(out).isEmpty && out.exceptAll(reloaded).isEmpty,
      "reloaded model must predict identically through the graph")
    // a model-typed result node is rejected (the contract is a cube)
    val ex = intercept[IllegalArgumentException] {
      pg.run(
        """{"init": {"process_id": "mlm_class_random_forest",
          |          "arguments": {}, "result": true}}""".stripMargin)
    }
    assert(ex.getMessage.contains("must produce a datacube"))
  }

  test("predict rejects wrong feature width at execution time") {
    val m = StacMlm.load(MlQueries.externalItemPath)
    val bad = Tables.embeddings(spark, sfDir)
      .withColumn("embedding", slice(col("embedding"), 1, 10))
    val ex = intercept[Exception] { m.predict(bad).collect() }
    assert(ex.getMessage.contains("expects 64 features") || ex.getCause != null)
  }

  test("tiled predict: cube → model-sized tiles, partial edges dropped") {
    import spark.implicits._
    // 7×4 grid, 2 bands, value = bandIdx*1000 + y*10 + x (verifiable)
    val cells = for (x <- 0 until 7; y <- 0 until 4; (b, bi) <- Seq(("A", 0), ("B", 1)))
      yield (x.toLong, y.toLong, b, (bi * 1000 + y * 10 + x).toDouble)
    val cube = graft.cube.DataCube(
      cells.toDF("x", "y", "band", "value"))
    // channel-first 2×2 tiles, 2 bands → 8 features; output width 4
    val m = new ExternalModel(
      StacMlmItem("t", "t", "onnx", Some(4),
        Seq(MlmModelInput("img", Seq("A", "B"), Seq(-1, 2, 2, 2),
          Seq("batch", "channel", "y", "x"), Nil)),
        Seq(MlmModelOutput("emb", Seq(-1, 4), Seq("batch", "embedding"))),
        None, None), 0, 0)
    val out = m.predictTiles(cube).cache()
    // x tiles 0..2 complete, tile 3 (x=6) partial → dropped; y tiles 0..1
    assert(out.select("_tile_x", "_tile_y").distinct().count() == 3 * 2,
      "partial edge tiles must be dropped")
    // stub output k = mean of the k-th 2-feature slice of the band-major
    // flat tile; verify tile (0,0): features = [b0:(y0x0,y0x1,y1x0,y1x1),
    // b1:(...)] = [0,1,10,11,1000,1001,1010,1011]
    val t00 = out.filter(col("_tile_x") === 0 && col("_tile_y") === 0)
      .orderBy("embedding").select("value").collect().map(_.getDouble(0))
    val feats = Seq(0.0, 1, 10, 11, 1000, 1001, 1010, 1011).map(_.toFloat)
    val expect = feats.grouped(2).map(s => (s.sum / 2).toDouble).toSeq
    t00.zip(expect).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-3, s"tile feature mean $g vs $e")
    }
    // featuremap output: [batch, y, x] decomposes the flat index into one
    // column per output dim (reshape_output_to_cube round trip)
    val fm = new ExternalModel(
      StacMlmItem("t", "t", "onnx", Some(4),
        Seq(MlmModelInput("img", Seq("A", "B"), Seq(-1, 2, 2, 2),
          Seq("batch", "channel", "y", "x"), Nil)),
        Seq(MlmModelOutput("map", Seq(-1, 2, 2), Seq("batch", "y", "x"))),
        None, None), 0, 0)
    val fmOut = fm.predictTiles(cube)
    assert(fmOut.columns.toSeq ==
      Seq("_tile_x", "_tile_y", "y", "x", "value"))
    val cellIdx = fmOut.filter(col("_tile_x") === 0 && col("_tile_y") === 0)
      .select("y", "x").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(cellIdx == Set((0, 0), (0, 1), (1, 0), (1, 1)),
      s"featuremap cells decompose mixed-radix: $cellIdx")
  }

  test("cube predict equals vector predict (band pivot + explode roundtrip)") {
    val m = StacMlm.load(MlQueries.externalItemPath)
    val emb = Tables.embeddings(spark, sfDir).limit(100)
    val cube = graft.cube.DataCube(emb.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("_pos", "value")))
      .select(col("vec_id"), concat(lit("f"), col("_pos")).as("band"),
        col("value").cast("double").as("value")))
    val viaCube = m.predictCube(cube)
      .select(col("vec_id"), col("embedding").as("pos"),
        graft.core.Exact.rnd4(col("value")).as("v"))
    val direct = m.predict(emb)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos"),
        graft.core.Exact.rnd4(col("col").cast("double")).as("v"))
    assert(viaCube.exceptAll(direct).isEmpty && direct.exceptAll(viaCube).isEmpty,
      "cube-predict must equal vector-predict")
  }

  test("cube predict: an all-NaN (nodata) cell yields a NaN output vector " +
       "and the session never sees it (reference empty-block sentinel)") {
    import graft.ml.SessionRuntime
    RecordingSession.shapes.clear()
    val base = StacMlm.load(MlQueries.externalItemPath)
    val m = new ExternalModel(base.item, 0, 0,
      Some(new SessionRuntime(new RecordingSession(64, 8), 64, 8)))
    val emb3 = Tables.embeddings(spark, sfDir).orderBy("vec_id").limit(3)
    val nodataId = emb3.agg(min("vec_id")).head().getLong(0)
    val cube = graft.cube.DataCube(emb3.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("_pos", "value")))
      .select(col("vec_id"), concat(lit("f"), col("_pos")).as("band"),
        when(col("vec_id") === nodataId, lit(Double.NaN))
          .otherwise(col("value").cast("double")).as("value")))
    val out = m.predictCube(cube).cache()
    assert(out.count() == 3 * 8, "every cell expands to the 8-wide output")
    val nodataVals = out.filter(col("vec_id") === nodataId)
      .collect().map(_.getAs[Double]("value"))
    assert(nodataVals.length == 8 && nodataVals.forall(_.isNaN),
      "nodata cell must expand to a NaN output vector")
    // the session scored only the 2 valid rows — the NaN cell never
    // crossed the tensor boundary
    val scoredRows = RecordingSession.shapes
      .toArray(Array.empty[(Long, Long)]).map(_._1).sum
    assert(scoredRows == 2, s"session saw $scoredRows rows, expected 2")
  }

  test("SessionRuntime: packs batches row-major, honors the session's " +
    "tensor contract (ORT seam)") {
    import graft.ml.{SessionRuntime, TensorSession}
    RecordingSession.shapes.clear()
    val base = StacMlm.load(MlQueries.externalItemPath)
    val m = new ExternalModel(base.item, 0, 0,
      Some(new SessionRuntime(new RecordingSession(64, 8), 64, 8)))
    val emb = Tables.embeddings(spark, sfDir).limit(70).coalesce(1)
    val out = m.predict(emb).cache()
    assert(out.count() == 70)
    // one session call per batch: 70 rows in one partition at spec batch
    // size 32 → tensors [32,64], [32,64], [6,64]
    val shapes = RecordingSession.shapes.toArray(Array.empty[(Long, Long)])
    assert(shapes.toSeq.sorted == Seq((6L, 64L), (32L, 64L), (32L, 64L)),
      s"got ${shapes.toSeq}")
    // the fake session doubles the first 8 scaled features — verify the
    // packed/unpacked values round-trip through the flat buffer
    val row = Tables.embeddings(spark, sfDir).orderBy("vec_id").first()
    val feats = row.getSeq[Float](row.fieldIndex("embedding"))
    val expect = (0 until 8).map { i =>
      (((feats(i) - 0.01 * i) / (1.0 + 0.05 * i)).toFloat) * 2.0f
    }
    val got = m.predict(emb.orderBy("vec_id").limit(1)).first().getSeq[Float](1)
    expect.zip(got).foreach { case (e, g) =>
      assert(math.abs(e - g) < 1e-6f, s"expected $e got $g")
    }
  }
}

/** Fake ORT-shaped session: asserts tensor shape sanity, records each
  * batch's shape (static queue — local mode, one JVM), and returns a
  * deterministic output (first `outW` features, doubled). */
object RecordingSession {
  val shapes = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
}
final class RecordingSession(inW: Int, outW: Int)
    extends graft.ml.TensorSession {
  override def run(inputName: String, flat: Array[Float],
                   shape: Array[Long], outputName: String): Array[Float] = {
    require(inputName == "input" && outputName == "output")
    require(shape.length == 2 && shape(1) == inW,
      s"bad tensor shape ${shape.toSeq}")
    require(flat.length == shape(0) * shape(1), "flat buffer/shape mismatch")
    RecordingSession.shapes.add((shape(0), shape(1)))
    val n = shape(0).toInt
    Array.tabulate(n * outW) { j =>
      flat((j / outW) * inW + (j % outW)) * 2.0f
    }
  }
}
