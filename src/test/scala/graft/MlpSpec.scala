package graft

import org.apache.spark.sql.functions._

import graft.core.Fixtures
import graft.ml.{MlpLayer, MlpSession, MlpWeights, SessionRuntime, StacMlm}
import graft.queries.MlQueries

/** The executable `graft-mlp` path: weight parsing + validation, the JVM
  * forward pass against hand-computed values, activation behavior, and the
  * full load_stac_ml → ml_predict chain actually using the asset's weights
  * (not the stub).
  */
class MlpSpec extends SparkSpec {

  private def layer(w: Array[Array[Double]], b: Array[Double],
                    act: String = "identity") = MlpLayer(w, b, act)

  test("forward pass matches hand-computed values (2-2-1 net)") {
    // h = relu(W1·x + b1); o = W2·h + b2, x = [1, -2]
    val net = new MlpSession(Seq(
      layer(Array(Array(0.5, 0.25), Array(-1.0, 0.5)), Array(0.0, 1.0), "relu"),
      layer(Array(Array(2.0, -1.0)), Array(0.5))))
    val out = net.run("in", Array(1.0f, -2.0f), Array(1L, 2L), "out")
    // h0 = relu(0.5 - 0.5 + 0) = 0; h1 = relu(-1 - 1 + 1) = 0 -> o = 0.5
    assert(out.toSeq == Seq(0.5f))
    val out2 = net.run("in", Array(2.0f, 2.0f), Array(1L, 2L), "out")
    // h0 = relu(1 + 0.5) = 1.5; h1 = relu(-2 + 1 + 1) = 0 -> o = 3 + 0.5
    assert(out2.toSeq == Seq(3.5f))
  }

  test("sigmoid and tanh activations apply in double, narrow to float32") {
    val net = new MlpSession(Seq(
      layer(Array(Array(1.0)), Array(0.0), "sigmoid")))
    val s = net.run("in", Array(0.0f, 2.0f), Array(2L, 1L), "out")
    assert(s(0) == 0.5f)
    assert(s(1) == (1.0 / (1.0 + math.exp(-2.0))).toFloat)
    val t = new MlpSession(Seq(layer(Array(Array(1.0)), Array(0.0), "tanh")))
      .run("in", Array(3.0f), Array(1L, 1L), "out")
    assert(t(0) == math.tanh(3.0).toFloat)
  }

  test("batched run packs rows independently") {
    val net = new MlpSession(Seq(layer(Array(Array(1.0, 1.0)), Array(0.0))))
    val out = net.run("in",
      Array(1f, 2f, 3f, 4f, 5f, 6f), Array(3L, 2L), "out")
    assert(out.toSeq == Seq(3f, 7f, 11f))
  }

  test("TensorSession contract: row-major pack, [n, inWidth] shape, names") {
    // Pins the exact call SessionRuntime makes on ANY TensorSession — the
    // contract the optional OrtTensorSession adapter (src/ort) must
    // satisfy — via a recording fake: one run() per batch, names passed
    // through, shape = [rows, inWidth], features packed row-major.
    val seen = collection.mutable.ArrayBuffer
      .empty[(String, Seq[Float], Seq[Long], String)]
    val recorder = new graft.ml.TensorSession {
      override def run(inputName: String, flat: Array[Float],
                       shape: Array[Long], outputName: String): Array[Float] = {
        seen += ((inputName, flat.toSeq, shape.toSeq, outputName))
        val n = shape(0).toInt
        val w = shape(1).toInt
        // row sums as a 1-wide output — checks unpack ordering too
        Array.tabulate(n)(r => (0 until w).map(i => flat(r * w + i)).sum)
      }
    }
    val rt = new SessionRuntime(recorder, inWidth = 3, outWidth = 1,
      inputName = "pixel_values", outputName = "logits")
    val out = rt.score(Array(Array(1f, 2f, 3f), Array(4f, 5f, 6f)))
    assert(seen.length == 1, "one session run per batch")
    val (inName, flat, shape, outName) = seen.head
    assert(inName == "pixel_values" && outName == "logits")
    assert(shape == Seq(2L, 3L))
    assert(flat == Seq(1f, 2f, 3f, 4f, 5f, 6f), "row-major flat layout")
    assert(out.map(_.toSeq).toSeq == Seq(Seq(6f), Seq(15f)))
  }

  test("weights JSON parses and validates dimensions") {
    val good = """{"layers": [
      {"w": [[1, 2], [3, 4]], "b": [0, 0], "activation": "relu"},
      {"w": [[1, 1]], "b": [0.5]}]}"""
    val layers = MlpWeights.parse(good)
    assert(layers.length == 2 && layers.head.activation == "relu"
      && layers.last.activation == "identity")
    intercept[IllegalArgumentException](
      MlpWeights.parse("""{"layers": []}"""))
    intercept[IllegalArgumentException](
      MlpWeights.parse("""{"layers": [{"w": [[1], [2, 3]], "b": [0, 0]}]}"""))
    intercept[IllegalArgumentException](
      MlpWeights.parse("""{"layers": [{"w": [[1]], "b": [0, 1]}]}"""))
    intercept[IllegalArgumentException](MlpWeights.parse(
      """{"layers": [{"w": [[1]], "b": [0], "activation": "softplus"}]}"""))
  }

  test("load rejects nets whose widths disagree with the MLM item shapes") {
    val dir = java.nio.file.Paths.get(Fixtures.dir("mlp_bad"))
    val p = dir.resolve("w.json")
    java.nio.file.Files.write(p,
      """{"layers": [{"w": [[1, 2, 3]], "b": [0]}]}""".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](
      MlpWeights.load(p.toString, inWidth = 2, outWidth = 1))
    assert(e.getMessage.contains("first layer"))
    val e2 = intercept[IllegalArgumentException](
      MlpWeights.load(p.toString, inWidth = 3, outWidth = 4))
    assert(e2.getMessage.contains("last layer"))
  }

  test("load_stac_ml resolves the relative weights href and runs the REAL net") {
    val m = StacMlm.load(MlQueries.mlpItemPath)
    assert(m.item.framework == "graft-mlp")
    assert(m.item.artifactType.contains(MlpWeights.ArtifactType))
    // the runtime must be the session-backed one, not the stub — feed a
    // known vector through predict and check the first hidden/output math
    val x = (0 until 64).map(i => (i % 5 - 2) * 0.1f)
    val df = spark.createDataFrame(
      Seq((0L, x.toArray))).toDF("vec_id", "embedding")
    val got = m.predict(df).select("embedding").head().getSeq[Float](0)
    // hand-run the same forward pass from the shared weight values
    val session = new MlpSession(Seq(
      MlpLayer(MlQueries.mlpW1.map(_.toArray).toArray,
        MlQueries.mlpB1.toArray, "relu"),
      MlpLayer(MlQueries.mlpW2.map(_.toArray).toArray,
        MlQueries.mlpB2.toArray, "identity")))
    val want = session.run("in", x.toArray, Array(1L, 64L), "out")
    assert(got == want.toSeq)
    assert(got.length == 4)
    // and the result must differ from what the stub would have produced
    val stub = new graft.ml.StubRuntime(64, 4)
      .score(Array(x.toArray)).head
    assert(got != stub.toSeq)
  }

  test("the make_embeddings workflow runs as a graph with REAL weights") {
    // reference examples/make_embeddings.py: load_collection →
    // load_stac_ml → ml_predict → (save_result) — here the model node is
    // the graft-mlp item, so the graph executes the actual artifact
    val pg = new graft.plans.ProcessGraph(spark, sfDir)
    val out = pg.run(
      s"""{"l": {"process_id": "load_collection",
         |       "arguments": {"id": "embeddings"}},
         | "p": {"process_id": "ml_predict",
         |       "arguments": {"data": {"from_node": "l"},
         |                     "model": "${MlQueries.mlpItemPath}"},
         |       "result": true}}""".stripMargin)
    val m = StacMlm.load(MlQueries.mlpItemPath)
    val direct = m.predict(graft.core.Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos"),
        graft.core.Exact.rnd4(col("col").cast("double")).as("v"))
    val viaGraph = out.select(col("vec_id"), col("embedding").as("pos"),
      graft.core.Exact.rnd4(col("value")).as("v"))
    assert(viaGraph.exceptAll(direct).isEmpty &&
      direct.exceptAll(viaGraph).isEmpty,
      "graph ml_predict with a graft-mlp model diverges from direct predict")
  }

  test("tiled predict also executes real weights (graft-mlp tile model)") {
    import spark.implicits._
    // 2x2 single-band tile -> 4 features in [channel, y, x] order; one
    // dense layer with distinct weights per output so tile assembly order
    // is visible in the result
    val dir = java.nio.file.Paths.get(Fixtures.dir("mlp_tile"))
    java.nio.file.Files.write(dir.resolve("w.json"),
      """{"layers": [{"w": [[1, 0, 0, 0], [0, 2, 0, 0], [0, 0, 3, 0],
        [0, 0, 0, 4]], "b": [0.5, 0, 0, 0], "activation": "relu"}]}"""
        .getBytes("UTF-8"))
    val item =
      s"""{"stac_version": "1.0.0",
         |"stac_extensions": ["https://stac-extensions.github.io/mlm/v1.4.0/schema.json"],
         |"type": "Feature", "id": "t",
         |"properties": {"mlm:name": "t", "mlm:framework": "graft-mlp",
         |  "mlm:input": [{"name": "img", "bands": ["A"],
         |    "input": {"shape": [-1, 1, 2, 2],
         |              "dim_order": ["batch", "channel", "y", "x"],
         |              "data_type": "float32"}}],
         |  "mlm:output": [{"name": "o",
         |    "result": {"shape": [-1, 4],
         |               "dim_order": ["batch", "embedding"]}}]},
         |"assets": {"weights": {"href": "w.json",
         |  "roles": ["mlm:model"], "mlm:artifact_type": "graft-mlp-json"}}
         |}""".stripMargin
    val ip = dir.resolve("item.json")
    java.nio.file.Files.write(ip, item.getBytes("UTF-8"))
    val m = StacMlm.load(ip.toString)
    // one full tile: cells (x, y, v): pos = (y%2)*2 + (x%2)
    val cube = graft.cube.DataCube(Seq(
      (0L, 0L, "A", 10.0), (1L, 0L, "A", 20.0),
      (0L, 1L, "A", 30.0), (1L, 1L, "A", 40.0))
      .toDF("x", "y", "band", "value"))
    val got = m.predictTiles(cube)
      .select("embedding", "value").as[(Int, Double)].collect().sorted
    // feats in pos order = [10, 20, 30, 40];
    // out = relu(W·x + b) = [10.5, 40, 90, 160]
    assert(got.toSeq == Seq((0, 10.5), (1, 40.0), (2, 90.0), (3, 160.0)),
      s"real-weights tile predict wrong: ${got.toSeq}")
  }

  test("streaming inference: predict over a MemoryStream equals batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val m = StacMlm.load(MlQueries.mlpItemPath)
    val rows = graft.core.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").limit(50)
      .as[(Long, Array[Float])].collect().toSeq
    val ms = MemoryStream[(Long, Array[Float])](spark)
    val q = m.predict(ms.toDF().toDF("vec_id", "embedding"))
      .drop("batch_rows") // partition-dependent
      .writeStream.format("memory").queryName("mlp_stream_parity")
      .outputMode("append").start()
    try {
      val (a, b) = rows.splitAt(20)
      ms.addData(a); q.processAllAvailable()
      ms.addData(b); q.processAllAvailable()
      val streamed = spark.table("mlp_stream_parity")
        .select(col("vec_id"), posexplode(col("embedding")))
      val batch = m.predict(rows.toDF("vec_id", "embedding"))
        .drop("batch_rows")
        .select(col("vec_id"), posexplode(col("embedding")))
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty,
        "streaming inference diverges from batch predict")
    } finally q.stop()
  }

  test("SessionRuntime rejects ragged rows and wrong output sizes") {
    val rt = new SessionRuntime(new MlpSession(
      Seq(layer(Array(Array(1.0, 0.0)), Array(0.0)))), 2, 1)
    intercept[IllegalArgumentException](
      rt.score(Array(Array(1f, 2f, 3f))))
    assert(rt.score(Array.empty).isEmpty)
  }
}
