package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Fixtures

/** Runtime contract for the OPTIONAL ONNX Runtime adapter
  * (src/ort/scala/graft/ml/OrtTensorSession.scala — the real-inference
  * seam the reference reaches through run_pytorch_model.py:52).
  *
  * This container ships no onnxruntime jar, so the test SKIPS here by
  * design (the compile leg is covered separately by `sbt ortcheck/compile`
  * against the API-shape stubs). In an environment that has the jar:
  *
  *   1. drop onnxruntime-*.jar into /opt/spark/jars (the unmanagedBase),
  *   2. `GRAFT_WITH_ORT=1 sbt test`
  *
  * and this test EXECUTES OrtTensorSession end-to-end against a minimal
  * ONNX model (a single Identity node, hand-encoded from the public
  * onnx.proto3 wire format — no onnx python tooling needed), pinning the
  * TensorSession contract on the real runtime: one run per batch,
  * row-major pack, [rows, width] shape, name passthrough.
  */
class OrtRuntimeSpec extends AnyFunSuite {

  // ---- minimal protobuf writer (public proto3 wire format) ----
  private def varint(n0: Long): Array[Byte] = {
    var n = n0
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    do {
      val b = (n & 0x7f).toInt
      n >>>= 7
      out += (if (n != 0) (b | 0x80).toByte else b.toByte)
    } while (n != 0)
    out.toArray
  }
  private def tag(field: Int, wire: Int): Array[Byte] =
    varint((field.toLong << 3) | wire)
  private def msg(field: Int, body: Array[Byte]): Array[Byte] =
    tag(field, 2) ++ varint(body.length) ++ body
  private def str(field: Int, s: String): Array[Byte] =
    msg(field, s.getBytes("UTF-8"))
  private def vint(field: Int, v: Long): Array[Byte] =
    tag(field, 0) ++ varint(v)

  /** ModelProto{ir_version:8, opset_import:[{version:13}], graph:
    * GraphProto{node:[Identity(X->Y)], input/output: float tensor
    * ["N", width]}} — the smallest well-formed ONNX model. */
  private def identityModel(width: Int): Array[Byte] = {
    val dimBatch = msg(1, str(2, "N"))        // Dimension{dim_param:"N"}
    val dimWidth = msg(1, vint(1, width))     // Dimension{dim_value:width}
    val tensorTy =                            // TypeProto.Tensor
      vint(1, 1) ++                           //   elem_type = FLOAT
        msg(2, dimBatch ++ dimWidth)          //   shape
    def valueInfo(name: String): Array[Byte] =
      str(1, name) ++ msg(2, msg(1, tensorTy))
    val node =                                // NodeProto Identity X->Y
      str(1, "X") ++ str(2, "Y") ++ str(4, "Identity")
    val graph = msg(1, node) ++ str(2, "g") ++
      msg(11, valueInfo("X")) ++ msg(12, valueInfo("Y"))
    vint(1, 8) ++                             // ir_version
      msg(8, vint(2, 13)) ++                  // opset_import{version:13}
      msg(7, graph)
  }

  test("OrtTensorSession executes a real ONNX model (skips without the " +
       "onnxruntime jar + GRAFT_WITH_ORT)") {
    assume(sys.env.contains("GRAFT_WITH_ORT"),
      "GRAFT_WITH_ORT not set — the optional ORT source set is not in " +
        "this build (documented skip; compile leg covered by ortcheck)")
    val ortPresent =
      try { Class.forName("ai.onnxruntime.OrtEnvironment"); true }
      catch { case _: Throwable => false }
    assume(ortPresent,
      "no onnxruntime jar on the classpath — documented skip")
    val adapter =
      try Class.forName("graft.ml.OrtTensorSession")
      catch { case _: Throwable => null }
    assert(adapter != null,
      "GRAFT_WITH_ORT is set but the adapter did not compile in")

    val f = java.nio.file.Paths.get(Fixtures.dir("identity"), "identity.onnx")
    java.nio.file.Files.write(f, identityModel(3))
    val session = adapter.getConstructor(classOf[String])
      .newInstance(f.toString).asInstanceOf[graft.ml.TensorSession]
    val flat = Array(1.0f, 2.0f, 3.0f, -4.5f, 0.0f, 7.25f)
    val out = session.run("X", flat, Array(2L, 3L), "Y")
    assert(out.toSeq == flat.toSeq,
      "Identity must return the row-major batch unchanged")
  }
}
