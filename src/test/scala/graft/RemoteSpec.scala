package graft

import graft.core.Fixtures
import graft.ml.StacMlm
import graft.queries.MlQueries
import graft.sources.{Remote, StacCatalog}

/** Remote resource loading (reference: utils/stac_utils.py:8,
  * utils/download_utils.py:14,59): every path-taking reader accepts a
  * Hadoop-FS URI. The container has no network, so `file://` — a real,
  * non-default scheme resolved through the same `Path.getFileSystem`
  * machinery as `s3a://`/`hdfs://` — proves the URI path end-to-end.
  */
class RemoteSpec extends SparkSpec {

  private def asUri(p: String): String = s"file://$p"

  test("readString round-trips UTF-8 content through a file:// URI") {
    val f = new java.io.File(Fixtures.dir("remote"), "remote.txt")
    val text = "snow\u00e9 \u2603 content"
    java.nio.file.Files.write(f.toPath,
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(Remote.readString(asUri(f.getAbsolutePath)) == text)
  }

  test("load_stac_ml reads an item through a file:// URI") {
    val m = StacMlm.load(asUri(MlQueries.externalItemPath))
    assert(m.item.name == "graft-ext-encoder")
    assert(m.featureWidth == 64 && m.outputWidth == 8)
  }

  test("catalog selectAssets reads through a file:// URI") {
    val local = graft.queries.PipelineQueries.stacFixture(spark, sfDir)
    val viaUri = StacCatalog.selectAssets(asUri(local), None)
    val viaPath = StacCatalog.selectAssets(local, None)
    assert(viaUri.nonEmpty && viaUri == viaPath)
  }

  test("cacheToLocal fetches once and reuses the cached copy") {
    val src = new java.io.File(Fixtures.dir("weights"), "weights.onnx")
    java.nio.file.Files.write(src.toPath, Array[Byte](1, 2, 3, 4))
    val cache = Fixtures.dir("cache")

    val p1 = Remote.cacheToLocal(asUri(src.getAbsolutePath), cache)
    assert(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p1)).toSeq == Seq[Byte](1, 2, 3, 4))
    val stamp = new java.io.File(p1).lastModified()

    val p2 = Remote.cacheToLocal(asUri(src.getAbsolutePath), cache)
    assert(p2 == p1)
    assert(new java.io.File(p1).lastModified() == stamp,
      "second load must reuse, not re-fetch")

    // a different URI (even to identical bytes) is a distinct cache entry
    val other = Remote.cacheToLocal(src.getAbsolutePath, cache)
    assert(other != p1)
  }
}
