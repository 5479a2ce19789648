package graft

import org.apache.spark.sql.functions._

import graft.core.{Fixtures, Tables}
import graft.sources.Shards

/** D90 deterministic corpus sharding (SURVEY.md §2D90): permutation
  * determinism, manifest exactness, and the at-rest partitionBy(shard)
  * layout a trainer's loader maps to workers.
  */
class ShardsSpec extends SparkSpec {

  import spark.implicits._

  private val docs = Tables.documents(spark, sfDir)

  test("assignment is a partition of the corpus and reproduces exactly") {
    val a = Shards.assign(docs, nShards = 4, seed = "s1")
      .select("doc_id", "shard", "pos")
    val b = Shards.assign(docs, nShards = 4, seed = "s1")
      .select("doc_id", "shard", "pos")
    assert(a.collect().toSet == b.collect().toSet,
      "same seed must reproduce the identical permutation")
    // every doc appears exactly once; positions are 1..n per shard
    val perShard = a.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("pos").as("maxp"), min("pos").as("minp"))
      .collect()
    assert(perShard.map(_.getAs[Long]("n")).sum == docs.count())
    perShard.foreach { r =>
      assert(r.getAs[Int]("minp") == 1 &&
        r.getAs[Int]("maxp") == r.getAs[Long]("n"))
    }
  }

  test("different seeds give different permutations") {
    val a = Shards.assign(docs, nShards = 4, seed = "s1")
      .select("doc_id", "shard").as[(Long, Int)].collect().toMap
    val b = Shards.assign(docs, nShards = 4, seed = "s2")
      .select("doc_id", "shard").as[(Long, Int)].collect().toMap
    assert(a.keySet == b.keySet)
    assert(a.count { case (k, v) => b(k) != v } > 0,
      "a new seed must reshuffle at least some documents")
  }

  test("write lands one directory per shard, rows in permutation order") {
    val path = Fixtures.dir("shards") + "/out"
    Shards.write(docs, path, nShards = 4, seed = "s1")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(_.isDirectory).map(_.getPath.getName).sorted
    assert(dirs.toSeq == (0 until 4).map(i => s"shard=$i"),
      s"one directory per shard, got ${dirs.toSeq}")
    // within a shard directory, file order IS permutation order
    val rows = spark.read.parquet(s"$path/shard=0")
      .select("pos").as[Int].collect()
    assert(rows.toSeq == rows.sorted.toSeq,
      "rows inside a shard must be stored in permutation order")
  }

  test("manifest totals equal the corpus; checksum flags any content drift") {
    val m = Shards.manifest(docs, nShards = 8, seed = "s42").collect()
    assert(m.map(_.getAs[Long]("n_docs")).sum == docs.count())
    val expTok = docs.select(sum(size(split($"text", " ")).cast("long")))
      .collect().head.getLong(0)
    assert(m.map(_.getAs[Long]("n_tokens")).sum == expTok)
    // flip one document's content → exactly that shard's checksum moves
    val tampered = docs.withColumn("text",
      when($"doc_id" === 7L, concat($"text", lit(" tampered")))
        .otherwise($"text"))
    val m2 = Shards.manifest(tampered, nShards = 8, seed = "s42").collect()
    val changed = m.zip(m2).count { case (x, y) =>
      x.getAs[Long]("checksum") != y.getAs[Long]("checksum")
    }
    assert(changed == 1, s"one tampered doc must move exactly one shard " +
      s"checksum, moved $changed")
  }
}
