package graft

import org.apache.spark.sql.functions._

import graft.core.{Fixtures, Tables}
import graft.sim.{InvertedIndex, Retrieval}

/** The D89 persisted inverted-index lifecycle (SURVEY.md §2D89): bucket
  * partition pruning on the query path, build/add/delete/compact parity
  * with the direct BM25 ranking, stats-partial exactness under deletes,
  * and crash-recoverable compaction.
  */
class InvertedIndexSpec extends SparkSpec {

  import spark.implicits._

  private def freshIdx(prefix: String): String =
    Fixtures.dir(prefix)

  private val terms = Seq("hash", "merge", "window")

  test("query reads only the query terms' bucket directories") {
    val path = freshIdx("inv_prune")
    InvertedIndex.build(Tables.documents(spark, sfDir), path, nBuckets = 16)
    val pruned = InvertedIndex.probedScan(spark, path, Seq("hash"))
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val pf = scan.toString.split("PartitionFilters:")(1)
      .split("PushedFilters:")(0)
    assert(pf.contains("bucket#"),
      s"bucket filter must be a PARTITION filter:\n$scan")
    val readFiles = scan.metrics("numFiles").value
    val allFiles = spark.read.parquet(s"$path/postings").inputFiles.length
    assert(readFiles > 0 && readFiles < allFiles,
      s"term probe must prune buckets: read $readFiles of $allFiles files")
    info(s"single-term query read $readFiles/$allFiles posting files")
  }

  test("driver-side bucketOfTerm agrees with the Catalyst bucket column " +
    "over the whole vocabulary") {
    // the query path prunes with DRIVER-computed buckets against a layout
    // partitioned by the CATALYST expression — any divergence silently
    // returns wrong (empty) postings for the affected terms
    val vocab = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("term"))
      .distinct()
    val mismatches = vocab.withColumn("cat",
        (conv(substring(md5(col("term")), 1, 4), 16, 10).cast("int") % 16))
      .collect()
      .count { r =>
        InvertedIndex.bucketOfTerm(r.getAs[String]("term"), 16) !=
          r.getAs[Int]("cat")
      }
    assert(mismatches == 0,
      s"$mismatches vocabulary terms bucket differently driver vs Catalyst")
  }

  test("fresh build ranks identically to the direct BM25 query") {
    val path = freshIdx("inv_parity")
    val docs = Tables.documents(spark, sfDir)
    InvertedIndex.build(docs, path, nBuckets = 16)
    val got = InvertedIndex.query(spark, path, terms, topN = 15)
      .select("doc_id", "n_terms", "score").collect().toSeq
    val direct = Retrieval.bm25Rank(docs, terms, topN = 15)
      .select(col("id").as("doc_id"), col("rank")).collect()
    assert(got.map(_.getAs[Long]("doc_id")) ==
      direct.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("doc_id")).toSeq,
      "index round-trip must reproduce the direct ranking order")
  }

  test("add + delete + compact equals a direct query over the live corpus") {
    val path = freshIdx("inv_life")
    val docs = Tables.documents(spark, sfDir)
    InvertedIndex.build(docs.filter($"doc_id" % 3 =!= 2), path, nBuckets = 8)
    InvertedIndex.add(docs.filter($"doc_id" % 3 === 2), path)
    InvertedIndex.delete(spark, path,
      docs.filter($"doc_id" % 5 === 0).select("doc_id"))
    // tombstone path (pre-compact) and compacted path must agree
    val before = InvertedIndex.query(spark, path, terms, topN = 20).collect()
    InvertedIndex.compact(spark, path)
    val after = InvertedIndex.query(spark, path, terms, topN = 20).collect()
    assert(before.toSeq == after.toSeq,
      "compaction must not change the ranking")
    val live = docs.filter($"doc_id" % 5 =!= 0)
    val direct = Retrieval.bm25Rank(live, terms, topN = 20).collect()
      .sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("id")).toSeq
    assert(after.map(_.getAs[Long]("doc_id")).toSeq == direct,
      "lifecycle index must equal the direct ranking over the live corpus")
    // stats partials must equal the live corpus totals exactly
    val st = spark.read.parquet(s"$path/stats")
      .agg(sum("n_docs"), sum("total_len")).collect().head
    val expN = live.count()
    val expLen = live.select(sum(size(split($"text", " ")).cast("long")))
      .collect().head.getLong(0)
    assert(st.getLong(0) == expN && st.getLong(1) == expLen,
      s"stats partials must cancel exactly: got $st, want ($expN, $expLen)")
  }

  test("re-submitted delete does not double-subtract the stats") {
    val path = freshIdx("inv_redel")
    val docs = Tables.documents(spark, sfDir)
    InvertedIndex.build(docs, path, nBuckets = 8)
    val dead = docs.filter($"doc_id" % 11 === 0).select("doc_id")
    InvertedIndex.delete(spark, path, dead)
    InvertedIndex.delete(spark, path, dead) // idempotent re-submit
    val st = spark.read.parquet(s"$path/stats")
      .agg(sum("n_docs")).collect().head.getLong(0)
    assert(st == docs.count() - dead.count(),
      "second delete of the same ids must be a no-op on stats")
  }

  test("delete matches string doc ids on the ledger's native type") {
    // build/add/query are doc-id-type-agnostic; a hardcoded long cast in
    // delete would null string ids, match nothing, and silently no-op
    val path = freshIdx("inv_strid")
    val docs = Tables.documents(spark, sfDir)
      .select(concat(lit("doc-"), $"doc_id").as("doc_id"), $"text")
    InvertedIndex.build(docs, path, nBuckets = 8)
    val dead = docs.filter($"doc_id".endsWith("0")).select("doc_id")
    InvertedIndex.delete(spark, path, dead)
    val st = spark.read.parquet(s"$path/stats")
      .agg(sum("n_docs")).collect().head.getLong(0)
    assert(st == docs.count() - dead.count(),
      "string-id delete must subtract exactly the dead docs from stats")
    val hits = InvertedIndex.query(spark, path, terms, topN = 50)
      .filter($"doc_id".endsWith("0")).count()
    assert(hits == 0, "tombstoned string ids must not rank")
  }

  test("repeated query terms do not double-count") {
    val path = freshIdx("inv_dup")
    val docs = Tables.documents(spark, sfDir)
    InvertedIndex.build(docs, path, nBuckets = 8)
    val once = InvertedIndex.query(spark, path, terms, topN = 10).collect()
    val duped = InvertedIndex.query(spark, path,
      terms ++ terms, topN = 10).collect()
    assert(once.toSeq == duped.toSeq,
      "a duplicated term must not add its score contribution twice")
    val direct = Retrieval.bm25Rank(docs, terms ++ terms, topN = 10)
      .collect().sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("id")).toSeq
    assert(once.map(_.getAs[Long]("doc_id")).toSeq == direct,
      "bm25Rank must share the dedup contract")
  }

  test("compaction recovers from a leftover _old directory") {
    val path = freshIdx("inv_crash")
    val docs = Tables.documents(spark, sfDir)
    InvertedIndex.build(docs, path, nBuckets = 8)
    InvertedIndex.delete(spark, path,
      docs.filter($"doc_id" % 9 === 0).select("doc_id"))
    val expect = InvertedIndex.query(spark, path, terms, topN = 10).collect()
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the post-crash state: a complete postings_old beside data
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$path/postings"), fs,
      new org.apache.hadoop.fs.Path(s"$path/postings_old"), false,
      spark.sparkContext.hadoopConfiguration)
    InvertedIndex.compact(spark, path)
    for (leftover <- Seq("postings_old", "postings_compacting",
        "doclens_old", "doclens_compacting", "tombstones"))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/$leftover")),
        s"$leftover must not survive a recovery compaction")
    val got = InvertedIndex.query(spark, path, terms, topN = 10).collect()
    assert(got.toSeq == expect.toSeq,
      "recovery compaction changed the ranking")
  }
}
