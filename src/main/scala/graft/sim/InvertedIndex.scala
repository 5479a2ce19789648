package graft.sim

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.core.{Exact, Tables}
import graft.functions.TextFunctions

/** Persisted inverted-index lifecycle — SURVEY.md §2D89.
  *
  * The at-rest form of the D51 lexical leg: postings written PARTITIONED BY
  * a deterministic term bucket (`bucket = md5(term)[0:4] mod nBuckets`), so
  * a query's terms become a partition IN-filter and the scan reads only the
  * probed bucket directories — |terms|/nBuckets of the lake, the same
  * directory-pruning contract the IVF layouts prove via `inputFiles`
  * (reference analog: the per-query postings recompute in
  * openeo_processes_dask_ml has no at-rest index; this is the piece a
  * 100 TB corpus needs so a search never re-tokenizes the lake).
  *
  * Index maintenance mirrors the FAISS-style train/add/delete/compact
  * contract of [[Ann]]:
  *  - [[build]]: one tokenize pass → postings with the doc length INLINE in
  *    each row (BM25 needs dl per posting; denormalizing it kills the
  *    doclens join on the query path, exactly like `_c_emb` riding inside
  *    the IVF rows), plus two sidecars — `doclens` (the maintenance
  *    ledger) and `stats` (batch-partial corpus totals).
  *  - [[add]]: new docs append O(new) postings into their bucket
  *    directories plus one partial stats row; no rewrite, probe path
  *    unchanged.
  *  - [[delete]]: tombstone sidecar (the Delta/Iceberg delete-file
  *    pattern) plus a NEGATIVE stats row computed from the doclens ledger
  *    — O(deleted) work, so corpus totals stay exact without ever
  *    re-scanning the postings. Queries anti-join the broadcast-small
  *    tombstones until compaction.
  *  - [[compact]]: fold tombstones into postings + doclens through the
  *    IVF layouts' one compaction ([[Ann.compactTombstones]]: a checked
  *    crash-safe rename-aside swap — a failure at any point leaves a
  *    complete directory under a deterministic name; a leftover `_old`
  *    from a prior crash is cleared first; tombstones are removed last).
  *
  * Stats as batch-partial rows (one per build/add/delete) make corpus
  * totals an O(#batches) aggregate at query time — never an O(docs) scan —
  * the same "mergeable partials" shape as the D34/D38 sketches. Single
  * maintenance writer assumed, like every layout here.
  */
object InvertedIndex {

  /** Deterministic term → bucket: first 4 md5 hex digits mod nBuckets.
    * Data-independent, so the driver can compute a literal query term's
    * bucket without touching the index ([[bucketOfTerm]]). */
  private def termBucket(term: Column, nBuckets: Int): Column =
    (conv(substring(md5(term), 1, 4), 16, 10).cast("int") % nBuckets)
      .as("bucket")

  /** Driver-side twin of [[termBucket]] for literal query terms. */
  def bucketOfTerm(term: String, nBuckets: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes("UTF-8"))
    val hex4 = d.take(2).map(b => f"$b%02x").mkString
    Integer.parseInt(hex4, 16) % nBuckets
  }

  private def postingsOf(docs: DataFrame, nBuckets: Int, idCol: String,
                         textCol: String): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    docs.select(col(idCol).as("doc_id"), size(toks).as("dl"),
        explode(toks).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      .withColumn("bucket", termBucket(col("term"), nBuckets))
  }

  private def statsRow(docs: DataFrame, idCol: String, textCol: String,
                       sign: Int): DataFrame =
    docs.agg((count(lit(1)) * sign).as("n_docs"),
      (coalesce(sum(size(TextFunctions.tokens(col(textCol))).cast("long")),
        lit(0L)) * sign).as("total_len"))

  /** Materialize the index: bucket-partitioned postings + doclens ledger +
    * the first stats partial + an nBuckets meta sidecar, written on the
    * driver ([[Tables.writeSidecar]], no Spark job). */
  def build(docs: DataFrame, path: String, nBuckets: Int = 16,
            idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    postingsOf(docs, nBuckets, idCol, textCol)
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/postings")
    docs.select(col(idCol).as("doc_id"),
        size(TextFunctions.tokens(col(textCol))).as("dl"))
      .write.mode("overwrite").parquet(s"$path/doclens")
    statsRow(docs, idCol, textCol, 1)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
    Tables.writeSidecar(spark, s"$path/meta", MetaSchema, Seq(Row(nBuckets)))
  }

  private val MetaSchema =
    StructType(Seq(StructField("n_buckets", IntegerType, nullable = false)))

  /** The stored bucket count, read on the driver: no Spark job. */
  private def nBucketsOf(spark: SparkSession, path: String): Int =
    Tables.readSidecar(spark, s"$path/meta", MetaSchema).head.getInt(0)

  /** Incremental add: O(new) postings append into their bucket
    * directories + doclens append + one stats partial. Never rewrites. */
  def add(newDocs: DataFrame, path: String,
          idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val spark = newDocs.sparkSession
    val nBuckets = nBucketsOf(spark, path)
    postingsOf(newDocs, nBuckets, idCol, textCol)
      .write.mode("append").partitionBy("bucket").parquet(s"$path/postings")
    newDocs.select(col(idCol).as("doc_id"),
        size(TextFunctions.tokens(col(textCol))).as("dl"))
      .write.mode("append").parquet(s"$path/doclens")
    statsRow(newDocs, idCol, textCol, 1)
      .coalesce(1).write.mode("append").parquet(s"$path/stats")
  }

  /** Tombstone deletes: append the NEWLY-dead ids (ids unknown to the
    * doclens ledger or already tombstoned are ignored, so a re-submitted
    * delete cannot double-subtract the stats) plus one negative stats
    * partial computed from the doclens ledger — one broadcast-semi-join
    * scan of the O(docs) two-column ledger (no shuffle), then O(deleted)
    * writes. The dead set is cached across its two consumers so the
    * ledger is scanned once, not twice. */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
             idCol: String = "doc_id"): Unit = {
    val ledger = Tables.parquet(spark, s"$path/doclens")
    // cast caller ids to the ledger's own doc_id type: build/add/query are
    // doc-id-type-agnostic, so a hardcoded long cast would null out string
    // ids and silently no-op the delete
    val idType = ledger.schema("doc_id").dataType
    val live = ledger
      .join(broadcast(ids.select(col(idCol).cast(idType).as("doc_id"))
        .distinct()), Seq("doc_id"))
    val dead = Ann.tombstones(spark, path, "doc_id")
      .fold(live)(t => live.join(broadcast(t), Seq("doc_id"), "left_anti"))
      .persist()
    try {
      dead.agg((-count(lit(1))).as("n_docs"),
          (-coalesce(sum(col("dl").cast("long")), lit(0L))).as("total_len"))
        .coalesce(1).write.mode("append").parquet(s"$path/stats")
      dead.select("doc_id")
        .repartition(1).write.mode("append").parquet(s"$path/tombstones")
    } finally dead.unpersist(false)
  }

  /** Maintenance rewrite: fold tombstones into postings and doclens,
    * keeping the bucket layout, through the IVF layouts' one compaction
    * ([[Ann.compactTombstones]]: checked crash-safe rename-aside swap per
    * directory; tombstones removed last, after both swaps, so a crash or
    * failed rename at any earlier point only re-applies the anti-join on
    * the next query). */
  def compact(spark: SparkSession, path: String): Unit =
    Ann.compactTombstones(spark, path, "doc_id",
      "postings" -> ((df: DataFrame, out: String) =>
        df.write.mode("overwrite").partitionBy("bucket").parquet(out)),
      "doclens" -> ((df: DataFrame, out: String) =>
        df.write.mode("overwrite").parquet(out)))

  /** The pruned postings scan a query performs: query-term buckets →
    * partition IN-filter (directory pruning, computed driver-side from the
    * literal terms — no data read), term IN-filter map-side, minus
    * tombstones. Public so the spec can assert file-level pruning via
    * `inputFiles`, like [[Ann.probedScan]]. */
  def probedScan(spark: SparkSession, path: String,
                 terms: Seq[String]): DataFrame = {
    val nBuckets = nBucketsOf(spark, path)
    val buckets = terms.map(bucketOfTerm(_, nBuckets)).distinct
    val scan = Tables.parquet(spark, s"$path/postings")
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("term").isin(terms: _*))
    Ann.tombstones(spark, path, "doc_id").fold(scan)(t =>
      scan.join(broadcast(t), Seq("doc_id"), "left_anti"))
  }

  /** BM25-shape query over the built layout — the exact arithmetic of the
    * D51 direct ranking (rational log-free idf, pinned saturation /
    * length-normalization doubles, fixed-order term sum, distributed
    * (score DESC, doc_id ASC) top-k), so an index round-trip shares the
    * direct query's hash oracle. Corpus totals come from the O(#batches)
    * stats partials; df/tf from the pruned scan itself. */
  def query(spark: SparkSession, path: String, rawTerms: Seq[String],
            topN: Int): DataFrame = {
    require(rawTerms.nonEmpty, "InvertedIndex.query: no terms")
    // dedup caller-supplied terms: the score is a fixed-order sum of one
    // conditional sum per element, so a repeated term would count twice
    // (probedScan/dfTab already dedup via isin)
    val terms = rawTerms.distinct
    val postings = probedScan(spark, path, terms)
    val stats = Tables.parquet(spark, s"$path/stats")
      .agg(sum("n_docs").as("n"), sum("total_len").as("total_len"))
    val dfTab = postings.groupBy("term").agg(count(lit(1)).as("df"))
    val nD = col("n").cast("double")
    val dfD = col("df").cast("double")
    val rel = col("dl").cast("double") /
      (col("total_len").cast("double") / nD)
    val idfR = (nD - dfD + 0.5) / (dfD + 0.5)
    val sat = col("tf").cast("double") * lit(2.2) /
      (col("tf").cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) * rel))
    val comp = postings
      .join(broadcast(dfTab), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), (idfR * sat).as("c"))
    val score = terms.map { t =>
      coalesce(sum(when(col("term") === t, col("c"))), lit(0.0))
    }.reduceLeft(_ + _)
    comp.groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), score.as("_score"))
      .orderBy(col("_score").desc, col("doc_id").asc)
      .limit(topN)
      .select(col("doc_id"), col("n_terms"),
        Exact.rnd4(col("_score")).as("score"))
  }
}
