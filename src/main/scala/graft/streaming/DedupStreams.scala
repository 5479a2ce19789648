package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.dedup.Dedup

/** Streaming near-duplicate dedup (E9): the incremental twin of
  * [[graft.dedup.Dedup.firstWinsKept]] — documents arrive continuously, the
  * first occupant of each MinHash-LSH bucket claims it, and any later
  * document colliding with a claimed bucket on ANY band is dropped.
  *
  * Shape: a document's 8 band signatures land in 8 unrelated buckets, so
  * the keep/drop verdict needs a per-bucket claim lookup FOLLOWED by a
  * per-document all-bands regroup — two stateful hops, which Structured
  * Streaming's single-operator state (flatMapGroupsWithState) cannot chain.
  * The production shape is therefore `foreachBatch` over an explicit claim
  * store, which is also what it should be at 100 TB: the claim set (one
  * row per distinct (band, signature) ever seen) is pipeline STATE that
  * must outlive any single job — restart, backfill, and a second ingest
  * stream all consult the same claims. The store is a parquet directory
  * read per micro-batch, periodically rewritten by [[compactClaims]] into
  * a (band, sig)-hash-partitioned layout so the file count (and listing
  * cost) stays bounded instead of growing one file per batch; at lake
  * scale the same rewrite is the Delta/Iceberg maintenance compaction,
  * and the bucketed layout makes the per-batch claim join co-located —
  * batch sizes are minutes of ingest, claims are the corpus history, so
  * the join must shuffle only the batch side.
  *
  * Batch equivalence (pinned in StreamingSpec): as long as arrival order
  * respects `doc_id` order, running any split of the corpus through
  * micro-batches yields exactly `firstWinsKept` of the whole corpus.
  */
object DedupStreams {

  /** Write `df` as the SINGLE file `dst` (tmp dir + rename): the unit of
    * idempotent micro-batch output. foreachBatch is at-least-once — a
    * plain `mode("append")` sink duplicates rows when a batch retries,
    * silently breaking any downstream hash/count. Deterministic per-batch
    * file names + delete-before-rename make a retry overwrite its own
    * output instead. The `repartition(1)` exchange keeps a map-only `df`
    * computed at full parallelism; [[idempotentStatefulBatch]]'s outputs
    * end in an aggregate, join or cache read and coalesce instead. */
  private[graft] def writeBatchFile(df: DataFrame,
                                    dst: org.apache.hadoop.fs.Path): Unit =
    writeSingleFile(df.repartition(1), dst)

  /** [[writeBatchFile]] of a frame that already has one partition. */
  private def writeSingleFile(df: DataFrame,
                              dst: org.apache.hadoop.fs.Path): Unit = {
    val spark = df.sparkSession
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // The temp dir is a SIBLING on dst's own FileSystem (underscore-
    // prefixed so parquet readers skip a crashed leftover): a local-FS
    // temp dir only works when the store is local — on HDFS/S3A the
    // listing/rename below would silently produce no file. Deterministic
    // name → a retry overwrites its own leftover.
    val tmp = new org.apache.hadoop.fs.Path(dst.getParent,
      s"_tmp-${dst.getName}")
    df.write.mode("overwrite").parquet(tmp.toString)
    val part = fs.listStatus(tmp)
      .filter(_.getPath.getName.endsWith(".parquet")).headOption
      .getOrElse(sys.error(s"batch sink wrote no parquet part under $tmp"))
    if (fs.exists(dst)) fs.delete(dst, false)
    // an unchecked failed rename surfaces only later as a downstream
    // hash/count mismatch — fail loudly at the write instead
    require(fs.rename(part.getPath, dst),
      s"batch sink rename failed: ${part.getPath} -> $dst")
    fs.delete(tmp, true)
  }

  /** One idempotent stateful micro-batch: build the batch's `shared`
    * decision frame against the CURRENT store, persist it, `split` it into
    * (out, newStoreRows), land both as deterministically-named per-batch
    * files, release the cache, then write a done-marker. At-least-once
    * foreachBatch retry semantics:
    *  - a marker means the batch fully applied → skip (including its
    *    compaction round — maintenance defers to the next multiple);
    *  - no marker but stale partial files (a failed earlier attempt) →
    *    delete them BEFORE `shared` reads the store, else the batch's own
    *    half-appended rows would poison its claim lookup;
    *  - `out` is written first and `newStoreRows` second, with no forcing
    *    job in between. The append cannot race the store read: the store
    *    DataFrame lists its files once, when the batch creates it before
    *    either write, and every job of this batch (a recomputed cache block
    *    included) scans that frozen listing; the new store file is written
    *    under a `_tmp-` sibling and renamed in only after its own write job
    *    has finished, when no job of this batch is left to run. The next
    *    batch lists the store afresh and sees it.
    * `out` ends in an aggregate or join above the cache, so its write
    * fills the cache at full parallelism; `newStoreRows` is then a cache
    * read. Both are coalesced to one partition, which adds no exchange.
    * File names carry `runId` because batchIds alone are NOT a pipeline
    * identity: a restarted or backfill query numbers its batches from 0
    * again, and (runId-less) cleanup would clobber the claims an earlier
    * run appended to the shared store. Markers are `_`-prefixed, so
    * parquet readers of either dir skip them. */
  private def idempotentStatefulBatch(spark: SparkSession, runId: String,
      batchId: Long, outDir: String, storeDir: String)
      (shared: => DataFrame)
      (split: DataFrame => (DataFrame, DataFrame)): Boolean = {
    val outFile = new org.apache.hadoop.fs.Path(outDir,
      f"batch-$runId%s-$batchId%05d.parquet")
    val storeFile = new org.apache.hadoop.fs.Path(storeDir,
      f"batch-$runId%s-$batchId%05d.parquet")
    val marker = new org.apache.hadoop.fs.Path(outDir,
      f"_batch-$runId%s-$batchId%05d.done")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) return false
    // stale-file cleanup MUST precede `shared`: the store read lists its
    // files eagerly at DataFrame creation
    Seq(outFile, storeFile).foreach(p => if (fs.exists(p)) fs.delete(p, false))
    val pinned = shared.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (out, newRows) = split(pinned)
      writeSingleFile(out.coalesce(1), outFile)
      writeSingleFile(newRows.coalesce(1), storeFile)
    } finally pinned.unpersist(blocking = true)
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
    true
  }

  private val claimsSchema = StructType(Seq(
    StructField("band", org.apache.spark.sql.types.IntegerType),
    StructField("sig", StringType),
    StructField("_owner", LongType)))

  /** Read the claim store (empty-safe: a store that does not exist yet is
    * an empty claim set, the cold-start case). */
  def readClaims(spark: SparkSession, claimsDir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(claimsDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).exists { f =>
      val n = f.getPath.getName; n.endsWith(".parquet") && !n.startsWith("_") })
      spark.read.schema(claimsSchema).parquet(claimsDir)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        claimsSchema)
  }

  /** One micro-batch decision: given this batch's signatures and the claim
    * store, return (verdicts, newClaims).
    *
    *  - a bucket already claimed drops every batch doc signing into it;
    *  - an unclaimed bucket is claimed by the batch's min doc_id (all other
    *    batch docs in it collide with that claim);
    *  - a doc is kept iff NO band collided.
    *
    * Claims are recorded for dropped docs' unclaimed buckets too (their
    * owner is still the first carrier — the sequential contract), which is
    * exactly `min(doc_id)` per unclaimed bucket.
    */
  def dedupStep(sigs: DataFrame, claims: DataFrame,
                idCol: String = "doc_id"): (DataFrame, DataFrame) =
    dedupSplit(storeJoin(sigs, claims, Seq("band", "sig"), idCol), idCol)

  /** The batch's `rows` left-joined to the store on `keys`, each carrying
    * its key's batch min (`_bmin`), whether it is the key's one owner row
    * (`_own`), and the store's owner (`_old`, null when the key is new).
    * Min and owner come from one window over `keys`, so `rows` is evaluated
    * once, and the window's `keys` partitioning is the join's, so only the
    * store side shuffles. `_own` is a row number, not `_bmin == id`: a
    * redelivered batch row must not claim its key twice. */
  private def storeJoin(rows: DataFrame, store: DataFrame, keys: Seq[String],
                        idCol: String): DataFrame = {
    // ascending id order: the running min over the default frame is
    // already the key's min at every row
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(idCol))
    rows.withColumn("_bmin", min(col(idCol)).over(w))
      .withColumn("_own", row_number().over(w) === 1)
      .join(store.withColumnRenamed("_owner", "_old").hint("shuffle_hash"),
        keys, "left")
  }

  /** (verdicts, newClaims) of a claim [[storeJoin]]: new claims are its
    * owner rows the store had not claimed, so the store is scanned once. */
  private def dedupSplit(joined: DataFrame,
                         idCol: String): (DataFrame, DataFrame) = {
    val collided = col("_old").isNotNull || col("_bmin") =!= col(idCol)
    val verdicts = joined
      .groupBy(col(idCol))
      .agg(max(collided.cast("int")).as("_dup"))
      .select(col(idCol), (lit(1) - col("_dup")).as("kept"))
    val newClaims = joined
      .filter(col("_own") && col("_old").isNull)
      .select(col("band"), col("sig"), col("_bmin").as("_owner"))
    (verdicts, newClaims)
  }

  /** Rewrite the claim store into its compact layout: all claims
    * hash-partitioned on (band, sig) into `parts` files — the bucketed
    * shape the per-batch claim join keys on, and the bound that stops the
    * store's file count (and listing cost) growing O(batches) under the
    * one-file-per-batch append. The compacted data is fully materialized
    * into a sibling temp dir BEFORE any old file is deleted, then swapped
    * in; callers run this between micro-batches (the foreachBatch driver
    * is the only writer, so the swap cannot race a reader). At lake scale
    * this is the maintenance compaction every streaming-ingest table
    * needs (Delta OPTIMIZE / Iceberg rewrite); here it is the same
    * rewrite expressed directly on the parquet directory.
    */
  def compactClaims(spark: SparkSession, claimsDir: String,
                    parts: Int = 8): Unit =
    compactStore(spark, claimsDir, claimsSchema, parts, Seq("band", "sig"))

  /** Shared compaction rewrite: snapshot the store's *.parquet listing
    * ONCE, rewrite EXACTLY that file set into `parts` hash-partitioned
    * compact files, then delete exactly the snapshot. Folding and deleting
    * a frozen snapshot — instead of re-listing before the delete — means a
    * batch file renamed in by a concurrent backfill writer (the runId
    * protocol explicitly allows one) between the compaction read and the
    * delete loop is neither folded nor deleted: it survives untouched for
    * the next compaction rather than being silently lost. Renames are
    * checked — a failed rename aborts loudly here instead of surfacing
    * later as a downstream hash mismatch. */
  private def compactStore(spark: SparkSession, dir: String,
                           schema: StructType, parts: Int,
                           keys: Seq[String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    // Exclude `_`-prefixed children: writeBatchFile's sibling temp dirs are
    // named `_tmp-<batch>.parquet` and live INSIDE this dir, so a plain
    // endsWith(".parquet") would fold a crashed writer's leftover tmp dir
    // into the compaction — duplicating rows when the markerless batch
    // replays — and the non-recursive delete below would fail on it.
    // Parquet readers already skip `_` names; this manual listing must too.
    val snapshot = fs.listStatus(p)
      .filter { f =>
        val n = f.getPath.getName
        n.endsWith(".parquet") && !n.startsWith("_")
      }.map(_.getPath)
    if (snapshot.isEmpty) return
    val tmp = new org.apache.hadoop.fs.Path(dir + "_compacting")
    spark.read.schema(schema)
      .parquet(snapshot.map(_.toString).toIndexedSeq: _*)
      .repartition(parts, keys.map(col): _*)
      .write.mode("overwrite").parquet(tmp.toString)
    snapshot.foreach(f => fs.delete(f, false))
    fs.listStatus(tmp).filter(_.getPath.getName.endsWith(".parquet"))
      .zipWithIndex.foreach { case (f, i) =>
        val dst = new org.apache.hadoop.fs.Path(p, f"compact-$i%05d.parquet")
        if (fs.exists(dst)) fs.delete(dst, false)
        require(fs.rename(f.getPath, dst),
          s"compaction rename failed: ${f.getPath} -> $dst")
      }
    fs.delete(tmp, true)
  }

  // ---- E12: streaming novelty scoring --------------------------------------

  private val gramSchema = StructType(Seq(
    StructField("gram", StringType),
    StructField("_owner", LongType)))

  /** Read the gram store (empty-safe like [[readClaims]]). */
  def readGrams(spark: SparkSession, gramsDir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(gramsDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).exists { f =>
      val n = f.getPath.getName; n.endsWith(".parquet") && !n.startsWith("_") })
      spark.read.schema(gramSchema).parquet(gramsDir)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        gramSchema)
  }

  /** (scores, newGrams) of a gram [[storeJoin]] ([[dedupSplit]]'s shape):
    * one micro-batch novelty decision over the batch's distinct (doc, gram)
    * rows and the gram store.
    *
    * A gram counts as "seen" for a document when its first carrier — the
    * store owner, or the batch's min id for store-misses — is an EARLIER
    * document. Under the id-ordered arrival contract (E9's), every store
    * owner precedes every batch id, so first = coalesce(store, batch min)
    * and the store is append-only: exactly [[graft.dedup.Dedup
    * .noveltyScores]]'s order-free min-carrier aggregate, evaluated
    * incrementally. StreamingSpec pins micro-batch-split ≡ whole-corpus.
    */
  private def noveltySplit(joined: DataFrame,
                           idCol: String): (DataFrame, DataFrame) = {
    val first = coalesce(col("_old"), col("_bmin"))
    val scores = joined
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(first < col(idCol), lit(1L)).otherwise(lit(0L)))
          .as("n_seen"))
      .select(col(idCol), col("n_grams"), col("n_seen"),
        graft.core.Exact.rnd4(lit(1.0) - col("n_seen").cast("double") /
          col("n_grams").cast("double")).as("novelty"))
    val newGrams = joined
      .filter(col("_own") && col("_old").isNull)
      .select(col("gram"), col("_bmin").as("_owner"))
    (scores, newGrams)
  }

  /** Compact the gram store ([[compactClaims]]'s rewrite keyed on gram). */
  def compactGrams(spark: SparkSession, gramsDir: String,
                   parts: Int = 8): Unit =
    compactStore(spark, gramsDir, gramSchema, parts, Seq("gram"))

  /** E12: novelty scoring as an ingest stream — the incremental twin of
    * [[graft.dedup.Dedup.noveltyScores]]. The gram store (one row per
    * distinct gram ever seen, with its first carrier) is pipeline state
    * shared by restarts and parallel backfills, exactly like the E9 claim
    * store; at lake scale it is bucketed on the gram key so the per-batch
    * lookup co-locates and only the batch side shuffles.
    */
  def noveltyStream(docs: DataFrame, gramsDir: String, outDir: String,
                    w: Int = 8, idCol: String = "doc_id",
                    textCol: String = "text",
                    compactEvery: Int = 0,
                    runId: String = ""): StreamingQuery = {
    val rid = resolveRunId(runId)
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val applied = idempotentStatefulBatch(spark, rid, batchId, outDir,
            gramsDir) {
          storeJoin(Dedup.distinctGrams(batch, w, idCol, textCol),
            readGrams(spark, gramsDir), Seq("gram"), idCol)
        }(noveltySplit(_, idCol))
        if (applied && compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          compactGrams(spark, gramsDir)
        ()
      }
      .start()
  }

  /** The per-run identity the idempotent batch files are keyed on. Pass a
    * STABLE id (with a checkpointLocation) to make a restarted query's
    * replayed batch overwrite its own files — Structured Streaming's
    * batchId-dedup contract; the default fresh id keeps a restart or a
    * second backfill writer from ever clobbering claims an earlier run
    * appended to the shared store (their batchIds also start at 0). */
  private def resolveRunId(runId: String): String =
    if (runId.nonEmpty) runId
    else java.util.UUID.randomUUID().toString.take(8)

  /** Run the stream: per micro-batch, signature the arriving documents,
    * decide against the claim store, append verdicts to `outDir` and new
    * claims to `claimsDir`. Each batch evaluates its signatures once, scans
    * the store once, and persists that one claim join for both writes; the
    * store append cannot race the batch's own store read, because that
    * read's file listing is frozen before the new file is renamed in
    * ([[idempotentStatefulBatch]]). `compactEvery` > 0 compacts the claim
    * store every that many micro-batches ([[compactClaims]]), bounding its
    * file count at `parts + compactEvery` instead of O(batches).
    */
  def nearDupStream(docs: DataFrame, claimsDir: String, outDir: String,
                    idCol: String = "doc_id",
                    textCol: String = "text",
                    compactEvery: Int = 0,
                    runId: String = ""): StreamingQuery = {
    val rid = resolveRunId(runId)
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val applied = idempotentStatefulBatch(spark, rid, batchId, outDir,
            claimsDir) {
          storeJoin(Dedup.minhashSignatures(batch, idCol = idCol,
            textCol = textCol), readClaims(spark, claimsDir),
            Seq("band", "sig"), idCol)
        }(dedupSplit(_, idCol))
        if (applied && compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          compactClaims(spark, claimsDir)
        ()
      }
      .start()
  }

  // ---- E18: streaming banded-Hamming SimHash dedup -------------------------

  private val shStoreSchema = StructType(Seq(
    StructField("blk", org.apache.spark.sql.types.IntegerType),
    StructField("key", org.apache.spark.sql.types.IntegerType),
    StructField("_owner", LongType),
    StructField("o0", org.apache.spark.sql.types.IntegerType),
    StructField("o1", org.apache.spark.sql.types.IntegerType),
    StructField("o2", org.apache.spark.sql.types.IntegerType),
    StructField("o3", org.apache.spark.sql.types.IntegerType)))

  /** Read the signature store (empty-safe like [[readClaims]]). */
  def readShStore(spark: SparkSession, storeDir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(storeDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).exists { f =>
      val n = f.getPath.getName; n.endsWith(".parquet") && !n.startsWith("_") })
      spark.read.schema(shStoreSchema).parquet(storeDir)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        shStoreSchema)
  }

  /** One micro-batch banded-Hamming decision: given this batch's block
    * rows ([[graft.dedup.Dedup.simhashBlocks]]) and the signature store,
    * return (verdicts, newStoreRows).
    *
    * Unlike E9's bucket CLAIMS, a block-key collision is only a
    * candidate: the verdict needs the full 64-bit Hamming check against
    * the colliding owner's signature, so the store keeps every prior
    * document's block rows (the at-rest form of the D79 join's left
    * side — O(docs·4) rows, bucketed on (blk, key) at lake scale so only
    * the batch side shuffles). A doc is dropped iff ANY earlier doc —
    * from the store or earlier in this batch — shares a block within
    * distance `maxDist`; the pigeonhole guarantee makes that the
    * complete d ≤ maxDist test, exactly
    * [[graft.dedup.Dedup.simhashFirstWins]]'s contract.
    */
  def simhashStep(blocks: DataFrame, store: DataFrame, maxDist: Int = 3,
                  idCol: String = "doc_id"): (DataFrame, DataFrame) = {
    def ham(a: Seq[String], b: Seq[String]) =
      a.zip(b).map { case (x, y) =>
        bit_count(col(x).bitwiseXOR(col(y))) }.reduce(_ + _)
    val bs = Seq("b0", "b1", "b2", "b3")
    val os = Seq("o0", "o1", "o2", "o3")
    val fromStore = blocks.join(store.hint("shuffle_hash"), Seq("blk", "key"))
      .filter(col("_owner") < col("id") && ham(bs, os) <= maxDist)
      .select(col("id"))
    val earlier = blocks.select(col("blk").as("_blkb"), col("key").as("_keyb"),
      col("id").as("_oid"), col("b0").as("o0"), col("b1").as("o1"),
      col("b2").as("o2"), col("b3").as("o3"))
    val fromBatch = blocks
      .join(earlier, col("blk") === col("_blkb") &&
        col("key") === col("_keyb") && col("_oid") < col("id"))
      .filter(ham(bs, os) <= maxDist)
      .select(col("id"))
    val dups = fromStore.unionByName(fromBatch).distinct()
      .withColumn("_dup", lit(true))
    val verdicts = blocks.select(col("id")).distinct()
      .join(dups.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id").as(idCol), col("_dup").isNull.as("kept"))
    val newRows = blocks.select(col("blk"), col("key"),
      col("id").as("_owner"), col("b0").as("o0"), col("b1").as("o1"),
      col("b2").as("o2"), col("b3").as("o3"))
    (verdicts, newRows)
  }

  /** The CAPPED-corpus variant of [[simhashStep]]: arrivals landing in a
    * SATURATED bucket are QUARANTINED — no keep/drop verdict, signature
    * not stored — instead of silently diverging from the batch anchor.
    *
    * Why: the batch anchor's `maxBucket` guard is a GLOBAL bucket-size
    * statistic a causal stream cannot consult (the full corpus's bucket
    * sizes aren't known at arrival time), so stream ≡ anchor parity is
    * only a theorem on corpora where the cap never binds (the E18 gate's
    * slice corpus). On corpora where it DOES bind, this mode makes the
    * divergence surface explicit and bounded:
    *
    *  - a doc is quarantined iff ANY of its 4 block buckets is saturated
    *    at its arrival — store occupancy plus earlier same-batch arrivals
    *    in that bucket ≥ `maxBucket`. (Occupancy is judged pessimistically:
    *    an earlier same-batch arrival counts even if it is itself
    *    quarantined via another bucket — saturation quarantines slightly
    *    eagerly, never lazily, keeping the decision one-pass instead of
    *    sequentially dependent across buckets.)
    *  - quarantined docs contribute NOTHING: not stored, not dup evidence
    *    for later arrivals. They are the deferred set a production
    *    pipeline adjudicates offline (through the batch path, or with a
    *    wider cap) — exactly what a boilerplate-flooded bucket needs,
    *    since past the cap its occupants are overwhelmingly template
    *    copies whose individual verdicts no longer carry signal.
    *
    * The contract this buys (pinned by StreamingSpec): verdicts over the
    * DECIDED set D equal the cap-FREE batch anchor run on D alone —
    * the stream degrades by narrowing its decided corpus, never by
    * answering differently on it. Output schema gains `quarantined`
    * (kept is NULL on quarantined rows).
    */
  def simhashStepCapped(blocks: DataFrame, store: DataFrame,
                        maxDist: Int, maxBucket: Int,
                        idCol: String = "doc_id"): (DataFrame, DataFrame) = {
    require(maxBucket > 0, "simhashStepCapped: maxBucket must be positive")
    val sizes = store.groupBy("blk", "key").agg(count(lit(1)).as("_sn"))
    // occupancy at arrival = stored rows + earlier batch arrivals in the
    // same bucket (rank by id within (blk, key) — the causal order)
    val w = Window.partitionBy("blk", "key").orderBy(col("id").asc)
    val occ = blocks
      .withColumn("_r", row_number().over(w))
      .join(sizes.hint("shuffle_hash"), Seq("blk", "key"), "left")
      .withColumn("_occ", coalesce(col("_sn"), lit(0L)) + col("_r") - 1)
    val quarantined = occ.groupBy(col("id"))
      .agg(max((col("_occ") >= maxBucket).cast("int")).as("_q"))
      .filter(col("_q") === 1)
      .select(col("id"))
    val decided = blocks.join(quarantined, Seq("id"), "left_anti")
    val (verdicts, newRows) = simhashStep(decided, store, maxDist, idCol)
    val vOut = verdicts
      .select(col(idCol), col("kept"), lit(false).as("quarantined"))
      .unionByName(quarantined.select(col("id").as(idCol),
        lit(null).cast("boolean").as("kept"), lit(true).as("quarantined")))
    (vOut, newRows)
  }

  /** Compact the signature store ([[compactClaims]]'s rewrite keyed on
    * (blk, key)). */
  def compactShStore(spark: SparkSession, storeDir: String,
                     parts: Int = 8): Unit =
    compactStore(spark, storeDir, shStoreSchema, parts, Seq("blk", "key"))

  /** E18: banded-Hamming SimHash dedup as an ingest stream — the
    * incremental twin of [[graft.dedup.Dedup.simhashFirstWins]]. Note the
    * batch anchor's `maxBucket` boilerplate cap is a CANDIDATE guard, not
    * a semantic: the stream consults every stored signature, so parity
    * holds whenever the cap does not bind (StreamingSpec pins it on such
    * a corpus; a production deployment sizes the cap so it never binds on
    * genuine near-dups).
    *
    * `maxBucket` > 0 switches to the CAPPED-corpus mode
    * ([[simhashStepCapped]]): saturated-bucket arrivals are quarantined
    * (kept NULL, `quarantined` column added) instead of silently
    * diverging from the anchor; decided verdicts equal the cap-free
    * anchor on the decided subset. 0 (default) is the cap-free mode the
    * gate key runs.
    */
  def simhashDedupStream(docs: DataFrame, storeDir: String, outDir: String,
                         maxDist: Int = 3, idCol: String = "doc_id",
                         textCol: String = "text",
                         compactEvery: Int = 0,
                         runId: String = "",
                         maxBucket: Int = 0): StreamingQuery = {
    val rid = resolveRunId(runId)
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // the block rows feed the store side and both Hamming joins: the
        // batch persists them so their signatures are evaluated once
        val applied = idempotentStatefulBatch(spark, rid, batchId, outDir,
            storeDir)(Dedup.simhashBlocks(batch, idCol, textCol)) { blocks =>
          val store = readShStore(spark, storeDir)
          if (maxBucket > 0) {
            val (verdicts, newRows) =
              simhashStepCapped(blocks, store, maxDist, maxBucket, idCol)
            // token-less docs: no signature → no dup evidence → kept
            val verdictsFull = batch.select(col(idCol))
              .join(verdicts, Seq(idCol), "left")
              .select(col(idCol),
                when(coalesce(col("quarantined"), lit(false)), col("kept"))
                  .otherwise(coalesce(col("kept"), lit(true))).as("kept"),
                coalesce(col("quarantined"), lit(false)).as("quarantined"))
            (verdictsFull, newRows)
          } else {
            val (verdicts, newRows) =
              simhashStep(blocks, store, maxDist, idCol)
            // token-less docs carry no signature → no dup evidence → kept
            // (the simhashFirstWins contract)
            val verdictsFull = batch.select(col(idCol))
              .join(verdicts, Seq(idCol), "left")
              .select(col(idCol), coalesce(col("kept"), lit(true)).as("kept"))
            (verdictsFull, newRows)
          }
        }
        if (applied && compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          compactShStore(spark, storeDir)
        ()
      }
      .start()
  }
}
