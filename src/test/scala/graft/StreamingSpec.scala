package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.core.{Fixtures, Tables}
import graft.streaming.{Event, EventStreams}

/** Streaming ↔ batch parity: the exact transforms graded by the DuckDB
  * oracle in batch form must produce the same answers when executed as
  * Structured Streaming over a MemoryStream fed incrementally.
  */
class StreamingSpec extends SparkSpec {

  private def realEvents(maxUser: Long): Seq[Event] = {
    Tables.events(spark, sfDir)
      .filter(col("user_id") < maxUser)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .collect()
      .map(r => Event(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
      .sortBy(e => (e.ts.getTime, e.event_id))
      .toSeq
  }

  test("E1 windowed stats: incremental streaming equals batch") {
    import spark.implicits._
    val events = realEvents(30)
    val ms = MemoryStream[Event](spark)
    val q = EventStreams.windowedStats(ms.toDF())
      .writeStream.format("memory").queryName("ws_parity")
      .outputMode("complete").start()
    try {
      val (a, b) = events.splitAt(events.length / 2)
      ms.addData(a); q.processAllAvailable()
      ms.addData(b); q.processAllAvailable()
      val streamed = spark.table("ws_parity")
      val batch = EventStreams.windowedStats(
        events.toDF().select("ts", "event_type", "value"))
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty,
        "streaming windowed stats diverge from batch")
    } finally q.stop()
  }

  test("E10 sketches ARE streaming state: CMS + KMV + Bloom over micro-batches " +
    "equal the batch sketch") {
    import spark.implicits._
    // the mergeable aggregates double as streaming state with no extra
    // machinery: Spark partial-aggregates each micro-batch map-side and
    // MERGES into the state store — the same merge() the batch plan runs,
    // so the complete-mode result is bit-identical to one batch pass.
    // This is the 100 TB ingest shape: per-day/per-batch sketches combine
    // by merge, never by rescan.
    val vals = (1 to 900).map(i => s"k${i % 113}")
    val ms = MemoryStream[String](spark)
    val q = ms.toDF().toDF("v")
      .agg(graft.functions.Sketch.countMin(col("v"), 4, 128).as("cms"),
        graft.functions.Sketch.bottomK(md5(col("v")), 32).as("kmv"),
        graft.functions.Sketch.bloom(col("v"), 4096, 3).as("bf"))
      .writeStream.format("memory").queryName("sk_parity")
      .outputMode("complete").start()
    try {
      vals.grouped(300).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
      val streamed = spark.table("sk_parity")
      val batch = vals.toDF("v")
        .agg(graft.functions.Sketch.countMin(col("v"), 4, 128).as("cms"),
          graft.functions.Sketch.bottomK(md5(col("v")), 32).as("kmv"),
          graft.functions.Sketch.bloom(col("v"), 4096, 3).as("bf"))
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty,
        "streamed sketches diverge from the batch sketches")
    } finally q.stop()
  }

  test("E11 streaming index ingest: foreachBatch ivfPqAdd equals the " +
    "one-shot index") {
    import spark.implicits._
    // the daily-ingest story made a stream: vectors arrive in micro-
    // batches, each batch encodes with the STORED quantizers and appends
    // inside its cell dirs (add never retrains) — after any number of
    // batches the probe sees one homogeneous layout identical to
    // indexing everything at once
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb.filter(col("vec_id") % 4 === 0)
    val cents = graft.sim.Ann.seededCentroids(base, nlist = 16)
    val books = graft.sim.Ann.pqCodebooks(base, m = 4, ksub = 16, dims = 64)
    val path = Fixtures.dir("stream_idx")
    graft.sim.Ann.ivfPqBuild(base, path, nlist = 16, m = 4, ksub = 16,
      dims = 64, coarse = Some(cents), books = Some(books))
    val arrivals = emb.filter(col("vec_id") % 4 =!= 0)
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    val ms = MemoryStream[(Long, Seq[Float])](spark)
    val q = ms.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.sim.Ann.ivfPqAdd(batch, path)
      }.start()
    try {
      arrivals.grouped((arrivals.size + 2) / 3).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    val qs = emb.filter(col("vec_id") < 20)
    val probed = graft.sim.Ann.ivfPqProbe(spark, path, qs, k = 5, nProbe = 4)
    val oneShot = graft.sim.Ann.ivfPqTopK(qs, emb, k = 5, nlist = 16,
      nProbe = 4, coarse = Some(cents), books = Some(books))
    assert(probed.exceptAll(oneShot).isEmpty &&
      oneShot.exceptAll(probed).isEmpty,
      "stream-ingested index diverges from the one-shot index")
  }

  test("E11b streaming ingest into the RESIDUAL layout equals the " +
    "one-shot residual index") {
    import spark.implicits._
    // same daily-ingest stream against the FAISS-default encoding: each
    // micro-batch encodes residuals with the STORED quantizers
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb.filter(col("vec_id") % 4 === 0)
    val cents = graft.sim.Ann.seededCentroids(base, nlist = 16)
    val books = graft.sim.Ann.pqResidualCodebooks(base, cents, m = 4,
      ksub = 16, dims = 64)
    val path = Fixtures.dir("stream_residx")
    graft.sim.Ann.ivfPqResidualBuild(base, path, nlist = 16, m = 4,
      ksub = 16, dims = 64, coarse = Some(cents), books = Some(books))
    val arrivals = emb.filter(col("vec_id") % 4 =!= 0)
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    val ms = MemoryStream[(Long, Seq[Float])](spark)
    val q = ms.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.sim.Ann.ivfPqResidualAdd(batch, path)
      }.start()
    try {
      arrivals.grouped((arrivals.size + 2) / 3).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    val qs = emb.filter(col("vec_id") < 20)
    val probed = graft.sim.Ann.ivfPqResidualProbe(spark, path, qs, k = 5,
      nProbe = 4)
    val oneShot = graft.sim.Ann.ivfPqResidualTopK(qs, emb, k = 5,
      nlist = 16, nProbe = 4, coarse = Some(cents), books = Some(books))
    assert(probed.exceptAll(oneShot).isEmpty &&
      oneShot.exceptAll(probed).isEmpty,
      "stream-ingested residual index diverges from the one-shot index")
  }

  test("E20 streaming postings ingest: foreachBatch InvertedIndex.add " +
    "equals the one-shot index") {
    import spark.implicits._
    // the crawl-ingest story made a stream: documents arrive in micro-
    // batches, each batch appends its postings inside the term-bucket
    // dirs plus one stats partial (add never rewrites) — after any number
    // of batches a query sees one homogeneous layout identical to
    // indexing the whole corpus at once
    val docs = Tables.documents(spark, sfDir)
    val base = docs.filter(col("doc_id") % 4 === 0)
    val path = Fixtures.dir("stream_inv")
    graft.sim.InvertedIndex.build(base, path, nBuckets = 8)
    val arrivals = docs.filter(col("doc_id") % 4 =!= 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val ms = MemoryStream[(Long, String)](spark)
    val q = ms.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.sim.InvertedIndex.add(batch, path)
      }.start()
    try {
      arrivals.grouped((arrivals.size + 2) / 3).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    val terms = Seq("hash", "merge", "window")
    val streamed = graft.sim.InvertedIndex.query(spark, path, terms,
      topN = 20)
    val oneShotPath = Fixtures.dir("oneshot_inv")
    graft.sim.InvertedIndex.build(docs, oneShotPath, nBuckets = 8)
    val oneShot = graft.sim.InvertedIndex.query(spark, oneShotPath, terms,
      topN = 20)
    assert(streamed.exceptAll(oneShot).isEmpty &&
      oneShot.exceptAll(streamed).isEmpty,
      "stream-ingested inverted index diverges from the one-shot index")
  }

  test("E21 streaming shard manifest: complete-mode manifest over " +
    "micro-batches equals the batch manifest") {
    import spark.implicits._
    // the D90 manifest's aggregates (counts, sums, bit_xor, min_by) are
    // all MERGEABLE, so the data card doubles as streaming state: each
    // micro-batch partial-aggregates map-side and merges into the store —
    // the export manifest of an ingest stream is always current, no
    // rescan. Same contract as E10's sketches-as-state.
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val ms = MemoryStream[(Long, String)](spark)
    val q = graft.sources.Shards.manifest(
        ms.toDF().toDF("doc_id", "text"), nShards = 4, seed = "s42")
      .writeStream.format("memory").queryName("shard_manifest")
      .outputMode("complete").start()
    try {
      docs.grouped((docs.size + 2) / 3).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
      val streamed = spark.table("shard_manifest")
      val batch = graft.sources.Shards.manifest(
        docs.toDF("doc_id", "text"), nShards = 4, seed = "s42")
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty,
        "streaming manifest diverges from the batch manifest")
    } finally q.stop()
  }

  test("E2 sessionize: flatMapGroupsWithState equals batch window semantics") {
    import spark.implicits._
    val events = realEvents(20)
    val gapSec = 21600L
    val lastTs = events.map(_.ts.getTime).max
    // sentinels push the watermark past every real session's gap horizon
    val sentinelTs = lastTs + 3L * 86400 * 1000
    val users = events.map(_.user_id).distinct
    val sentinels = users.zipWithIndex.map { case (u, i) =>
      Event(900000L + i, new Timestamp(sentinelTs), u, "sentinel", 0.0)
    }
    val flush = users.zipWithIndex.map { case (u, i) =>
      Event(910000L + i, new Timestamp(sentinelTs + 86400 * 1000), u,
        "sentinel", 0.0)
    }

    val ms = MemoryStream[Event](spark)
    val q = EventStreams.sessionizeStream(ms.toDS(), gapSec)
      .writeStream.format("memory").queryName("sess_parity")
      .outputMode("append").start()
    try {
      val third = events.length / 3
      ms.addData(events.take(third)); q.processAllAvailable()
      ms.addData(events.slice(third, 2 * third)); q.processAllAvailable()
      ms.addData(events.drop(2 * third)); q.processAllAvailable()
      ms.addData(sentinels); q.processAllAvailable()
      ms.addData(flush); q.processAllAvailable()

      val streamed = spark.table("sess_parity")
        .filter(col("session_start") < new Timestamp(sentinelTs))
      val batch = EventStreams.sessionizeBatch(events.toDF(), gapSec)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("sum_value"))

      val joined = streamed.as("s").join(batch.as("b"),
        col("s.user_id") === col("b.user_id") &&
          col("s.session_start") === col("b.session_start"))
      assert(joined.count() == batch.count() &&
        streamed.count() == batch.count(),
        s"session count mismatch: stream=${streamed.count()} batch=${batch.count()}")
      val bad = joined.filter(
        col("s.session_end") =!= col("b.session_end") ||
          col("s.n_events") =!= col("b.n_events") ||
          abs(col("s.sum_value") - col("b.sum_value")) > 0.001).count()
      assert(bad == 0, "session contents diverge between streaming and batch")
    } finally q.stop()
  }

  test("E2 session_window: native session aggregate equals batch semantics") {
    import spark.implicits._
    // batch ≡ batch: the declarative session_window aggregate must produce
    // exactly the window-function sessions on the full table
    val full = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val cols = Seq("user_id", "session_start", "session_end", "n_events",
      "sum_value")
    val viaSw = EventStreams.sessionizeSessionWindow(full, 21600L)
      .select(cols.map(col): _*)
    val viaBatch = EventStreams.sessionizeBatch(full, 21600L)
      .select(cols.map(col): _*)
    assert(viaSw.exceptAll(viaBatch).isEmpty &&
      viaBatch.exceptAll(viaSw).isEmpty,
      "session_window sessions diverge from the window-function form")

    // streaming: the same transform over an incremental MemoryStream emits
    // the same closed sessions under watermark eviction
    val events = realEvents(20)
    val lastTs = events.map(_.ts.getTime).max
    val sentinelTs = lastTs + 3L * 86400 * 1000
    val sentinels = events.map(_.user_id).distinct.zipWithIndex.map {
      case (u, i) => Event(920000L + i, new Timestamp(sentinelTs), u,
        "sentinel", 0.0)
    }
    val ms = MemoryStream[Event](spark)
    val q = EventStreams.sessionizeSessionWindow(ms.toDF(), 21600L,
      delay = "10 minutes")
      .writeStream.format("memory").queryName("sw_sess_parity")
      .outputMode("append").start()
    try {
      val third = events.length / 3
      ms.addData(events.take(third)); q.processAllAvailable()
      ms.addData(events.slice(third, 2 * third)); q.processAllAvailable()
      ms.addData(events.drop(2 * third)); q.processAllAvailable()
      ms.addData(sentinels); q.processAllAvailable()
      val streamed = spark.table("sw_sess_parity")
        .filter(col("session_start") < new Timestamp(sentinelTs))
        .select(cols.map(col): _*)
      val batch = EventStreams.sessionizeBatch(events.toDF(), 21600L)
        .select(cols.map(col): _*)
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty,
        "streaming session_window sessions diverge from batch")
    } finally q.stop()
  }

  test("E8 attribution: stream-stream interval join equals batch join") {
    import spark.implicits._
    val events = realEvents(30)
    val clicks = events.filter(_.event_type == "click")
    val views = events.filter(_.event_type == "view")
    val msC = MemoryStream[Event](spark)
    val msV = MemoryStream[Event](spark)
    val q = EventStreams.attribute(msC.toDF(), msV.toDF())
      .writeStream.format("memory").queryName("attr_parity")
      .outputMode("append").start()
    try {
      // interleave both streams in two chunks each
      val (c1, c2) = clicks.splitAt(clicks.length / 2)
      val (v1, v2) = views.splitAt(views.length / 2)
      msC.addData(c1); msV.addData(v1); q.processAllAvailable()
      msC.addData(c2); msV.addData(v2); q.processAllAvailable()
      val streamed = spark.table("attr_parity")
        .select("user_id", "click_id", "view_id")
      val batch = EventStreams.attribute(clicks.toDF(), views.toDF())
        .select("user_id", "click_id", "view_id")
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty,
        s"stream=${streamed.count()} batch=${batch.count()} pairs diverge")
    } finally q.stop()
  }

  test("file-source ingest: windowed stats over incrementally arriving files") {
    val dir = Fixtures.dir("stream")
    val ev = Tables.events(spark, sfDir)
      .filter(col("user_id") < 40)
      .select("event_id", "ts", "user_id", "event_type", "value")
    ev.filter(col("user_id") < 20).coalesce(1)
      .write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(ev.schema).parquet(dir)
    val q = EventStreams.windowedStats(stream)
      .writeStream.format("memory").queryName("file_ws_parity")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      // second file lands later — the lake-ingest shape
      ev.filter(col("user_id") >= 20).coalesce(1)
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
      val streamed = spark.table("file_ws_parity")
      val batch = EventStreams.windowedStats(ev)
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty,
        "file-source streaming diverges from batch over the same files")
    } finally q.stop()
  }

  test("E3 dedup: dropDuplicatesWithinWatermark equals batch first-wins") {
    import spark.implicits._
    val events = realEvents(30)
    // redelivery: every event again, one hour later
    val dups = events.map(e => e.copy(
      ts = new Timestamp(e.ts.getTime + 3600 * 1000)))
    val ms = MemoryStream[Event](spark)
    val q = EventStreams.dedupEvents(ms.toDF())
      .writeStream.format("memory").queryName("dedup_parity")
      .outputMode("append").start()
    try {
      // originals arrive before their redeliveries, as in the batch contract
      ms.addData(events); q.processAllAvailable()
      ms.addData(dups); q.processAllAvailable()
      val streamed = spark.table("dedup_parity")
        .select("event_id", "ts", "value")
      val batch = EventStreams.dedupEvents(
        (events ++ dups).toDF()).select("event_id", "ts", "value")
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty,
        "streaming dedup diverges from batch first-wins")
    } finally q.stop()
  }

  test("E9 near-dup dedup: claim-store stream equals batch firstWins") {
    import spark.implicits._
    // real documents + truncated near-dup variants, ids respecting arrival
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).limit(60)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      .sortBy(_._1)
    val variants = docs.map { case (id, t) =>
      val w = t.split(" ")
      (id + 100000L, w.take(math.max(w.length - 5, 3)).mkString(" "))
    }
    val all = docs ++ variants
    val claimsDir = Fixtures.dir("claims")
    val outDir = Fixtures.dir("dedup_out")
    val ms = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.DedupStreams.nearDupStream(
      ms.toDF().toDF("doc_id", "text"), claimsDir, outDir)
    try {
      // three uneven arrivals; originals precede their variants
      ms.addData(all.take(40)); q.processAllAvailable()
      ms.addData(all.slice(40, 70)); q.processAllAvailable()
      ms.addData(all.drop(70)); q.processAllAvailable()
      val streamed = spark.read.parquet(outDir)
      val batch = graft.dedup.Dedup.firstWinsKept(
        graft.dedup.Dedup.minhashSignatures(
          all.toDF("doc_id", "text")))
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty,
        "claim-store streaming dedup diverges from batch firstWins")
      // and the dedup actually fired: the earliest doc can never collide
      // with anything earlier, and the truncated variants mostly share
      // buckets with their originals (originals may also collide among
      // themselves — first-wins keeps the earliest, which is the contract,
      // so "all originals kept" is NOT an invariant)
      val kept = streamed.filter(col("kept") === 1)
        .select("doc_id").as[Long].collect().toSet
      assert(kept.contains(docs.map(_._1).min),
        "the earliest document must always be kept")
      assert(variants.map(_._1).count(kept.contains) < variants.length / 2,
        "variants were not dropped — LSH collisions never fired")
    } finally q.stop()
  }

  test("E12 novelty: gram-store stream equals batch noveltyScores") {
    import spark.implicits._
    // originals then truncated mirrors, arrival respecting doc_id order —
    // mirrors carry almost no first-seen content, so their novelty must
    // collapse while the earliest documents stay novel
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).limit(60)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      .sortBy(_._1)
    val variants = docs.map { case (id, t) =>
      val w = t.split(" ")
      (id + 100000L, w.take(math.max(w.length - 5, 3)).mkString(" "))
    }
    val all = docs ++ variants
    val gramsDir = Fixtures.dir("grams")
    val outDir = Fixtures.dir("novelty_out")
    val ms = MemoryStream[(Long, String)](spark)
    // compactEvery=2 exercises a mid-stream store rewrite: parity must
    // hold straight through the compaction
    val q = graft.streaming.DedupStreams.noveltyStream(
      ms.toDF().toDF("doc_id", "text"), gramsDir, outDir, compactEvery = 2)
    try {
      ms.addData(all.take(40)); q.processAllAvailable()
      ms.addData(all.slice(40, 70)); q.processAllAvailable()
      ms.addData(all.drop(70)); q.processAllAvailable()
      val streamed = spark.read.parquet(outDir)
      val batch = graft.dedup.Dedup.noveltyScores(all.toDF("doc_id", "text"))
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty,
        "gram-store streaming novelty diverges from batch noveltyScores")
      // the store stays bounded: compaction rewrote to <= parts + residual
      val files = new java.io.File(gramsDir)
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(files <= 10, s"gram store not compacted: $files files")
      // and it holds exactly one row per gram: its first carrier
      val stored = graft.streaming.DedupStreams.readGrams(spark, gramsDir)
      val firstCarriers = graft.dedup.Dedup
        .distinctGrams(all.toDF("doc_id", "text"), 8, "doc_id", "text")
        .groupBy("gram").agg(min("doc_id").as("_owner"))
      assert(stored.exceptAll(firstCarriers).isEmpty &&
        firstCarriers.exceptAll(stored).isEmpty,
        "gram store differs from min(doc_id) per gram over the corpus")
      // signal check: earliest doc fully novel, mirrors mostly seen
      val nov = streamed.collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("novelty")).toMap
      assert(nov(docs.map(_._1).min) == 1.0)
      val mirrorNov = variants.map(_._1).flatMap(nov.get)
      assert(mirrorNov.count(_ <= 0.2) > mirrorNov.length / 2,
        "truncated mirrors did not read as mostly-seen content")
    } finally q.stop()
  }

  test("E18 banded-simhash stream equals batch simhashFirstWins " +
      "through a compaction") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).limit(50)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      .sortBy(_._1)
    // drop-2-words variants: a few simhash bits from the original
    val variants = docs.map { case (id, t) =>
      (id + 100000L, t.split(" ").drop(2).mkString(" "))
    }
    val all = docs ++ variants
    val storeDir = Fixtures.dir("sh_store")
    val outDir = Fixtures.dir("sh_out")
    val ms = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.DedupStreams.simhashDedupStream(
      ms.toDF().toDF("doc_id", "text"), storeDir, outDir,
      compactEvery = 2)
    try {
      ms.addData(all.take(30)); q.processAllAvailable()
      ms.addData(all.slice(30, 60)); q.processAllAvailable()
      ms.addData(all.drop(60)); q.processAllAvailable()
      val streamed = spark.read.parquet(outDir)
      val batch = graft.dedup.Dedup.simhashFirstWins(
        all.toDF("doc_id", "text"))
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty,
        "banded-simhash stream diverges from batch simhashFirstWins")
      val kept = streamed.filter(col("kept"))
        .select("doc_id").as[Long].collect().toSet
      assert(kept.contains(docs.map(_._1).min),
        "the earliest document must always be kept")
      assert(variants.map(_._1).count(kept.contains) < variants.length / 2,
        "variants were not dropped — the Hamming check never fired")
      // compaction kept the store readable and bounded
      val files = new java.io.File(storeDir)
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(files <= 8 + 2, s"store file count unbounded: $files")
    } finally q.stop()
  }

  test("E18 capped mode: saturated-bucket arrivals quarantine; decided " +
      "verdicts equal the cap-free anchor on the decided subset") {
    import spark.implicits._
    // boilerplate flood: 8 ids carrying the SAME text (one signature →
    // one bucket per block, occupancy grows 0..7) + 6 genuinely distinct
    // docs. With maxBucket = 4 the flood saturates mid-stream.
    val boiler = (0L until 8L).map(i =>
      (i * 10, "the quick brown fox jumps over the lazy dog again and again"))
    val distinctDocs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).limit(6)
      .collect().map(r => (r.getLong(0) + 1000L, r.getString(1))).toSeq
    val all = (boiler ++ distinctDocs).sortBy(_._1)
    val storeDir = Fixtures.dir("shcap_store")
    val outDir = Fixtures.dir("shcap_out")
    val ms = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.DedupStreams.simhashDedupStream(
      ms.toDF().toDF("doc_id", "text"), storeDir, outDir, maxBucket = 4)
    try {
      ms.addData(all.take(7)); q.processAllAvailable()
      ms.addData(all.drop(7)); q.processAllAvailable()
      val out = spark.read.parquet(outDir)
        .select("doc_id", "kept", "quarantined").cache()
      // the divergence surface is EXACTLY the post-saturation flood tail:
      // occupancy at arrival ≥ 4 → boiler docs ranked 5+ quarantine;
      // nothing else does (distinct docs never share a bucket here)
      val quarantinedIds = out.filter(col("quarantined"))
        .select("doc_id").as[Long].collect().toSet
      val floodIds = boiler.map(_._1).sorted
      assert(quarantinedIds == floodIds.drop(4).toSet,
        s"quarantine surface wrong: $quarantinedIds vs expected " +
          s"${floodIds.drop(4).toSet}")
      // quarantined rows carry NO verdict
      assert(out.filter(col("quarantined") && col("kept").isNotNull)
        .count() == 0, "a quarantined doc carried a keep/drop verdict")
      // the contract: decided verdicts == cap-FREE batch anchor run on
      // the decided subset alone (quarantined docs contribute nothing)
      val decided = all.filterNot { case (id, _) => quarantinedIds(id) }
      val anchor = graft.dedup.Dedup.simhashFirstWins(
        decided.toDF("doc_id", "text"), maxBucket = Int.MaxValue)
      val decidedOut = out.filter(!col("quarantined"))
        .select(col("doc_id"), col("kept"))
      assert(decidedOut.exceptAll(anchor).isEmpty &&
        anchor.exceptAll(decidedOut).isEmpty,
        "decided verdicts diverge from the cap-free anchor on the " +
          "decided subset")
      // signature store never saturates past the cap: the flood bucket
      // holds exactly maxBucket owners
      val perBucket = graft.streaming.DedupStreams
        .readShStore(spark, storeDir)
        .groupBy("blk", "key").count().agg(max("count")).head().getLong(0)
      assert(perBucket <= 4, s"store bucket exceeded the cap: $perBucket")
      out.unpersist()
    } finally q.stop()
  }

  test("E9 compaction: verdicts unchanged, file count bounded, restart ok") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).limit(60)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      .sortBy(_._1)
    val variants = docs.map { case (id, t) =>
      val w = t.split(" ")
      (id + 100000L, w.take(math.max(w.length - 5, 3)).mkString(" "))
    }
    val all = docs ++ variants
    val claimsDir = Fixtures.dir("claims_compact")
    val outDir = Fixtures.dir("dedup_outc")
    val ms = MemoryStream[(Long, String)](spark)
    // compact every 2 micro-batches: batch 2's decisions read a store that
    // has already been rewritten once — compaction must be invisible to
    // the verdict stream
    val q = graft.streaming.DedupStreams.nearDupStream(
      ms.toDF().toDF("doc_id", "text"), claimsDir, outDir,
      compactEvery = 2)
    try {
      ms.addData(all.take(40)); q.processAllAvailable()
      ms.addData(all.slice(40, 70)); q.processAllAvailable()
      ms.addData(all.slice(70, 90)); q.processAllAvailable()
      ms.addData(all.drop(90)); q.processAllAvailable()
      val streamed = spark.read.parquet(outDir)
      val batch = graft.dedup.Dedup.firstWinsKept(
        graft.dedup.Dedup.minhashSignatures(all.toDF("doc_id", "text")))
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty,
        "compaction changed the verdict stream vs batch firstWins")
      // 4 batches with compactEvery=2: without compaction 4 claim files;
      // after the batch-4 compaction exactly the `parts` rewrite output
      val claimFiles = new java.io.File(claimsDir)
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(claimFiles <= 8,
        s"claim store not compacted: $claimFiles files")
      // and it holds exactly one row per bucket: its first carrier
      val stored = graft.streaming.DedupStreams.readClaims(spark, claimsDir)
      val firstCarriers = graft.dedup.Dedup
        .minhashSignatures(all.toDF("doc_id", "text"))
        .groupBy("band", "sig").agg(min("doc_id").as("_owner"))
      assert(stored.exceptAll(firstCarriers).isEmpty &&
        firstCarriers.exceptAll(stored).isEmpty,
        "claim store differs from min(doc_id) per (band, sig) over the corpus")
      // claims survive the rewrite byte-for-byte: a fresh query against
      // the compacted store must drop every redelivered doc
      val out2 = Fixtures.dir("dedup_outc2")
      val redelivered = docs.map { case (id, t) => (id + 200000L, t) }
      val ms2 = MemoryStream[(Long, String)](spark)
      val q2 = graft.streaming.DedupStreams.nearDupStream(
        ms2.toDF().toDF("doc_id", "text"), claimsDir, out2)
      try { ms2.addData(redelivered); q2.processAllAvailable() }
      finally q2.stop()
      val verdicts = spark.read.parquet(out2)
        .select("doc_id", "kept").as[(Long, Int)].collect().toMap
      assert(redelivered.forall { case (id, _) => verdicts(id) == 0 },
        "restart after compaction failed to drop previously-claimed docs")
    } finally q.stop()
  }

  test("E9 restart: a NEW streaming query inherits the claim store") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).limit(20)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    val redelivered = docs.map { case (id, t) => (id + 100000L, t) }
    val claimsDir = Fixtures.dir("claims_restart")
    val out1 = Fixtures.dir("dedup_o1")
    val out2 = Fixtures.dir("dedup_o2")
    val ms1 = MemoryStream[(Long, String)](spark)
    val q1 = graft.streaming.DedupStreams.nearDupStream(
      ms1.toDF().toDF("doc_id", "text"), claimsDir, out1)
    try { ms1.addData(docs); q1.processAllAvailable() } finally q1.stop()
    // a fresh query (new stream, new output) against the SAME claims dir —
    // the restart/backfill scenario — must drop every redelivered doc
    val ms2 = MemoryStream[(Long, String)](spark)
    val q2 = graft.streaming.DedupStreams.nearDupStream(
      ms2.toDF().toDF("doc_id", "text"), claimsDir, out2)
    try { ms2.addData(redelivered); q2.processAllAvailable() } finally q2.stop()
    val verdicts = spark.read.parquet(out2)
      .select("doc_id", "kept").as[(Long, Int)].collect().toMap
    assert(redelivered.forall { case (id, _) => verdicts(id) == 0 },
      "a restarted query failed to drop docs claimed before the restart")
  }

  test("E9 replay with a stable runId is idempotent: no duplicate verdicts/claims") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).limit(20)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    val claimsDir = Fixtures.dir("claims_replay")
    val outDir = Fixtures.dir("dedup_replay")
    def runOnce(): Unit = {
      val ms = MemoryStream[(Long, String)](spark)
      val q = graft.streaming.DedupStreams.nearDupStream(
        ms.toDF().toDF("doc_id", "text"), claimsDir, outDir,
        runId = "pipeline-a")
      try { ms.addData(docs); q.processAllAvailable() } finally q.stop()
    }
    runOnce()
    val first = spark.read.parquet(outDir).orderBy("doc_id").collect().toSeq
    val claimCount = spark.read.parquet(claimsDir).count()
    // the at-least-once replay: same pipeline identity, same batch ids —
    // the done-marker protocol must skip, leaving outputs byte-identical
    runOnce()
    assert(spark.read.parquet(outDir).orderBy("doc_id").collect().toSeq
      == first, "replayed batch duplicated or altered verdicts")
    assert(spark.read.parquet(claimsDir).count() == claimCount,
      "replayed batch duplicated claim rows")
  }

  test("E9 dedupStep: an already-claimed bucket drops later batches' docs") {
    import spark.implicits._
    val b1 = Seq((1L, "the quick brown fox jumps over the lazy dog again"))
      .toDF("doc_id", "text")
    val b2 = Seq((2L, "the quick brown fox jumps over the lazy dog again"))
      .toDF("doc_id", "text")
    val claims0 = graft.streaming.DedupStreams.readClaims(spark,
      "/nonexistent/graft_claims")
    assert(claims0.isEmpty)
    val (v1, c1) = graft.streaming.DedupStreams.dedupStep(
      graft.dedup.Dedup.minhashSignatures(b1), claims0)
    assert(v1.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((1L, 1)))
    val (v2, _) = graft.streaming.DedupStreams.dedupStep(
      graft.dedup.Dedup.minhashSignatures(b2), c1)
    assert(v2.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((2L, 0)), "identical doc in a later batch must be dropped")
  }

  test("E9 a batch redelivering a document claims each bucket once and " +
      "keeps its verdicts") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).limit(30)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      .sortBy(_._1)
    val all = docs ++ docs.map { case (id, t) => (id + 100000L, t) }
    def run(batches: Seq[(Long, String)]*) = {
      val claimsDir = Fixtures.dir("claims_redeliver")
      val outDir = Fixtures.dir("dedup_redeliver")
      val ms = MemoryStream[(Long, String)](spark)
      val q = graft.streaming.DedupStreams.nearDupStream(
        ms.toDF().toDF("doc_id", "text"), claimsDir, outDir)
      try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
      (graft.streaming.DedupStreams.readClaims(spark, claimsDir),
        spark.read.parquet(outDir))
    }
    val (claims, verdicts) = run(all.take(40), all.drop(40))
    // at-least-once delivery: the first batch carries every row twice, the
    // second a few of its own rows again
    val (claimsR, verdictsR) = run(all.take(40) ++ all.take(40),
      all.drop(40) ++ all.drop(40).take(5))
    assert(claimsR.count() ==
      claimsR.select("band", "sig").distinct().count(),
      "a redelivered row claimed its bucket twice")
    assert(claimsR.exceptAll(claims).isEmpty &&
      claims.exceptAll(claimsR).isEmpty, "redelivery changed the claim store")
    assert(verdictsR.exceptAll(verdicts).isEmpty &&
      verdicts.exceptAll(verdictsR).isEmpty, "redelivery changed the verdicts")
  }

  test("E4 enrich: stream-static broadcast join equals batch join") {
    import spark.implicits._
    val events = realEvents(30)
    val dim = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val ms = MemoryStream[Event](spark)
    val q = EventStreams.enrich(ms.toDF(), dim)
      .select("event_id", "user_id", "c_mktsegment")
      .writeStream.format("memory").queryName("enrich_parity")
      .outputMode("append").start()
    try {
      ms.addData(events); q.processAllAvailable()
      val streamed = spark.table("enrich_parity")
      val batch = EventStreams.enrich(events.toDF(), dim)
        .select("event_id", "user_id", "c_mktsegment")
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty,
        "stream-static enrichment diverges from batch join")
    } finally q.stop()
  }

  test("E14 streaming moment maintenance: vec_esum over micro-batches " +
    "equals the batch moments (online mean/covariance state)") {
    import spark.implicits._
    import org.apache.spark.sql.GraftBridge.{toColumn, toExpression}
    def vecEsum(c: org.apache.spark.sql.Column) =
      toColumn(graft.functions.VecESum(toExpression(c), 4)
        .toAggregateExpression())
    val rows = (0 until 300).map { i =>
      (i.toLong, Array(0.1 * i, i / 3.0, -2.5 * (i % 7), 1e-6 * i * i))
    }
    val ms = MemoryStream[(Long, Array[Double])](spark)
    // complete-mode global aggregate: the buffer IS the running moment
    // state an online standardizer / PCA refresh reads between batches
    val q = ms.toDF().toDF("id", "arr")
      .agg(count(lit(1)).as("n"), vecEsum(col("arr")).as("s"))
      .writeStream.format("memory").queryName("moments")
      .outputMode("complete").start()
    try {
      rows.grouped(100).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
      val st = spark.table("moments").head()
      val batch = rows.toDF("id", "arr")
        .agg(count(lit(1)).as("n"), vecEsum(col("arr")).as("s")).head()
      assert(st.getLong(0) == batch.getLong(0))
      assert(st.getSeq[Double](1).map(java.lang.Double.doubleToLongBits) ==
        batch.getSeq[Double](1).map(java.lang.Double.doubleToLongBits),
        "streamed moments must equal the batch moments bit for bit")
    } finally q.stop()
  }

  test("E13 probe scoring on an ingest stream equals the fit-time verdicts") {
    import spark.implicits._
    import graft.ml.RidgeProbe
    // weights trained in batch (the D58 fit); scoring is stateless
    // literal math, so micro-batched arrival must reproduce the fit-time
    // broadcast scoring bit for bit
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).limit(90)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val batchDf = docs.toDF("doc_id", "text")
    val wRow = RidgeProbe.fit(RidgeProbe.qualityFeatures(batchDf),
      Seq("x1", "x2", "x3"), "y", 0.001).head()
    val w = (0 to 3).map(wRow.getDouble)
    val ms = MemoryStream[(Long, String)](spark)
    val q = RidgeProbe.scoreWithWeights(
        RidgeProbe.qualityFeatures(ms.toDF().toDF("doc_id", "text")),
        Seq("x1", "x2", "x3"), w, 0.5)
      .writeStream.format("memory").queryName("probe_scores")
      .outputMode("append").start()
    try {
      docs.grouped(30).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
      val streamed = spark.table("probe_scores")
      assert(streamed.count() == 90)
      val batch = RidgeProbe.qualityProbe(batchDf)
        .select("doc_id", "score", "kept")
      val s = streamed.select("doc_id", "score", "kept")
      assert(s.exceptAll(batch).isEmpty && batch.exceptAll(s).isEmpty,
        "streamed probe verdicts diverge from the fit-time scoring")
    } finally q.stop()
  }

  test("E17 NB scoring on an ingest stream equals the fit-time verdicts") {
    import spark.implicits._
    import graft.ml.NaiveBayesProbe
    // model trained offline on the static corpus; each micro-batch is
    // scored by the same stateless join+aggregate (foreachBatch — the
    // per-doc argmax needs a per-batch window, which is batch-shaped
    // state like E9/E16), so micro-batched arrival must reproduce the
    // fit-time verdicts exactly
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("text")).limit(90)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq
    val batchDf = docs.toDF("doc_id", "lang", "text")
    val model = NaiveBayesProbe.fit(batchDf)
    val got = scala.collection.mutable.ArrayBuffer.empty[
      (Long, String, Double, Boolean, String)]
    val ms = MemoryStream[(Long, String, String)](spark)
    val q = ms.toDF().toDF("doc_id", "lang", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= NaiveBayesProbe.score(batch, model).collect().map(r =>
          (r.getLong(0), r.getString(1), r.getDouble(2),
            r.getBoolean(3), r.getString(4)))
        ()
      }.start()
    try {
      docs.grouped(30).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
      val streamed = got.toSeq
        .toDF("doc_id", "cls", "score", "is_pred", "actual")
      assert(streamed.count() == 90 * 5)
      val batch = NaiveBayesProbe.fitScore(batchDf)
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty,
        "streamed NB verdicts diverge from the fit-time scoring")
    } finally q.stop()
  }

  test("E16 online GD training via foreachBatch equals the driver chunk loop") {
    import spark.implicits._
    import graft.ml.{LogisticProbe, RidgeProbe}
    // mini-batch GD as a STREAMING query: foreachBatch folds one
    // LogisticProbe.step per micro-batch into driver-held weights — the
    // online-learning seam. With ordered arrival the result must equal a
    // driver loop over the same chunks, bit for bit (step is ONE
    // decimal-exact aggregation + an IEEE update, so chunk boundaries are
    // the only thing that matters, and they're identical).
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).limit(90)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val xs = Seq("x1", "x2", "x3")
    val chunks = docs.grouped(30).toSeq
    // reference: driver loop over the chunks
    var wRef: Seq[Double] = Vector.fill(4)(0.0)
    chunks.foreach { c =>
      wRef = LogisticProbe.step(
        RidgeProbe.qualityFeatures(c.toDF("doc_id", "text")),
        xs, "y", 4.0, wRef)
    }
    // stream: the same chunks as micro-batches
    var wStream: Seq[Double] = Vector.fill(4)(0.0)
    val ms = MemoryStream[(Long, String)](spark)
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        wStream = LogisticProbe.step(
          RidgeProbe.qualityFeatures(batch), xs, "y", 4.0, wStream)
      }
      .outputMode("append").start()
    try {
      chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()
    wRef.indices.foreach { i =>
      assert(java.lang.Double.doubleToLongBits(wRef(i)) ==
        java.lang.Double.doubleToLongBits(wStream(i)),
        s"w$i: stream ${wStream(i)} != loop ${wRef(i)}")
    }
    // and the online pass actually learned something
    assert(wRef.exists(_ != 0.0))
  }

  test("E15 forest scoring on an ingest stream equals the fit-time votes") {
    import spark.implicits._
    import graft.ml.{RidgeProbe, TreeProbe}
    // trees fitted in batch; the fitted forest is pure literals, so the
    // CASE-chain scorer applies to a streaming DataFrame unchanged and
    // micro-batched arrival must reproduce the batch votes exactly
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).limit(90)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val batchDf = docs.toDF("doc_id", "text")
    val xs = Seq("x1", "x2", "x3")
    val feats = RidgeProbe.qualityFeatures(batchDf)
    val trees = (1 to 4).map { b =>
      TreeProbe.fit(feats, xs, "y", 3,
        TreeProbe.bootstrapWeight(col("doc_id"), b), Some(s"t$b"))
    }
    def score(df: org.apache.spark.sql.DataFrame) = {
      val withPreds = trees.zipWithIndex.foldLeft(df) { case (d, (t, i)) =>
        d.withColumn(s"p${i + 1}",
          TreeProbe.predCol(t, TreeProbe.leafCol(t, xs, 3)))
      }
      withPreds.withColumn("votes",
          trees.indices.map(i => col(s"p${i + 1}")).reduce(_ + _))
        .withColumn("pred", (col("votes") >= 2).cast("int"))
        .select("doc_id", "votes", "pred")
    }
    val ms = MemoryStream[(Long, String)](spark)
    val q = score(RidgeProbe.qualityFeatures(ms.toDF().toDF("doc_id", "text")))
      .writeStream.format("memory").queryName("forest_scores")
      .outputMode("append").start()
    try {
      docs.grouped(30).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
      val streamed = spark.table("forest_scores")
      assert(streamed.count() == 90)
      val batch = score(feats)
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty,
        "streamed forest votes diverge from the fit-time scoring")
    } finally q.stop()
  }

  test("E10/E11/E12/E13 gate twins: the file-source stream fixtures behind " +
    "the r11 gate keys reproduce their batch anchors verbatim") {
    // the same fixtures the correctness gate hashes — a real staged
    // file-source stream per key (one file per trigger), compared row-set
    // exact against the batch anchor at the spec SF
    val qs = graft.SparkEntry.queries
    def same(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    // E12: gram-store stream through a mid-stream compaction
    assert(same(qs("text_novelty_stream")(spark, sfDir),
      qs("text_novelty")(spark, sfDir)),
      "text_novelty_stream diverges from its batch anchor")
    // E10: complete-mode KMV merge (minus the non-mergeable exact count)
    val anchor = qs("text_distinct_sketch")(spark, sfDir)
      .drop("true_distinct")
    assert(same(qs("text_sketch_stream")(spark, sfDir)
      .select(anchor.columns.map(col).toSeq: _*), anchor),
      "text_sketch_stream diverges from its batch anchor")
    // E13: train-offline / score-on-stream with the identical scoring DAG
    assert(same(qs("text_quality_stream")(spark, sfDir),
      qs("text_quality_fit")(spark, sfDir)),
      "text_quality_stream diverges from its batch anchor")
    // E11: stream-ingested IVF-PQ layout ranks like the one-shot build
    assert(same(qs("ann_ivfpq_stream")(spark, sfDir),
      qs("ann_ivfpq_probe")(spark, sfDir)),
      "ann_ivfpq_stream diverges from the one-shot index probe")
    // E15: forest fitted offline, micro-batches scored with tree literals
    assert(same(qs("ml_forest_stream")(spark, sfDir),
      qs("ml_forest_fit")(spark, sfDir)),
      "ml_forest_stream diverges from its batch anchor")
    // E17: NB model tables pinned offline, stateless per-batch routing
    assert(same(qs("ml_nb_stream")(spark, sfDir),
      qs("ml_nb_fit")(spark, sfDir)),
      "ml_nb_stream diverges from its batch anchor")
    // E14: complete-mode VecESum merge equals the one-pass exact moments
    assert(same(qs("embed_moments_stream")(spark, sfDir),
      qs("embed_moments")(spark, sfDir)),
      "embed_moments_stream diverges from its batch anchor")
    // E16: the stream-trained weights land exactly where a driver loop
    // over the same deterministic chunks lands (the oracle replays this
    // same chunked training as unrolled SQL)
    val corpus = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val xs = Seq("x1", "x2", "x3")
    var w: Seq[Double] = Vector.fill(4)(0.0)
    (0 until 3).foreach { c =>
      w = graft.ml.LogisticProbe.step(
        graft.ml.RidgeProbe.qualityFeatures(
          corpus.filter(col("doc_id") % 3 === c)), xs, "y", 4.0, w)
    }
    val loop = graft.ml.LogisticProbe.scoreWithWeights(
      graft.ml.RidgeProbe.qualityFeatures(corpus), xs, "y", w, 0.5)
    assert(same(qs("text_gd_stream")(spark, sfDir), loop),
      "text_gd_stream diverges from the driver-loop replay")
  }
}
