package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Exact, Tables}
import graft.cube.DataCube
import graft.sim.Ann

object Workloads {
  val all: Seq[Workload] = Seq(OpenEoJobs, Curation)
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))

  /** Stage `df` as `parts` id-ordered files whose modification times encode
    * arrival order, so a file-source stream with one file per trigger reads
    * them oldest-first. */
  def stageArrivals(spark: SparkSession, df: DataFrame, dir: String, idCol: String,
                    parts: Int): Unit = {
    val tmp = s"$dir.tmp"
    df.repartitionByRange(parts, col(idCol)).write.mode("overwrite").parquet(tmp)
    val out = new java.io.File(dir)
    out.mkdirs()
    val base = System.currentTimeMillis() - 86400000L
    new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).zipWithIndex.foreach { case (f, k) =>
        val dst = new java.io.File(out, f"arrival-$k%05d.parquet")
        require(f.renameTo(dst), s"cannot move $f")
        dst.setLastModified(base + k * 60000L)
      }
    Harness.deleteTree(new java.io.File(tmp))
  }

  /** Values of a cube column as a one-column frame, for multiset checks. */
  def values(df: DataFrame, c: String): DataFrame =
    df.filter(!isnan(col(c)) && col(c).isNotNull).select(col(c).cast("double").as("v"))
}

/** openEO jobs on the lake: process-graph chains, a cube chain, the ML
  * processes, GeoTIFF save/load, an IVF-PQ index over the embeddings with
  * two vector requests, and synchronous single-band requests. */
object OpenEoJobs extends Workload {
  val name = "openeo_jobs"
  val tables = Seq("lineitem", "events", "embeddings")

  private val kernel = Seq(Seq(1, 2, 1), Seq(2, 4, 2), Seq(1, 2, 1)).map(_.map(_ / 16.0))

  /** The grid collection exactly as `load_collection("grid")` builds it. */
  private def grid(s: SparkSession, lake: String): DataCube =
    DataCube(Tables.lineitem(s, lake)
      .select(pmod(col("l_partkey"), lit(64)).as("x"),
        pmod(col("l_suppkey"), lit(64)).as("y"),
        col("l_returnflag").as("band"), col("l_quantity"))
      .groupBy("x", "y", "band")
      .agg(Exact.rnd4(Exact.esum(col("l_quantity"))).as("value")))

  private def ring(z: (Int, Int, Int, Int)): Seq[(Double, Double)] = {
    val (x0, x1, y0, y1) = z
    Seq((x0.toDouble, y0.toDouble), (x1.toDouble, y0.toDouble),
      (x1.toDouble, y1.toDouble), (x0.toDouble, y1.toDouble))
  }

  private def gridGraph(p: Plan): String = {
    val (x0, x1, y0, y1) = p.gridExtent
    val zones = p.zones.map { case (n, z) =>
      "\"" + n + "\": " + ring(z).map { case (x, y) => s"[$x, $y]" }.mkString("[", ", ", "]")
    }.mkString("{", ", ", "}")
    s"""{"process_graph": {
       |  "load": {"process_id": "load_collection", "arguments": {"id": "grid",
       |    "spatial_extent": {"west": $x0, "east": $x1, "south": $y0, "north": $y1}}},
       |  "ndvi": {"process_id": "ndvi", "arguments": {"data": {"from_node": "load"},
       |    "nir": "N", "red": "R", "target_band": "ndvi"}},
       |  "smooth": {"process_id": "apply_kernel", "arguments": {"data": {"from_node": "ndvi"},
       |    "kernel": [[0.0625, 0.125, 0.0625], [0.125, 0.25, 0.125], [0.0625, 0.125, 0.0625]],
       |    "x_min": $x0, "x_max": $x1, "y_min": $y0, "y_max": $y1}},
       |  "zonal": {"process_id": "aggregate_spatial", "arguments": {
       |    "data": {"from_node": "smooth"}, "reducer": "mean", "geometries": $zones},
       |    "result": true}}}""".stripMargin
  }

  private def eventsGraph(p: Plan): String =
    s"""{"process_graph": {
       |  "load": {"process_id": "load_collection", "arguments": {"id": "events",
       |    "temporal_extent": ["${p.eventWindow._1}", "${p.eventWindow._2}"],
       |    "bands": [${p.eventBands.map("\"" + _ + "\"").mkString(", ")}]}},
       |  "fill": {"process_id": "array_interpolate_linear",
       |    "arguments": {"data": {"from_node": "load"}}},
       |  "daily": {"process_id": "aggregate_temporal_period", "arguments": {
       |    "data": {"from_node": "fill"}, "period": "day", "reducer": "mean"},
       |    "result": true}}}""".stripMargin

  /** A synchronous openEO request: one band over one day, hourly sums. */
  private def syncGraph(day: Int, band: String): String =
    s"""{"process_graph": {
       |  "load": {"process_id": "load_collection", "arguments": {"id": "events",
       |    "temporal_extent": ["2024-01-${f"$day%02d"}", "2024-01-${f"${day + 1}%02d"}"],
       |    "bands": ["$band"]}},
       |  "hourly": {"process_id": "aggregate_temporal_period", "arguments": {
       |    "data": {"from_node": "load"}, "period": "hour", "reducer": "sum"},
       |    "result": true}}}""".stripMargin

  override def prepare(spark: SparkSession, lake: String, root: String, plan: Plan,
                       size: Size): Unit =
    Main.noteCells(grid(spark, lake).df.count())

  /** Single-vector top-5 requests for the first two probe ids: one IVF
    * probe, one IVF-PQ probe. On the checking pass the second one checks
    * both results against exact top-5 (`Ann.bruteForceTopK`). */
  private def vectorProbes(c: Ctx, idx: String): Seq[Op] = {
    val got = scala.collection.mutable.Map.empty[Long, Set[Long]]
    val ids = c.plan.probeIds.take(2)
    ids.zipWithIndex.map { case (id, i) =>
      val pq = i == 1
      Op(if (pq) s"ivfpq_probe_$i" else s"ivf_probe_$i", "sim", "job", { c =>
        val s = c.spark
        val q = Tables.embeddings(s, c.lake).filter(col("vec_id") === id)
        val df = c.call("sim")(
          if (pq) Ann.ivfPqProbe(s, idx, q, k = 5, nProbe = 4)
          else Ann.ivfProbe(s, idx, q, k = 5, nProbe = 4))
        val d = c.out("sim", df)
        c.verify {
          got(id) = df.select("c_id").collect().map(_.getLong(0)).toSet
          if (i == ids.size - 1) checkRecall(c, got.toMap)
        }
        d
      })
    }
  }

  private def checkRecall(c: Ctx, got: Map[Long, Set[Long]]): Unit = {
    val emb = Tables.embeddings(c.spark, c.lake)
    val exact = Ann.bruteForceTopK(emb.filter(col("vec_id").isin(got.keys.toSeq: _*)), emb, k = 5)
      .select("q_id", "c_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    got.foreach { case (q, res) =>
      c.check(res.size == 5, s"probe of $q returned ${res.size} of 5 results")
      Main.noteRecall(res.intersect(exact.getOrElse(q, Set.empty)).size / 5.0)
    }
  }

  def ops(c: Ctx): Seq[Op] = {
    val s = c.spark
    val lake = c.lake
    val p = c.plan
    val pg = new graft.plans.ProcessGraph(s, lake)
    var model: graft.ml.RfClassModel = null
    var predicted: Option[Digest] = None
    val modelDir = s"${c.dir}/model"
    def emb = Tables.embeddings(s, lake)
    def cells = Workloads.values(grid(s, lake).df, "value")

    val jobs = Seq(
      Op("pg_grid_chain", "plans", "job", { c =>
        val df = c.call("plans")(pg.run(gridGraph(p)))
        val d = c.out("plans", df)
        c.verify {
          // the same chain through direct DataCube calls
          val (x0, x1, y0, y1) = p.gridExtent
          val cube = grid(s, lake).filterBbox(x0, x1, y0, y1)
            .ndvi("N", "R", Some("ndvi")).applyKernel(kernel, (x0, x1), (y0, y1))
          val ref = cube.aggregateSpatialPolygons(
            p.zones.map { case (n, z) => n -> ring(z) }, "mean", Seq("band"))
          c.check(d == Some(Digest.of(ref)), "grid graph differs from the direct cube chain")
          c.check(d.exists(_.rows > 0), "grid graph returned no rows")
        }
        d
      }),
      Op("cube_events_chain", "cube", "job", { c =>
        val raw = DataCube(Tables.eventsRanged(s, lake, p.eventWindow._1, p.eventWindow._2)
          .select(col("ts").as("time"), col("event_type").as("band"), col("value")))
          .filterBands(p.eventBands)
        val df = c.call("cube")(raw.interpolateLinear(raw.dims.filterNot(_ == "time"))
          .aggregateTemporalPeriod("day", "mean")).df
        val d = c.out("cube", df)
        c.verify {
          // the same chain as an openEO process graph
          c.check(d == Some(Digest.of(pg.run(eventsGraph(p)))),
            "direct cube chain differs from the events process graph")
          c.check(d.exists(_.rows > 0), "events chain returned no rows")
        }
        d
      }),
      Op("ml_fit", "ml", "job", { c =>
        model = c.call("ml")(graft.ml.MlProcesses.mlFit(
          graft.ml.MlProcesses.mlmClassRandomForest(numTrees = c.size.treeCount,
            seed = p.seed, maxDepth = c.size.treeDepth), emb))
        None
      }),
      Op("ml_predict", "ml", "job", { c =>
        val df = c.call("ml")(graft.ml.MlProcesses.mlPredict(model, emb))
          .select(col("vec_id"), col("label"), col("prediction"))
        predicted = c.out("ml", df)
        c.verify {
          val acc = df.agg(avg((col("label") === col("prediction")).cast("double"))).head().getDouble(0)
          // 10 labels: three times chance
          c.check(acc >= 0.3, f"training-set accuracy $acc%.3f below 0.3")
          c.check(predicted.exists(_.rows == c.size.vectors), "ml_predict dropped rows")
        }
        predicted
      }),
      Op("save_ml_model", "ml", "write", { c =>
        c.call("ml")(graft.ml.MlProcesses.saveMlModel(model, modelDir))
        None
      }),
      Op("load_ml_model", "ml", "job", { c =>
        val loaded = c.call("ml")(graft.ml.MlProcesses.loadMlModel(s, modelDir))
        val df = c.call("ml")(graft.ml.MlProcesses.mlPredict(loaded, emb))
          .select(col("vec_id"), col("label"), col("prediction"))
        val d = c.out("ml", df)
        c.check(d == predicted, "reloaded model predicts differently")
        d
      })
    )

    val tif = s"${c.dir}/raster.tif"
    val rasters = Seq(
      Op("save_gtiff", "sources", "write", { c =>
        c.call("sources")(graft.sources.Rasters.saveGeoTiff(grid(s, lake), tif))
        if (c.tracer.isDefined) Main.noteRaster(tif)
        None
      }),
      Op("load_gtiff", "sources", "job", { c =>
        val df = c.call("sources")(graft.sources.Rasters.loadGeoTiff(s, tif))
        val d = c.out("sources", df)
        c.verify(c.check(Digest.of(Workloads.values(df, "value")) == Digest.of(cells),
          "GeoTIFF round trip changed the cell values"))
        d
      }))

    val bands = Seq("click", "view", "purchase", "signup", "error")
    val syncs = p.probeIds.zipWithIndex.map { case (id, i) =>
      val day = 1 + (id % 28).toInt
      val band = bands((id % bands.size).toInt)
      Op(s"sync_request_$i", "plans", "probe", { c =>
        val df = c.call("plans")(pg.run(syncGraph(day, band)))
        val d = c.out("plans", df)
        c.check(d.exists(x => x.rows > 0 && x.rows <= 24),
          s"sync request $i returned ${d.map(_.rows)} hourly rows")
        d
      })
    }
    // the embeddings collection searchable beside the batch jobs: an
    // IVF-PQ index and two single-vector requests (IVF and IVF-PQ)
    val idx = s"${c.dir}/ivfpq"
    val search = Op("ivfpq_build", "sim", "write", { c =>
      c.call("sim")(Ann.ivfPqBuild(emb, idx, nlist = 16, m = 4, ksub = 16, dims = 64))
      None
    }) +: vectorProbes(c, idx)
    jobs ++ rasters ++ search ++ syncs
  }
}

/** LLM training-data curation over `documents` and their near-duplicate
  * twins: Gopher-style signals, MinHash and SimHash dedup, span removal,
  * packing, and the streamed dedup claim store. */
object Curation extends Workload {
  val name = "curation"
  val tables = Seq("documents")
  private val TwinShift = Tables.TwinShift

  /** documents ∪ a tail-truncated twin of each, as the dedup query keys
    * build it. */
  private def nearCorpus(s: SparkSession, lake: String): DataFrame = {
    val docs = Tables.documents(s, lake).select(col("doc_id"), col("text"))
    val t = split(col("text"), " ")
    Tables.fanOut(docs.unionByName(docs.select(
      (col("doc_id") + TwinShift).as("doc_id"),
      concat_ws(" ", slice(t, lit(1), greatest(size(t) - 5, lit(3)))).as("text"))))
  }

  private def clusterCorpus(s: SparkSession, lake: String): DataFrame = {
    val docs = Tables.documents(s, lake).select(col("doc_id"), col("text"))
    val t = split(col("text"), " ")
    Tables.fanOut(docs
      .unionByName(docs.select((col("doc_id") + TwinShift).as("doc_id"),
        concat_ws(" ", slice(t, lit(1), greatest(size(t) - 5, lit(3)))).as("text")))
      .unionByName(docs.select((col("doc_id") + Tables.TwinShift2).as("doc_id"),
        concat_ws(" ", slice(t, lit(1), greatest(size(t) - 10, lit(3)))).as("text"))))
  }

  private def arrivals(root: String) = s"$root/arrivals"

  override def prepare(spark: SparkSession, lake: String, root: String, plan: Plan,
                       size: Size): Unit =
    Workloads.stageArrivals(spark, nearCorpus(spark, lake), arrivals(root), "doc_id", 2)

  private val probeWords = Array("the", "data", "of", "river", "and", "model", "la",
    "und", "scan", "season", "signal", "is", "grid", "to", "tile", "el")

  def ops(c: Ctx): Seq[Op] = {
    import graft.functions.TextFunctions._
    import graft.dedup.Dedup
    val s = c.spark
    val lake = c.lake
    def docs = Tables.documents(s, lake)
    var firstWins: Option[Digest] = None

    val jobs = Seq(
      Op("text_repetition", "functions", "job", { c =>
        val t = tokens(col("text"))
        val df = c.call("functions")(docs.select(col("doc_id"), size(t).as("n_words"),
          Exact.rnd4(dupWordFraction(t)).as("dup_word_frac"),
          Exact.rnd4(topNgramFraction(t, 2)).as("top_bigram_frac")))
        c.oracle("text_repetition", df)
        c.out("functions", df)
      }),
      Op("text_gopher_rules", "functions", "job", { c =>
        val df = c.call("functions")(docs.select(col("doc_id"),
          gopherSignals(col("text")).as("g")))
          .select(col("doc_id"), col("g.n_words").as("n_words"),
            Exact.rnd4(col("g.mean_wlen")).as("mean_wlen"),
            Exact.rnd4(col("g.symbol_ratio")).as("symbol_ratio"),
            Exact.rnd4(col("g.bullet_frac")).as("bullet_frac"),
            Exact.rnd4(col("g.ellipsis_frac")).as("ellipsis_frac"),
            Exact.rnd4(col("g.alpha_frac")).as("alpha_frac"),
            col("g.stop_hits").as("stop_hits"), col("g.pass").as("pass"))
        c.oracle("text_gopher_rules", df)
        c.out("functions", df)
      }),
      Op("text_lang_quality", "functions", "job", { c =>
        val df = c.call("functions")(docs.select(col("doc_id"), col("lang"),
          langPredict(tokens(col("text"))).as("lang_pred"),
          Exact.rnd4(qualityScore(col("text"))).as("quality")))
        val d = c.out("functions", df)
        c.verify {
          val agree = df.agg(avg((col("lang") === col("lang_pred")).cast("double")))
            .head().getDouble(0)
          c.check(agree >= 0.9, f"language prediction agrees on only $agree%.3f of documents")
          c.check(df.filter(col("quality") < 0 || col("quality") > 1).isEmpty,
            "quality score outside [0, 1]")
        }
        d
      }),
      Op("dedup_first_wins", "dedup", "job", { c =>
        val df = c.call("dedup")(Dedup.firstWinsKept(Dedup.minhashSignatures(nearCorpus(s, lake))))
        c.oracle("dedup_online", df)
        firstWins = c.out("dedup", df)
        c.verify {
          val twins = df.filter(col("doc_id") >= TwinShift)
          val caught = twins.filter(col("kept") === 0).count().toDouble / twins.count()
          c.check(caught >= 0.9, f"first-wins dropped only $caught%.3f of the planted twins")
          if (Main.tracing) Main.noteMatches(df.filter(col("kept") === 0).count(),
            Dedup.minhashCandidates(Dedup.minhashSignatures(nearCorpus(s, lake))).count())
        }
        firstWins
      }),
      Op("dedup_clusters", "dedup", "job", { c =>
        val df = c.call("dedup")(Dedup.resolveClusters(
          Dedup.minhashStarEdges(Dedup.minhashSignatures(clusterCorpus(s, lake)))))
        c.oracle("dedup_clusters", df)
        c.out("dedup", df)
      }),
      Op("dedup_simhash_first_wins", "dedup", "job", { c =>
        val df = c.call("dedup")(Dedup.simhashFirstWins(nearCorpus(s, lake)))
        c.oracle("dedup_simhash_online", df)
        c.out("dedup", df)
      }),
      Op("dedup_span_removal", "dedup", "job", { c =>
        val df = c.call("dedup")(Dedup.removeDupSpans(nearCorpus(s, lake), w = 8))
        c.oracle("dedup_span_removal", df)
        c.out("dedup", df)
      }),
      Op("text_pack", "functions", "job", { c =>
        val df = c.call("functions")(packBySource(
          docs.select(col("doc_id"), col("source"), col("text")), 2048))
        c.oracle("text_pack", df)
        c.out("functions", df)
      }),
      Op("dedup_stream", "streaming", "write", { c =>
        val claims = s"${c.dir}/claims"
        val out = s"${c.dir}/verdicts"
        val schema = s.read.parquet(arrivals(new java.io.File(c.dir).getParent)).schema
        val q = c.call("streaming")(graft.streaming.DedupStreams.nearDupStream(
          s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(arrivals(new java.io.File(c.dir).getParent)),
          claims, out, compactEvery = 2))
        c.call("streaming") { try q.processAllAvailable() finally q.stop() }
        val verdicts = s.read.parquet(out)
        val d = c.out("streaming", verdicts.select(col("doc_id"), col("kept")))
        c.check(d == firstWins, "streamed verdicts differ from the batch first-wins verdicts")
        d
      })
    )

    val probes = (0 until c.size.probes).map { i =>
      val r = new scala.util.Random(c.plan.seed * 1000 + i)
      val text = Array.fill(30 + r.nextInt(60))(probeWords(r.nextInt(probeWords.length)))
        .mkString(" ")
      Op(s"screen_document_$i", "functions", "probe", { c =>
        import s.implicits._
        val one = Seq((9000000L + i, text)).toDF("doc_id", "text")
        val df = c.call("functions")(one.select(col("doc_id"),
          gopherSignals(col("text")).as("g"), langPredict(tokens(col("text"))).as("lang"),
          qualityScore(col("text")).as("quality"), topNgramFraction(tokens(col("text")), 2)
            .as("top_bigram_frac")))
        val d = c.out("functions", df)
        c.check(d.exists(_.rows == 1), s"screening request $i lost its row")
        d
      })
    }
    jobs ++ probes
  }
}
