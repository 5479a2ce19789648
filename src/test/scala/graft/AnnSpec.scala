package graft

import org.apache.spark.sql.functions._

import graft.core.{Fixtures, Tables}
import graft.sim.Ann

/** Invariants for the similarity-search operators that the rows-only driver
  * check can't see: LSH results must agree with brute force on every pair
  * they both return, ranks must be contiguous, and bucketing must recall a
  * nonzero share of true neighbors.
  */
class AnnSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sfDir)
  private lazy val qs = emb.filter(col("vec_id") < 20)
  private lazy val bf = Ann.bruteForceTopK(qs, emb, k = 5).cache()
  private lazy val lsh = Ann.lshTopK(qs, emb, k = 5, planes = 4, tables = 8)
    .cache()

  test("distributed Lloyd's ≡ driver Lloyd's, bitwise (same sample/init/folds)") {
    // the large-nlist trainer must be indistinguishable from the driver
    // loop: same md5-rank sample, same first-k init, same argmin
    // comparisons, same ascending-id per-cell double folds — so the
    // centroids (hence any cell layout built from them) match bit-for-bit
    for (nlist <- Seq(16, 64)) {
      val a = Ann.seededCentroids(emb, nlist, sampleN = 256)
      val b = Ann.seededCentroidsDistributed(emb, nlist, sampleN = 256)
      assert(a.length == b.length, s"nlist=$nlist: centroid count differs")
      a.zip(b).zipWithIndex.foreach { case ((ca, cb), j) =>
        assert(java.util.Arrays.equals(ca, cb),
          s"nlist=$nlist: centroid $j diverges between driver and distributed")
      }
    }
    // dispatcher routes small nlist to the driver trainer unchanged
    val d = Ann.trainCentroids(emb, nlist = 16)
    val s = Ann.seededCentroids(emb, nlist = 16)
    d.zip(s).foreach { case (ca, cb) =>
      assert(java.util.Arrays.equals(ca, cb), "dispatcher diverges at small nlist")
    }
    // ...and at an nlist where an 8·nlist sample floor WOULD diverge from
    // the caller's sampleN (64 → 512 ≠ 256): the driver branch must pass
    // sampleN through unchanged, or wiring the dispatcher into the IVF
    // paths would silently move every centroid behind the hash gates
    val d64 = Ann.trainCentroids(emb, nlist = 64)
    val s64 = Ann.seededCentroids(emb, nlist = 64, sampleN = 256)
    d64.zip(s64).foreach { case (ca, cb) =>
      assert(java.util.Arrays.equals(ca, cb),
        "dispatcher must not inflate the driver-branch sample (nlist=64)")
    }
  }

  test("native NearestCentroid equals the unrolled array_min form (128 cells)") {
    // the codegen-splittable assignment (reference-object matrix, fixed
    // nested loop) must land on EXACTLY the cell the round-9 literal-
    // unrolled expression picked — at the nlist that used to blow the
    // janino 64 KB method limit, and on a degenerate tie fixture
    val cents = Ann.seededCentroids(emb, nlist = 128)
    val both = emb.select(
      graft.sim.AnnTestAccess.cellOf(cents, col("embedding")).as("a"),
      graft.sim.AnnTestAccess.cellOfUnrolled(cents, col("embedding")).as("b"))
    assert(both.filter(col("a") =!= col("b")).count() == 0,
      "native nearest-centroid diverges from the unrolled form")
    // tie fixture: duplicated centroids -> equal distances -> both forms
    // must keep the SMALLEST cell id
    import spark.implicits._
    val dupCents = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 0.0))
    val tie = Seq(Seq(1.0f, 0.1f), Seq(0.1f, 1.0f), Seq(0.7f, 0.7f))
      .toDF("embedding")
    val t = tie.select(
      graft.sim.AnnTestAccess.cellOf(dupCents, col("embedding")).as("a"),
      graft.sim.AnnTestAccess.cellOfUnrolled(dupCents, col("embedding")).as("b"))
      .collect()
    t.foreach(r => assert(r.getInt(0) == r.getInt(1),
      s"tie-break diverges: native ${r.getInt(0)} vs unrolled ${r.getInt(1)}"))
    assert(t.head.getInt(0) == 0, "duplicate-centroid tie must keep cell 0")
  }

  test("brute-force top-k: 5 contiguous ranks per query, sims non-increasing") {
    val perQ = bf.groupBy("q_id")
      .agg(count(lit(1)).as("n"), min("rank").as("lo"), max("rank").as("hi"))
      .collect()
    assert(perQ.length == 20)
    perQ.foreach { r =>
      assert(r.getAs[Long]("n") == 5 && r.getAs[Int]("lo") == 1 &&
        r.getAs[Int]("hi") == 5)
    }
    val bad = bf.as("a").join(bf.as("b"),
      col("a.q_id") === col("b.q_id") && col("a.rank") < col("b.rank") &&
        col("a.sim") < col("b.sim")).count()
    assert(bad == 0, "rank order must follow similarity order")
  }

  test("lsh agrees with brute force on shared pairs and recalls > 0") {
    val joined = lsh.select(col("q_id"), col("c_id"), col("sim").as("lsim"))
      .join(bf.select(col("q_id"), col("c_id"), col("sim").as("bsim")),
        Seq("q_id", "c_id"))
    val disagree = joined.filter(col("lsim") =!= col("bsim")).count()
    assert(disagree == 0, "same pair must score identically in both paths")
    val recall = joined.count().toDouble / bf.count()
    assert(recall > 0.25, s"multi-table lsh recall too low: $recall")
    info(f"lsh recall@5 = $recall%.2f")
  }

  test("multi-probe lsh lifts recall over single-bucket probing") {
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      df.select("q_id", "c_id")
        .join(bf.select("q_id", "c_id"), Seq("q_id", "c_id"))
        .count().toDouble / bf.count()
    val rSingle = recall(lsh)
    val rMulti = recall(Ann.lshTopK(qs, emb, k = 5, planes = 4, tables = 8,
      hammingProbes = 1))
    assert(rMulti >= rSingle,
      f"multi-probe must not lose recall: $rMulti%.2f vs $rSingle%.2f")
    assert(rMulti > 0.7, f"multi-probe recall too low: $rMulti%.2f")
    info(f"recall@5: single $rSingle%.2f → multi-probe $rMulti%.2f")
  }

  test("ivf agrees with brute force on shared pairs; multi-probe recall") {
    val ivf = Ann.ivfTopK(qs, emb, k = 5, nlist = 16, nProbe = 4).cache()
    val joined = ivf.select(col("q_id"), col("c_id"), col("sim").as("isim"))
      .join(bf.select(col("q_id"), col("c_id"), col("sim").as("bsim")),
        Seq("q_id", "c_id"))
    val disagree = joined.filter(col("isim") =!= col("bsim")).count()
    assert(disagree == 0, "same pair must score identically in both paths")
    val recall = joined.count().toDouble / bf.count()
    // probing 4/16 cells reads ~25% of the corpus; near neighbors
    // concentrate in the query's own cells so recall must beat that share
    assert(recall > 0.4, s"ivf recall too low: $recall")
    info(f"ivf recall@5 = $recall%.2f")
  }

  test("ivf partitioned layout: probe reads ONLY the probed cell dirs") {
    val path = Fixtures.dir("ivf")
    Ann.ivfBuild(emb, path, nlist = 16)
    val probed = Ann.ivfProbe(spark, path, qs, k = 5, nProbe = 4).cache()
    // identical answers to the in-memory ivf path (same quantizer seed)
    val inMem = Ann.ivfTopK(qs, emb, k = 5, nlist = 16, nProbe = 4)
    assert(probed.exceptAll(inMem).isEmpty && inMem.exceptAll(probed).isEmpty,
      "partitioned probe must equal the in-memory ivf ranking")
    // the scan's file list only contains probed cell partitions — the
    // physical nProbe/nlist read the SURVEY §5 layout promises
    val cells = spark.read.parquet(s"$path/data")
      .select("cell").distinct().count()
    // a 20-query batch probes most cells; the pruning claim is per-batch,
    // so measure a small batch whose probe union stays partial. inputFiles
    // ignores pruning (it lists the base relation), so read the EXECUTED
    // scan's metrics: the IN-filter must appear as a PartitionFilter and
    // the file count must drop below the full layout's.
    val fewQs = emb.filter(col("vec_id") < 3)
    val pruned = Ann.probedScan(spark, path, fewQs, nProbe = 4)
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.toString.contains("PartitionFilters: [cell"),
      s"cell IN-list must be a partition filter:\n$scan")
    val readFiles = scan.metrics("numFiles").value
    val allFiles = spark.read.parquet(s"$path/data").inputFiles.length
    assert(readFiles > 0 && readFiles < allFiles,
      s"probe must prune partitions: read $readFiles of $allFiles files " +
        s"($cells cells)")
    info(s"probe read $readFiles/$allFiles files across $cells cells")
  }

  test("pq encode: codes in range, plan codes equal a driver re-encode") {
    val cbs = Ann.pqCodebooks(emb, m = 4, ksub = 16, dims = 64)
    assert(cbs.length == 4 && cbs.forall(_.length == 16) &&
      cbs.forall(_.forall(_.length == 16)))
    val coded = Ann.pqEncode(emb, cbs).cache()
    (0 until 4).foreach { j =>
      val rng = coded.agg(min(s"_code$j"), max(s"_code$j")).head()
      assert(rng.getInt(0) >= 0 && rng.getInt(1) < 16,
        s"subspace $j codes out of [0,16): $rng")
    }
    // independent re-encode of a sample in plain Scala: same argmin rule
    // (|c|²−2·e·c, sequential folds, tie to the lower code)
    val sample = emb.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).toArray))
    val planCodes = coded.filter(col("c_id") % 97 === 0)
      .collect().map(r => r.getLong(0) ->
        (0 until 4).map(j => r.getAs[Int](s"_code$j"))).toMap
    sample.foreach { case (id, e) =>
      val expect = (0 until 4).map { j =>
        var best = 0; var bestScore = Double.MaxValue
        (0 until 16).foreach { r =>
          val c = cbs(j)(r)
          var c2 = 0.0; var dp = 0.0
          var i = 0
          while (i < 16) {
            c2 += c(i) * c(i)
            dp += e(j * 16 + i).toDouble * c(i)
            i += 1
          }
          val s = c2 - 2.0 * dp
          if (s < bestScore) { best = r; bestScore = s }
        }
        best
      }
      assert(planCodes(id) == expect, s"codes diverge for vec $id")
    }
    // reconstruction norm² column equals the Σ_j |c_j[code_j]|² lookup
    val normErr = coded.limit(50).collect().count { r =>
      val manual = (0 until 4).map { j =>
        val c = cbs(j)(r.getAs[Int](s"_code$j"))
        var s = 0.0; var i = 0
        while (i < c.length) { s += c(i) * c(i); i += 1 }
        s
      }.reduceLeft(_ + _)
      r.getAs[Double]("_rn2") != manual
    }
    assert(normErr == 0, "reconstruction norm lookup mismatch")
  }

  test("pq adc + exact refine: agrees with brute force on shared pairs") {
    val pq = Ann.pqTopK(qs, emb, k = 5).cache()
    val perQ = pq.groupBy("q_id").agg(count(lit(1)).as("n")).collect()
    assert(perQ.length == 20 && perQ.forall(_.getAs[Long]("n") == 5))
    // the refine stage re-scores with the SAME exact cosine fold as the
    // brute-force scan, so any pair both paths return must score equal
    val joined = pq.select(col("q_id"), col("c_id"), col("sim").as("psim"))
      .join(bf.select(col("q_id"), col("c_id"), col("sim").as("bsim")),
        Seq("q_id", "c_id"))
    val disagree = joined.filter(col("psim") =!= col("bsim")).count()
    assert(disagree == 0, "refined pair must score identically to exact")
    // recall@5 = share of true top-5 surviving the ADC shortlist: the
    // coarse 4×16-code ADC only has to get neighbors into the top-64
    // shortlist, the refine does the rest
    val recall = joined.count().toDouble / bf.count()
    assert(recall > 0.35, f"pq+refine recall@5 too low: $recall%.2f")
    info(f"pq recall@5 = $recall%.2f (adc shortlist 64 → exact rerank)")
  }

  test("ivfpq: candidates confined to probed cells, exact sims, recall") {
    val ivfpq = Ann.ivfPqTopK(qs, emb, k = 5, nlist = 16, nProbe = 4).cache()
    // refine scores with the exact fold → shared pairs agree with bf
    val joined = ivfpq.select(col("q_id"), col("c_id"), col("sim").as("isim"))
      .join(bf.select(col("q_id"), col("c_id"), col("sim").as("bsim")),
        Seq("q_id", "c_id"))
    assert(joined.filter(col("isim") =!= col("bsim")).count() == 0)
    // every returned candidate must live in one of its query's probed
    // cells (the compressed scan never left the IVF pruning)
    val cents = Ann.seededCentroids(emb, nlist = 16)
    val cells = emb.select(col("vec_id").as("c_id"),
      graft.sim.AnnTestAccess.cellOf(cents, col("embedding")).as("ccell"))
    val probes = qs.select(col("vec_id").as("q_id"),
      explode(graft.sim.AnnTestAccess.probesOf(cents, col("embedding"), 4))
        .as("ccell"))
    val escaped = ivfpq.join(cells, Seq("c_id"))
      .join(probes, Seq("q_id", "ccell"), "left_anti").count()
    assert(escaped == 0, "a result escaped the probed cells")
    // double pruning (cells ∩ ADC shortlist) still recalls well above the
    // probe share
    val recall = joined.count().toDouble / bf.count()
    assert(recall > 0.3, f"ivfpq recall@5 too low: $recall%.2f")
    info(f"ivfpq recall@5 = $recall%.2f (4/16 cells → adc 64 → rerank)")
  }

  test("residual ivfpq: exact refine sims, recall@5 >= raw-space codes") {
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      df.select("q_id", "c_id").join(bf, Seq("q_id", "c_id")).count()
        .toDouble / bf.count()
    val raw = Ann.ivfPqTopK(qs, emb, k = 5, nlist = 16, nProbe = 4).cache()
    val res = Ann.ivfPqResidualTopK(qs, emb, k = 5, nlist = 16, nProbe = 4)
      .cache()
    // the refine stage rescores exactly, so shared pairs must agree
    val joined = res.select(col("q_id"), col("c_id"), col("sim").as("rsim"))
      .join(bf.select(col("q_id"), col("c_id"), col("sim").as("bsim")),
        Seq("q_id", "c_id"))
    assert(joined.filter(col("rsim") =!= col("bsim")).count() == 0)
    // residual codes quantize a tighter domain than raw-space codes at
    // the same bit budget — the ADC shortlist must not lose recall
    val rRaw = recall(raw)
    val rRes = recall(res)
    assert(rRes >= rRaw,
      f"residual codes must not lose recall: $rRes%.2f vs raw $rRaw%.2f")
    info(f"ivfpq recall@5: raw $rRaw%.2f → residual $rRes%.2f")
    raw.unpersist(false); res.unpersist(false)
  }

  test("ivfpq layout: probe equals in-memory plan and prunes partitions") {
    val path = Fixtures.dir("ivfpq")
    Ann.ivfPqBuild(emb, path, nlist = 16, m = 4, ksub = 16, dims = 64)
    val probed = Ann.ivfPqProbe(spark, path, qs, k = 5, nProbe = 4)
    val inMem = Ann.ivfPqTopK(qs, emb, k = 5, nlist = 16, nProbe = 4)
    assert(probed.exceptAll(inMem).isEmpty && inMem.exceptAll(probed).isEmpty,
      "stored-code probe must equal the in-memory ivfpq ranking")
    // a small query batch reads only its probed cell directories
    val fewQs = emb.filter(col("vec_id") < 3)
    val cents = Ann.seededCentroids(emb, nlist = 16)
    val pruned = Ann.probedScan(spark, path, fewQs, cents, nProbe = 4)
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val readFiles = scan.metrics("numFiles").value
    val allFiles = spark.read.parquet(s"$path/data").inputFiles.length
    assert(readFiles > 0 && readFiles < allFiles,
      s"ivfpq probe must prune partitions: $readFiles of $allFiles")
  }

  test("ivfpq add: build-then-append equals the one-shot index (train/add)") {
    // the FAISS contract: quantizers train ONCE (here on the even half);
    // add encodes with the stored quantizers and appends — the probe must
    // see one homogeneous layout identical to indexing everything at once
    val half = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 === 1)
    val cents = Ann.seededCentroids(half, nlist = 16)
    val books = Ann.pqCodebooks(half, m = 4, ksub = 16, dims = 64)
    val path = Fixtures.dir("ivfpq_add")
    Ann.ivfPqBuild(half, path, nlist = 16, m = 4, ksub = 16, dims = 64,
      coarse = Some(cents), books = Some(books))
    val before = spark.read.parquet(s"$path/data").inputFiles.length
    Ann.ivfPqAdd(rest, path)
    val after = spark.read.parquet(s"$path/data").inputFiles.length
    assert(after > before, "append must add files inside the cell layout")
    val probed = Ann.ivfPqProbe(spark, path, qs, k = 5, nProbe = 4)
    val oneShot = Ann.ivfPqTopK(qs, emb, k = 5, nlist = 16, nProbe = 4,
      coarse = Some(cents), books = Some(books))
    assert(probed.exceptAll(oneShot).isEmpty &&
      oneShot.exceptAll(probed).isEmpty,
      "append-then-probe must equal the one-shot index ranking")
  }

  test("ivfpq layout: stored centroids and codebooks equal the trainers " +
       "bit for bit") {
    val path = Fixtures.dir("ivfpq_sidecars")
    Ann.ivfPqBuild(emb, path, nlist = 16, m = 4, ksub = 16, dims = 64)
    def bits(vs: Seq[Array[Double]]): Seq[Seq[Long]] =
      vs.map(_.toSeq.map(java.lang.Double.doubleToRawLongBits))
    // read back through Spark's own reader, not the sidecar helper
    val cents = spark.read.parquet(s"$path/centroids")
      .select(col("cell"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    assert(cents.map(_._1).toSeq == (0 until 16))
    assert(bits(cents.map(_._2).toSeq) ==
      bits(Ann.seededCentroids(emb, nlist = 16).toSeq),
      "stored centroids differ from seededCentroids")
    val books = spark.read.parquet(s"$path/codebooks")
      .select(col("book"), col("code"), col("centroid")).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
      .sortBy(_._1)
    val trained = Ann.pqCodebooks(emb, m = 4, ksub = 16, dims = 64)
    assert(books.map(_._1).toSeq ==
      (for (j <- 0 until 4; r <- 0 until 16) yield (j, r)))
    assert(bits(books.map(_._2).toSeq) == bits(trained.toSeq.flatten),
      "stored codebooks differ from pqCodebooks")
  }

  test("ivfpq build collects one quantizer sample; a probe's call runs no " +
       "sidecar job") {
    val path = Fixtures.dir("ivfpq_jobs")
    val (_, built) = jobsRun(
      Ann.ivfPqBuild(emb, path, nlist = 16, m = 4, ksub = 16, dims = 64))
    // the build's only collect is the one md5-rank sample of the coarse
    // quantizer and all four codebooks
    assert(built.count(_.startsWith("collect at ")) == 1, built.mkString(", "))
    // before its action, the probe runs only the pruned scan's own job
    // (the probed-cell ids): no centroid or codebook read
    val cents = Ann.seededCentroids(emb, nlist = 16)
    val (_, scan) = jobsRun(Ann.probedScan(spark, path, qs, cents, 4))
    val (_, probe) = jobsRun(Ann.ivfPqProbe(spark, path, qs, k = 5, nProbe = 4))
    assert(scan.nonEmpty && probe.sorted == scan.sorted,
      s"probe jobs [${probe.mkString(", ")}] vs scan jobs [${scan.mkString(", ")}]")
  }

  test("residual ivfpq layout: probe equals in-memory plan, prunes " +
       "partitions, rejects raw-space layouts") {
    val path = Fixtures.dir("ivfpqres")
    Ann.ivfPqResidualBuild(emb, path, nlist = 16, m = 4, ksub = 16,
      dims = 64)
    val probed = Ann.ivfPqResidualProbe(spark, path, qs, k = 5, nProbe = 4)
    val inMem = Ann.ivfPqResidualTopK(qs, emb, k = 5, nlist = 16, nProbe = 4)
    assert(probed.exceptAll(inMem).isEmpty && inMem.exceptAll(probed).isEmpty,
      "stored residual-code probe must equal the in-memory residual ranking")
    // a small query batch reads only its probed cell directories
    val fewQs = emb.filter(col("vec_id") < 3)
    val cents = Ann.seededCentroids(emb, nlist = 16)
    val pruned = Ann.probedScan(spark, path, fewQs, cents, nProbe = 4)
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val readFiles = scan.metrics("numFiles").value
    val allFiles = spark.read.parquet(s"$path/data").inputFiles.length
    assert(readFiles > 0 && readFiles < allFiles,
      s"residual ivfpq probe must prune partitions: $readFiles of $allFiles")
    // a raw-space layout carries no residual marker — scoring its codes
    // with the residual ADC would silently mis-rank, so the probe refuses
    val rawPath = Fixtures.dir("ivfpq_rawonly")
    Ann.ivfPqBuild(emb, rawPath, nlist = 16, m = 4, ksub = 16, dims = 64)
    val e = intercept[IllegalArgumentException] {
      Ann.ivfPqResidualProbe(spark, rawPath, qs, k = 5)
    }
    assert(e.getMessage.contains("residual"))
  }

  test("residual ivfpq add: build-then-append equals the one-shot index") {
    // train/add with residual codes: quantizers train ONCE (even half),
    // add encodes residuals against the STORED quantizers and appends
    val half = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 === 1)
    val cents = Ann.seededCentroids(half, nlist = 16)
    val books = Ann.pqResidualCodebooks(half, cents, m = 4, ksub = 16,
      dims = 64)
    val path = Fixtures.dir("ivfpqres_add")
    Ann.ivfPqResidualBuild(half, path, nlist = 16, m = 4, ksub = 16,
      dims = 64, coarse = Some(cents), books = Some(books))
    val before = spark.read.parquet(s"$path/data").inputFiles.length
    Ann.ivfPqResidualAdd(rest, path)
    val after = spark.read.parquet(s"$path/data").inputFiles.length
    assert(after > before, "append must add files inside the cell layout")
    val probed = Ann.ivfPqResidualProbe(spark, path, qs, k = 5, nProbe = 4)
    val oneShot = Ann.ivfPqResidualTopK(qs, emb, k = 5, nlist = 16,
      nProbe = 4, coarse = Some(cents), books = Some(books))
    assert(probed.exceptAll(oneShot).isEmpty &&
      oneShot.exceptAll(probed).isEmpty,
      "append-then-probe must equal the one-shot residual ranking")
    // a raw layout refuses residual adds too
    val rawPath = Fixtures.dir("ivfpq_rawadd")
    Ann.ivfPqBuild(half, rawPath, nlist = 16, m = 4, ksub = 16, dims = 64)
    assertThrows[IllegalArgumentException] {
      Ann.ivfPqResidualAdd(rest, rawPath)
    }
  }

  // One layout per encoding, built once with the default quantizers (the
  // same seeded centroids ivfTopK trains), for the marker tests below.
  private lazy val flatLayout = {
    val p = Fixtures.dir("mark_flat"); Ann.ivfBuild(emb, p, nlist = 16); p
  }
  private lazy val pqLayout = {
    val p = Fixtures.dir("mark_pq")
    Ann.ivfPqBuild(emb, p, nlist = 16, m = 4, ksub = 16, dims = 64); p
  }
  private lazy val resLayout = {
    val p = Fixtures.dir("mark_res")
    Ann.ivfPqResidualBuild(emb, p, nlist = 16, m = 4, ksub = 16, dims = 64); p
  }

  /** `body` throws the marker refusal: the entry point's accepted
    * encodings and the layout's own, both named. */
  private def refused(accepts: String, found: String)(body: => Any): Unit = {
    val e = intercept[IllegalArgumentException](body)
    assert(e.getMessage.contains(s"reads encodings $accepts;") &&
      e.getMessage.contains(s"has encoding $found"), e.getMessage)
  }

  test("flat probe over an IVF-PQ and a residual layout equals ivfTopK") {
    // the flat probe ranks exact cosine over the stored raw vectors, so it
    // reads a layout of any encoding (perfbench's ivf_probe_0 probes its
    // IVF-PQ index this way); same quantizer seed, same ranking
    val inMem = Ann.ivfTopK(qs, emb, k = 5, nlist = 16, nProbe = 4).cache()
    for (path <- Seq(pqLayout, resLayout)) {
      val probed = Ann.ivfProbe(spark, path, qs, k = 5, nProbe = 4)
      assert(probed.exceptAll(inMem).isEmpty &&
        inMem.exceptAll(probed).isEmpty,
        s"flat probe of $path must equal the in-memory ivf ranking")
    }
    inMem.unpersist(false)
  }

  test("ivf layouts: each entry point refuses an encoding it would " +
       "misread, and an unmarked layout") {
    val half = emb.filter(col("vec_id") % 2 === 1)
    def files(p: String) = spark.read.parquet(s"$p/data").inputFiles.length
    // raw-space entry points refuse residual codes (and flat layouts,
    // which carry no codes at all) — before anything is read or appended
    val resFiles = files(resLayout)
    refused("pq", "residual")(Ann.ivfPqProbe(spark, resLayout, qs, k = 5))
    refused("pq", "residual")(Ann.ivfPqAdd(half, resLayout))
    assert(files(resLayout) == resFiles, "a refused add appended files")
    refused("pq", "flat")(Ann.ivfPqProbe(spark, flatLayout, qs, k = 5))
    refused("pq", "flat")(Ann.ivfPqAdd(half, flatLayout))
    // and the reverse: residual entry points refuse raw-space and flat
    for ((path, enc) <- Seq(pqLayout -> "pq", flatLayout -> "flat")) {
      refused("residual", enc)(
        Ann.ivfPqResidualProbe(spark, path, qs, k = 5))
      refused("residual", enc)(Ann.ivfPqResidualAdd(half, path))
    }
    // a layout without its marker (a build that died before its last
    // step) is refused by every entry point, the flat ones included
    val unmarked = Fixtures.dir("mark_none")
    Ann.ivfPqBuild(emb, unmarked, nlist = 8, m = 4, ksub = 16, dims = 64)
    assert(new java.io.File(s"$unmarked/encoding").delete())
    val any = "flat, pq, residual"
    refused(any, "none")(Ann.ivfProbe(spark, unmarked, qs, k = 5))
    refused(any, "none")(Ann.probedScan(spark, unmarked, qs, nProbe = 4))
    refused(any, "none")(Ann.probedScan(spark, unmarked, qs,
      Ann.seededCentroids(emb, nlist = 8), nProbe = 4))
    refused(any, "none")(Ann.ivfDelete(spark, unmarked, qs))
    refused(any, "none")(Ann.ivfCompactDeletes(spark, unmarked))
    refused("pq", "none")(Ann.ivfPqProbe(spark, unmarked, qs, k = 5))
    refused("pq", "none")(Ann.ivfPqAdd(half, unmarked))
    refused("residual", "none")(
      Ann.ivfPqResidualProbe(spark, unmarked, qs, k = 5))
    assert(!new java.io.File(s"$unmarked/tombstones").exists(),
      "a refused delete wrote tombstones")
  }

  test("sq8: recall vs brute force is near-exact; recon error within grid") {
    val (mn, mx) = Ann.sq8Stats(emb)
    val sq = Ann.sq8TopK(qs, emb, k = 5, stats = Some((mn, mx))).cache()
    // 8-bit per-dim reconstruction barely perturbs cosine: recall@5 high
    val recall = sq.select("q_id", "c_id")
      .join(bf.select("q_id", "c_id"), Seq("q_id", "c_id"))
      .count().toDouble / bf.count()
    assert(recall > 0.85, f"sq8 recall too low: $recall%.2f")
    info(f"sq8 recall@5 = $recall%.2f")
    // per-dim recon error bounded by half a grid step
    import spark.implicits._
    val sc = mn.indices.map(j => (mx(j) - mn(j)) / 255.0).toArray
    val rows = emb.limit(50).select(col("embedding")).as[Seq[Float]].collect()
    rows.foreach { v =>
      v.indices.foreach { j =>
        val x = v(j).toDouble
        val code = math.min(255.0, math.max(0.0,
          math.floor((x - mn(j)) / sc(j) + 0.5)))
        val recon = mn(j) + code * sc(j)
        assert(math.abs(recon - x) <= sc(j) / 2 + 1e-12,
          s"dim $j recon error ${math.abs(recon - x)} exceeds ${sc(j) / 2}")
      }
    }
  }

  test("binary: refine sims exact on shared pairs; hamming recall reported") {
    val sq = Ann.binaryTopK(qs, emb, k = 5).cache()
    // refined sims are EXACT cosine — identical bits to brute force
    val joined = sq.select(col("q_id"), col("c_id"), col("sim").as("bsim"))
      .join(bf.select(col("q_id"), col("c_id"), col("sim").as("esim")),
        Seq("q_id", "c_id"))
    assert(joined.filter(col("bsim") =!= col("esim")).count() == 0,
      "refined sim must equal the exact cosine bit-for-bit")
    val recall = joined.count().toDouble / bf.count()
    // 1-bit signatures keep enough signal that the top-64 Hamming
    // shortlist recovers most true neighbors before the exact re-rank
    assert(recall > 0.5, f"binary recall too low: $recall%.2f")
    info(f"binary recall@5 = $recall%.2f")
  }

  test("mlp rerank: candidates come from the shortlist and order diverges") {
    val rr = graft.SparkEntry.queries("ann_rerank_mlp")(spark, sfDir).cache()
    val short = Ann.bruteForceTopK(qs, emb, k = 16)
    // every reranked pair is one of the retrieved candidates
    val outside = rr.select("q_id", "c_id")
      .join(short.select("q_id", "c_id"), Seq("q_id", "c_id"), "left_anti")
      .count()
    assert(outside == 0, "reranker invented a candidate outside the shortlist")
    assert(rr.groupBy("q_id").count().collect().forall(_.getLong(1) == 5))
    // the cross-scorer must actually reorder: for some query the top
    // reranked candidate is not the cosine-nearest one
    val moved = rr.filter(col("rerank") === 1)
      .join(short.filter(col("rank") === 1)
        .select(col("q_id"), col("c_id").as("nn")), Seq("q_id"))
      .filter(col("c_id") =!= col("nn")).count()
    assert(moved > 0, "rerank never diverged from retrieval order")
    rr.unpersist()
  }

  test("diversity sample: every cell represented, draw nested and coordinated") {
    val s8 = Ann.diversitySample(emb, perCell = 8).cache()
    val s16 = Ann.diversitySample(emb, perCell = 16).cache()
    // per-cell counts bounded; every non-empty cell contributes
    val per8 = s8.groupBy("cell").count().collect()
    assert(per8.forall(_.getLong(1) <= 8))
    assert(per8.length > 1, "only one cell represented — no diversity")
    // nesting: the perCell=8 draw is a strict subset of perCell=16
    assert(s8.select("vec_id").join(s16.select("vec_id"), Seq("vec_id"),
      "left_anti").count() == 0, "bigger budget dropped a sampled row")
    // coordination: a rerun selects the identical id set
    val again = Ann.diversitySample(emb, perCell = 8).select("vec_id")
    assert(s8.select("vec_id").exceptAll(again).isEmpty)
    s8.unpersist(); s16.unpersist()
  }

  test("hard negatives: in band, ranked, never the true nearest neighbor") {
    val neg = Ann.hardNegatives(qs, emb, n = 5, lo = 0.15, hi = 0.30).cache()
    assert(neg.filter(col("sim") < 0.15 || col("sim") >= 0.30).count() == 0,
      "a mined negative left the similarity band")
    // ranks contiguous from 1 per query
    val perQ = neg.groupBy("q_id")
      .agg(count(lit(1)).as("n"), max("rank").as("hi")).collect()
    perQ.foreach(r => assert(r.getAs[Long]("n") == r.getAs[Int]("hi")))
    // rank-1 exact neighbors sit above the band on this corpus, so the
    // mined set must exclude them — the false-negative guard the band is
    // for (positives: bf rank 1; cross-check with the exact scan)
    val top1 = bf.filter(col("rank") === 1 && col("sim") >= 0.30)
      .select("q_id", "c_id")
    assert(neg.join(top1, Seq("q_id", "c_id")).count() == 0,
      "a near-duplicate leaked into the negatives")
    assert(neg.count() > 0)
  }

  test("knn graph: edges equal within-cell brute force, mutual flags exact") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter($"vec_id" < 300)
    val cents = Ann.seededCentroids(emb, nlist = 4)
    val got = Ann.knnGraph(emb, k = 3, nlist = 4, coarse = Some(cents))
      .select("src", "dst", "rank", "mutual")
      .as[(Long, Long, Int, Boolean)].collect()
    // driver re-derivation: argmin cell (|c|²−2·e·c, tie lower cell),
    // then exact top-3 cosine among cell-mates with (sim desc, id asc)
    val vecs = emb.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
    def cellOf(e: Array[Float]): Int = {
      var best = 0; var bs = Double.MaxValue
      for (j <- cents.indices) {
        val c = cents(j); var c2 = 0.0; var dp = 0.0
        for (i <- c.indices) { c2 += c(i) * c(i); dp += e(i).toDouble * c(i) }
        if (c2 - 2.0 * dp < bs) { best = j; bs = c2 - 2.0 * dp }
      }
      best
    }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dp += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble }
      dp / (math.sqrt(na) * math.sqrt(nb))
    }
    val byCell = vecs.groupBy(v => cellOf(v._2))
    val want = byCell.values.toSeq.flatMap { members =>
      members.toSeq.flatMap { case (id, e) =>
        members.filter(_._1 != id)
          .map { case (o, oe) => (o, cos(e, oe)) }
          .sortBy { case (o, s) => (-s, o) }
          .take(3).zipWithIndex
          .map { case ((o, _), i) => (id, o, i + 1) }
      }
    }.toSet
    assert(got.map(t => (t._1, t._2, t._3)).toSet == want,
      s"edge set diverges: got ${got.length}, want ${want.size}")
    // mutual ⟺ the reversed (src, dst) pair is also an edge
    val edgeSet = got.map(t => (t._1, t._2)).toSet
    got.foreach { case (s0, d0, _, m) =>
      assert(m == edgeSet((d0, s0)), s"mutual flag wrong on ($s0,$d0)")
    }
    assert(got.exists(_._4) && got.exists(!_._4),
      "fixture should contain both mutual and one-way edges")
  }

  test("ivf delete: tombstoned ids vanish from probes; compaction folds them in") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val idx = Fixtures.dir("ivf_del")
    Ann.ivfBuild(emb, idx, nlist = 8)
    val q = emb.filter($"vec_id" < 5)
    val before = Ann.ivfProbe(spark, idx, q, k = 5, nProbe = 3)
    // delete the ids that currently answer the queries
    val victims = before.select($"c_id").distinct().limit(4)
    val victimIds = victims.as[Long].collect().toSet
    Ann.ivfDelete(spark, idx, victims.toDF("vec_id"))
    // materialize BEFORE compaction deletes the files this plan reads
    val after = Ann.ivfProbe(spark, idx, q, k = 5, nProbe = 3)
      .select("q_id", "c_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(after.forall(t => !victimIds(t._2)),
      "a tombstoned id surfaced in a probe")
    // compaction folds the tombstones into the files: same answers,
    // sidecar gone, rows physically removed
    Ann.ivfCompactDeletes(spark, idx)
    val compacted = Ann.ivfProbe(spark, idx, q, k = 5, nProbe = 3)
      .select("q_id", "c_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(compacted == after, "compaction changed probe results")
    assert(!new java.io.File(s"$idx/tombstones").exists(),
      "compaction must clear the tombstone sidecar")
    // the deleted rows are physically gone
    assert(spark.read.parquet(s"$idx/data")
      .filter($"c_id".isin(victimIds.toSeq: _*)).count() == 0)
  }

  test("ivf rebuild at the same path clears the old index's tombstones") {
    import spark.implicits._
    val idx = Fixtures.dir("ivf_rebuild")
    Ann.ivfBuild(emb, idx, nlist = 8)
    val q = emb.filter($"vec_id" < 5)
    def answers = Ann.ivfProbe(spark, idx, q, k = 5, nProbe = 3)
      .select("q_id", "c_id", "rank").as[(Long, Long, Int)].collect().toSet
    val before = answers
    val victims = before.map(_._2)
    Ann.ivfDelete(spark, idx, victims.toSeq.toDF("vec_id"))
    assert(answers.forall(t => !victims(t._2)), "delete had no effect")
    Ann.ivfBuild(emb, idx, nlist = 8)
    assert(!new java.io.File(s"$idx/tombstones").exists(),
      "a rebuild must delete the old tombstones")
    assert(answers == before,
      "the rebuilt index must answer with the ids deleted from the old one")
  }

  test("ivf compaction is crash-recoverable: a leftover data_old from a " +
    "prior crash is cleared, answers unchanged") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val idx = Fixtures.dir("ivf_cr")
    Ann.ivfBuild(emb, idx, nlist = 8)
    val q = emb.filter($"vec_id" < 5)
    Ann.ivfDelete(spark, idx, emb.filter($"vec_id" % 7 === 0)
      .select($"vec_id"))
    val expect = Ann.ivfProbe(spark, idx, q, k = 5, nProbe = 3)
      .select("q_id", "c_id", "rank").as[(Long, Long, Int)].collect().toSet
    // simulate the post-crash state the rename-aside swap can leave: a
    // complete data_old beside the live data directory
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$idx/data"), fs,
      new org.apache.hadoop.fs.Path(s"$idx/data_old"), false,
      spark.sparkContext.hadoopConfiguration)
    Ann.ivfCompactDeletes(spark, idx)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/data_old")),
      "compaction must clear the stale data_old")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/data_compacting")),
      "no transient directory may survive the swap")
    val got = Ann.ivfProbe(spark, idx, q, k = 5, nProbe = 3)
      .select("q_id", "c_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(got == expect, "recovery compaction changed probe results")
  }

  test("ivf compaction: a failed rename raises before the tombstones are " +
    "touched, answers unchanged") {
    import spark.implicits._
    val idx = Fixtures.dir("ivf_failswap")
    Ann.ivfBuild(emb, idx, nlist = 8)
    val q = emb.filter($"vec_id" < 5)
    Ann.ivfDelete(spark, idx, emb.filter($"vec_id" % 7 === 0)
      .select($"vec_id"))
    def answers = Ann.ivfProbe(spark, idx, q, k = 5, nProbe = 3)
      .select("q_id", "c_id", "rank").as[(Long, Long, Int)].collect().toSet
    val expect = answers
    // the same layout through a file system whose data -> data_old
    // rename fails: unchecked, the second rename would land the rewrite
    // INSIDE the live data and the tombstone delete would revive ids
    spark.sparkContext.hadoopConfiguration
      .set("fs.failrename.impl", classOf[FailRenameFs].getName)
    val e = intercept[IllegalArgumentException] {
      Ann.ivfCompactDeletes(spark, s"failrename://$idx")
    }
    assert(e.getMessage.contains("data_old"), e.getMessage)
    assert(new java.io.File(s"$idx/tombstones").isDirectory,
      "a failed swap must keep the tombstones")
    assert(!new java.io.File(s"$idx/data/data_compacting").exists(),
      "the rewrite must not land inside the live data")
    assert(answers == expect, "a failed swap changed probe results")
    // the next compaction overwrites the leftover rewrite and completes
    Ann.ivfCompactDeletes(spark, idx)
    assert(!new java.io.File(s"$idx/tombstones").exists())
    assert(answers == expect, "recovery compaction changed probe results")
  }

  test("filtered search: only same-attribute candidates, subset of unfiltered") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter($"vec_id" < 10)
    val r = Ann.filteredTopK(q, emb, k = 3)
    // every hit carries the query's own label
    val labels = emb.select($"vec_id", $"label")
    val mismatched = r
      .join(labels.select($"vec_id".as("q_id"), $"label".as("ql")), "q_id")
      .join(labels.select($"vec_id".as("c_id"), $"label".as("cl")), "c_id")
      .filter($"ql" =!= $"cl").count()
    assert(mismatched == 0, "a cross-label candidate leaked through")
    // and the filtered ranking is the unfiltered ranking restricted to
    // the label: sims agree wherever a pair appears in both
    val unf = Ann.bruteForceTopK(q, emb, k = 50)
      .select($"q_id", $"c_id", $"sim".as("usim"))
    val both = r.join(unf, Seq("q_id", "c_id"))
    assert(both.filter($"sim" =!= $"usim").count() == 0)
    assert(r.count() > 0)
  }

  test("mmr rerank: diversity beats a redundant twin, greedy is deterministic") {
    import spark.implicits._
    // c1 and c2 are the same direction (pair cosine exactly 1); c3 is
    // equally relevant but diverse. Pure relevance ties all three at 0.8
    // (round 1 falls to c1 by id); MMR's round 2 must skip the twin.
    val q = Seq((100L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(0.8f, 0.6f, 0f, 0f)),
      (2L, Array(1.6f, 1.2f, 0f, 0f)), // 2·c1 → cosine(c1, c2) = 1
      (3L, Array(0.8f, -0.6f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val r = Ann.mmrRerank(q, corpus, kCand = 3, kOut = 2, lam = 0.5)
      .select("round", "c_id").as[(Int, Long)].collect().sortBy(_._1)
    assert(r.toSeq == Seq((1, 1L), (2, 3L)),
      s"expected (1,c1),(2,c3), got ${r.toSeq}")
    // selections come from the shortlist, one per round, per query
    val full = Ann.mmrRerank(q, corpus, kCand = 3, kOut = 3, lam = 0.5)
      .collect()
    assert(full.map(_.getAs[Int]("round")).sorted.toSeq == Seq(1, 2, 3))
    // partition invariance of the whole greedy
    val a = Ann.mmrRerank(q, corpus.repartition(7), kCand = 3, kOut = 2,
      lam = 0.5).select("round", "c_id").as[(Int, Long)].collect().toSet
    assert(a == r.toSet)
  }

  test("nlistFor: the published √n/2 pow-2 convention, clamped") {
    // the r10 sf1 measurement point: 20k vectors → 64 cells
    assert(Ann.nlistFor(20000L) == 64)
    // fixture scales stay at the floor
    assert(Ann.nlistFor(500L) == 16 && Ann.nlistFor(2000L) == 16)
    // lake scale: 1e9 vectors → 16384 cells; ceiling clamps past ~1.7e10
    assert(Ann.nlistFor(1000000000L) == 16384)
    assert(Ann.nlistFor(100000000000L) == 65536)
    // always a power of two inside [16, 65536]
    (1 to 12).map(e => math.pow(10, e).toLong).foreach { n =>
      val v = Ann.nlistFor(n)
      assert(v >= 16 && v <= 65536 && Integer.bitCount(v) == 1, s"n=$n v=$v")
    }
  }
}
