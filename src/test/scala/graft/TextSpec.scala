package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Edge cases of the text operators that the oracle gate's corpus never
  * hits: chunk boundaries and packing argument guards.
  */
class TextSpec extends SparkSpec {

  private def chunksOf(text: String, width: Int, overlap: Int): Seq[(Int, String)] = {
    import spark.implicits._
    Seq(text).toDF("text")
      .select(explode(TextFunctions.chunk(
        TextFunctions.tokens(col("text")), width, overlap)).as("c"))
      .select(col("c.start"), col("c.text"))
      .as[(Int, String)].collect().toSeq
  }

  test("chunk: doc shorter than one window is exactly one chunk") {
    assert(chunksOf("a b c", 10, 2) == Seq((0, "a b c")))
  }

  test("chunk: exact multiple has no redundant tail window") {
    // 8 tokens, width 4, overlap 0 -> exactly 2 chunks
    assert(chunksOf("a b c d e f g h", 4, 0) ==
      Seq((0, "a b c d"), (4, "e f g h")))
  }

  test("chunk: overlap repeats the boundary tokens") {
    // 6 tokens, width 4, overlap 2 -> starts 0, 2: windows cover to the end
    assert(chunksOf("a b c d e f", 4, 2) ==
      Seq((0, "a b c d"), (2, "c d e f")))
  }

  test("chunk: last window reaches the end even when short") {
    // 5 tokens, width 4, overlap 1 (step 3): ceil(1/3)+1 = 2 chunks
    assert(chunksOf("a b c d e", 4, 1) ==
      Seq((0, "a b c d"), (3, "d e")))
  }

  test("chunk and pack reject bad arguments") {
    intercept[IllegalArgumentException](
      chunksOf("a", 4, 4)) // overlap must be < width
    intercept[IllegalArgumentException](
      TextFunctions.packBySource(
        spark.range(1).toDF("doc_id"), budget = 0))
  }

  private def gopher(text: String): org.apache.spark.sql.Row = {
    import spark.implicits._
    Seq(text).toDF("text")
      .select(TextFunctions.gopherSignals(col("text")).as("g"))
      .select("g.*").head()
  }

  // a clean 60-word English-ish doc that satisfies every Gopher rule
  private val goodDoc =
    (("the cat sat with the dog and that was fine to see " * 6).trim)

  test("quality calibration: monotone within source, threshold binds per source") {
    import org.apache.spark.sql.functions._
    val res = graft.SparkEntry.queries("text_quality_calibrated")(spark, sfDir)
      .cache()
    // within a source no dropped doc outranks a kept one
    val bad = res.as("a").join(res.as("b"),
      col("a.source") === col("b.source") &&
        !col("a.kept") && col("b.kept") &&
        col("a.quality") > col("b.quality")).count()
    assert(bad == 0, "a dropped doc outranks a kept doc within its source")
    // the bottom-quintile drop bites in EVERY source (per-source threshold,
    // not a global one)
    val perSource = res.groupBy("source").agg(
      sum(when(col("kept"), 1).otherwise(0)).as("nk"),
      count(lit(1)).as("n")).collect()
    perSource.foreach { r =>
      val (nk, n) = (r.getAs[Long]("nk"), r.getAs[Long]("n"))
      assert(nk < n, s"${r.getString(0)}: nothing dropped")
      assert(nk >= (0.7 * n).toLong, s"${r.getString(0)}: dropped too much")
    }
    res.unpersist()
  }

  test("gopher battery: a clean document passes every rule") {
    val g = gopher(goodDoc)
    assert(g.getAs[Boolean]("pass"))
    assert(g.getAs[Int]("n_words") == 72 && g.getAs[Int]("stop_hits") >= 2)
    assert(g.getAs[Double]("alpha_frac") == 1.0)
  }

  test("gopher battery: each rule fails independently") {
    // too short
    assert(!gopher("the cat sat with a hat").getAs[Boolean]("pass"))
    // symbol ratio: a '#' per word blows the 0.1 cap
    val hashy = goodDoc.split(" ").map(_ + " #").mkString(" ")
    assert(gopher(hashy).getAs[Double]("symbol_ratio") > 0.1)
    // bullet lines: every line bulleted > 90 %
    val bullets = (1 to 4).map(i => s"- item $i").mkString("\n")
    assert(gopher(bullets).getAs[Double]("bullet_frac") == 1.0)
    // ellipsis line endings
    val ell = "the start...\nthe middle...\nthe end"
    assert(math.abs(gopher(ell).getAs[Double]("ellipsis_frac") - 2.0 / 3) < 1e-9)
    // alphabetic-word fraction: all-numeric words
    val nums = (1 to 60).map(_.toString).mkString(" ")
    val gn = gopher(nums)
    assert(gn.getAs[Double]("alpha_frac") == 0.0 && !gn.getAs[Boolean]("pass"))
    // stop words: long alpha doc with none of the Gopher list
    val noStop = ("lorem ipsum dolor sit amet " * 12).trim
    val gs = gopher(noStop)
    assert(gs.getAs[Int]("stop_hits") < 2 && !gs.getAs[Boolean]("pass"))
  }

  test("mix to budget: overflow fill, exclusion, and append-only growth") {
    import spark.implicits._
    val docs = (0 until 30).map { i =>
      (i.toLong, s"src${i % 3}", ("w " * 10).trim) // 10 tokens each
    }.toDF("doc_id", "source", "text")
    val mix = TextFunctions.mixToBudget(docs,
      Seq("src0" -> 0.5, "src2" -> 0.0), defaultWeight = 0.25,
      totalBudget = 50)
    val by = mix.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // src0: budget 25 → docs at before 0, 10, 20 (overflow) = 3 docs
    assert(by.get("src0").contains(3L))
    // default: budget 12 → before 0, 10 = 2 docs; excluded: absent
    assert(by.get("src1").contains(2L) && !by.contains("src2"))
    // growing the budget only appends: the smaller mix is a subset
    val bigger = TextFunctions.mixToBudget(docs,
      Seq("src0" -> 0.5, "src2" -> 0.0), defaultWeight = 0.25,
      totalBudget = 90)
    assert(mix.join(bigger, Seq("doc_id"), "left_anti").count() == 0)
    intercept[IllegalArgumentException](
      TextFunctions.mixToBudget(docs, Nil, -0.1, 10))
  }

  test("temperature sample: flattens skew toward rare sources, nested") {
    import spark.implicits._
    val docs = ((0 until 900).map(i => (i.toLong, "big")) ++
      (900 until 1000).map(i => (i.toLong, "rare")))
      .toDF("doc_id", "source")
    val samp = TextFunctions.temperatureSample(docs, budget = 100)
    val by = samp.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // √900=30, √100=10, Σ=40 → quotas 75/25: the rare source's share
    // rises from its natural 10% to 25% — the τ=0.5 flattening
    assert(by("big") == 75L && by("rare") == 25L, by.toString)
    // a bigger budget only appends (coordinated md5 rank order)
    val bigger = TextFunctions.temperatureSample(docs, budget = 200)
    assert(samp.join(bigger, Seq("doc_id"), "left_anti").count() == 0)
    // every source keeps at least one doc even when the floor hits zero
    val tiny = TextFunctions.temperatureSample(docs, budget = 2)
    assert(tiny.groupBy("source").count().count() == 2)
  }

  test("tf-idf: hand-computed scores and rank order") {
    import spark.implicits._
    val docs = Seq((0L, "a a b"), (1L, "a c")).toDF("doc_id", "text")
    val r = TextFunctions.tfidfTopTerms(docs, k = 2).collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[Int]("rank")) ->
        (x.getAs[String]("term"), x.getAs[Double]("score"))).toMap
    def rnd4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val idfRare = math.log(3.0 / 2.0) + 1.0 // df=1, N=2
    // d0: a scores 2/3·1 (idf of a is ln(3/3)+1 = 1); b scores 1/3·idfRare
    assert(r((0L, 1)) == ("a", rnd4(2.0 / 3)))
    assert(r((0L, 2)) == ("b", rnd4(1.0 / 3 * idfRare)))
    // d1: the rare term outranks the common one
    assert(r((1L, 1)) == ("c", rnd4(0.5 * idfRare)))
    assert(r((1L, 2)) == ("a", rnd4(0.5)))
  }

  test("unigram lm score: hand-computed probabilities and oov handling") {
    import spark.implicits._
    // tokens: a×3, b×1, c×1 → total 5; vocab(minCount=2) = {a: 3};
    // b and c are OOV and score at p = 1/total
    val docs = Seq((0L, "a a b"), (1L, "a c")).toDF("doc_id", "text")
    val r = TextFunctions.unigramLmScore(docs, minCount = 2)
      .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
    def rnd4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val lpA = -math.log(3.0 / 5.0); val lpOov = -math.log(1.0 / 5.0)
    assert(r(0L).getAs[Double]("lm_score") == rnd4((2 * lpA + lpOov) / 3))
    assert(r(0L).getAs[Double]("oov_rate") == rnd4(1.0 / 3))
    assert(r(1L).getAs[Double]("lm_score") == rnd4((lpA + lpOov) / 2))
    // the doc leaning on the common token is the more "fluent" one
    assert(r(0L).getAs[Double]("lm_score") < r(1L).getAs[Double]("lm_score"))
  }

  test("bigram lm score: interpolation, backoff and first-token handling") {
    import spark.implicits._
    // unigrams: a×3, b×3, c×1 → T=7; vocab(≥2) = {a:3, b:3}, c OOV
    // bigrams: (a,b)×3, (b,a)×1, (b,c)×1 → only (a,b) survives minCount
    val docs = Seq((0L, "a b a b"), (1L, "a b c")).toDF("doc_id", "text")
    val r = TextFunctions.bigramLmScore(docs, minCount = 2, lambda = 0.75)
      .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
    def rnd4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val t = 7.0
    val pFirstA = 3.0 / t                    // first token: unigram only
    val pAB = 0.75 * (3.0 / 3.0) + 0.25 * (3.0 / t) // seen bigram
    val pBA = 0.75 * 0.0 + 0.25 * (3.0 / t) // (b,a) cut → backoff
    val pBC = 0.75 * 0.0 + 0.25 * (1.0 / t) // OOV cur + cut bigram
    val lm0 = (-math.log(pFirstA) - math.log(pAB) - math.log(pBA) -
      math.log(pAB)) / 4
    val lm1 = (-math.log(pFirstA) - math.log(pAB) - math.log(pBC)) / 3
    assert(r(0L).getAs[Double]("lm_score") == rnd4(lm0))
    assert(r(0L).getAs[Double]("oov_rate") == 0.0)
    assert(r(1L).getAs[Double]("lm_score") == rnd4(lm1))
    assert(r(1L).getAs[Double]("oov_rate") == rnd4(1.0 / 3))
    // the high-probability chain is the more fluent one
    assert(r(0L).getAs[Double]("lm_score") < r(1L).getAs[Double]("lm_score"))
    // partition invariance: decimal-exact sums, no positional state
    val many = (0 until 200).map(i => (i.toLong,
      (0 until 20).map(k => s"w${(i + k * 3) % 17}").mkString(" ")))
    val df = many.toDF("doc_id", "text")
    val x1 = TextFunctions.bigramLmScore(df.repartition(13))
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    val x2 = TextFunctions.bigramLmScore(df.coalesce(1))
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(x1 == x2)
  }

  test("source drift: identical sources read 0, disjoint vocab reads high") {
    import spark.implicits._
    val text = (1 to 30).map(i => s"w${i % 10}").mkString(" ")
    val alien = (1 to 30).map(i => s"z${i % 10}").mkString(" ")
    val docs = Seq(
      (0L, "twinA", text), (1L, "twinB", text), (2L, "alien", alien)
    ).toDF("doc_id", "source", "text")
    val r = TextFunctions.sourceDrift(docs).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getDouble(2))).toMap
    // twins: p differs from the corpus mixture q, but identically — both
    // read the same positive drift, strictly below the alien source
    assert(r("twinA")._2 == r("twinB")._2)
    assert(r("alien")._2 > r("twinA")._2,
      s"disjoint vocab must out-drift a shared one: $r")
    // JS is bounded by ln 2
    r.values.foreach { case (_, js) =>
      assert(js >= 0.0 && js <= math.log(2.0) + 1e-9, s"JS out of range: $js")
    }
    // a corpus of ONE source: p = q exactly → drift 0
    val solo = TextFunctions.sourceDrift(
      Seq((0L, "only", text), (1L, "only", alien))
        .toDF("doc_id", "source", "text")).head()
    assert(solo.getDouble(2) == 0.0)
  }

  test("dsir: hand-computed importance scores and stratified selection") {
    import spark.implicits._
    // target = src0 = {a a b}; other = src1 = {a c, c c}
    // corpus counts: a×3, b×1, c×3 → V=3, N_c=7; target: a×2, b×1, N_t=3
    val docs = Seq((0L, "src0", "a a b"), (1L, "src1", "a c"),
      (2L, "src1", "c c")).toDF("doc_id", "source", "text")
    val r = TextFunctions.dsirScore(docs, targetSource = "src0",
      perSourceK = 1).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    def rnd4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val lnK = math.log(10.0 / 6.0) // (N_c+V)/(N_t+V)
    val lpA = math.log(3.0 / 4.0) // (2+1)/(3+1)
    val lpB = math.log(2.0 / 2.0)
    val lpC = math.log(1.0 / 4.0) // target-absent token
    assert(r(0L).getAs[Double]("dsir_score") == rnd4(2 * lpA + lpB + 3 * lnK))
    assert(r(1L).getAs[Double]("dsir_score") == rnd4(lpA + lpC + 2 * lnK))
    assert(r(2L).getAs[Double]("dsir_score") == rnd4(2 * lpC + 2 * lnK))
    // target-like doc outranks the target-absent one within src1
    assert(r(1L).getAs[Int]("rk") == 1 && r(1L).getAs[Boolean]("selected"))
    assert(r(2L).getAs[Int]("rk") == 2 && !r(2L).getAs[Boolean]("selected"))
    intercept[IllegalArgumentException](
      TextFunctions.dsirScore(docs, perSourceK = 0))
  }

  test("bucket counts: mass conservation, determinism, bucket placement") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq((0L, "alpha beta gamma delta"), (1L, "x")).toDF("doc_id", "text")
    val r = docs.select(col("doc_id"),
        TextFunctions.bucketCounts(split(col("text"), " "), 16).as("v"))
      .collect().map(x => x.getAs[Long](0) -> x.getSeq[Double](1)).toMap
    // every token lands in exactly one bucket: counts sum to token count
    assert(r(0L).sum == 4.0 && r(0L).length == 16)
    assert(r(1L).sum == 1.0)
    // placement matches a driver-side recompute of the same md5 bucket
    def bucket(t: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
      ((d(0) >> 4) & 0xf) % 16
    }
    Seq("alpha", "beta", "gamma", "delta").foreach { t =>
      assert(r(0L)(bucket(t)) >= 1.0, s"token $t missing from its bucket")
    }
  }

  test("rag pipeline: self-document surfaces for every query") {
    import org.apache.spark.sql.functions._
    val out = graft.SparkEntry.queries("pipeline_rag")(spark, sfDir).cache()
    // 3 queries × 5 contiguous ranks
    val perQ = out.groupBy("q_id")
      .agg(count(lit(1)).as("n"), max("rank").as("hi")).collect()
    assert(perQ.length == 3)
    perQ.foreach(r => assert(r.getAs[Long]("n") == 5 && r.getAs[Int]("hi") == 5))
    // the query text is a verbatim slice of its own document, so the
    // self-document must appear in that query's top-5
    val selfHit = out.filter(col("q_id") === col("doc_id")).count()
    assert(selfHit >= 3, s"self-retrieval failed: only $selfHit self hits")
    out.unpersist()
  }

  test("hashed linear score: hand-computed feature weights and label") {
    import spark.implicits._
    // independent JVM replay of the hash→bucket→weight pipeline
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def weightOf(feat: String): Double = {
      val b = java.lang.Long.parseLong(md5hex(feat).take(4), 16)
      java.lang.Long.parseLong(md5hex("w:" + b).take(8), 16) /
        4294967296.0 - 0.5
    }
    val docs = Seq((0L, "alpha beta gamma"), (1L, "alpha")).toDF("doc_id", "text")
    val r = TextFunctions.hashedLinearScore(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    def rnd4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    // 3 tokens + 2 bigrams; features fold in (tokens, then bigrams) order
    val feats0 = Seq("alpha", "beta", "gamma", "alpha beta", "beta gamma")
    val m0 = feats0.map(weightOf).foldLeft(0.0)(_ + _) / feats0.size
    assert(r(0L).getAs[Int]("n_feats") == 5)
    assert(r(0L).getAs[Double]("feat_score") == rnd4(m0))
    assert(r(0L).getAs[Double]("quality_prob") ==
      rnd4(1.0 / (1.0 + math.exp(-20.0 * m0))))
    assert(r(0L).getAs[Boolean]("label") == (m0 > 0.0))
    // single token: no bigram features
    val m1 = weightOf("alpha")
    assert(r(1L).getAs[Int]("n_feats") == 1)
    assert(r(1L).getAs[Double]("feat_score") == rnd4(m1))
  }

  test("winnowing: shared runs >= w+k-1 tokens guarantee a shared fingerprint") {
    import spark.implicits._
    val shared = "one two three four five six" // 6 tokens = w+k-1 (w=4, k=3)
    val docs = Seq(
      (0L, s"aa bb cc dd $shared ee ff gg hh"),
      (1L, s"xx yy $shared zz ww vv uu tt")).toDF("doc_id", "text")
    val fps = docs.select(col("doc_id"),
        TextFunctions.gramHashes(
          TextFunctions.shingles(TextFunctions.tokens(col("text")), 3)).as("hs"))
      .select(col("doc_id"),
        explode(TextFunctions.winnowFingerprints(col("hs"), 4)).as("s"))
      .select(col("doc_id"), col("s.fp"))
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    assert((fps(0L) & fps(1L)).nonEmpty,
      "the winnowing guarantee: a 6-token shared run must share a fingerprint")
  }

  test("zipf: an exact power law recovers slope -1 with r2 ~ 1") {
    import spark.implicits._
    // term t_r repeated floor(1200/r) times: cnt ~ 1200/r -> slope -1
    val text = (1 to 40).flatMap(r => Seq.fill(1200 / r)(s"t$r"))
      .mkString(" ")
    val out = graft.queries.TextQueries.zipf(
      Seq((1L, text)).toDF("doc_id", "text")).head()
    assert(out.getAs[Long]("n_terms") == 40)
    val slope = out.getAs[Double]("slope")
    assert(slope > -1.05 && slope < -0.95, s"slope $slope should be ~ -1")
    assert(out.getAs[Double]("r2") > 0.99)
  }

  test("entropy: uniform text maxes out, constant text hits zero") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),            // uniform: H = ln 4, redundancy 0
      (2L, "a a a a"),            // constant: H = 0, redundancy 1
      (3L, "a a b b")             // H = ln 2 over n=4
    ).toDF("doc_id", "text")
    val got = entropyOf(docs)
    def rnd(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    assert(got(1L)._1 == rnd(math.log(4.0)))
    assert(got(1L)._2 == 0.0)
    assert(got(2L)._1 == rnd(math.log(4.0) - 4.0 * math.log(4.0) / 4.0))
    assert(got(2L)._2 == 1.0)
    assert(got(3L)._1 == rnd(math.log(4.0) - (2 * 2.0 * math.log(2.0)) / 4.0))
  }

  private def entropyOf(docs: org.apache.spark.sql.DataFrame)
      : Map[Long, (Double, Double)] =
    graft.queries.TextQueries.entropy(docs).collect()
      .map(x => (x.getLong(0),
        (x.getAs[Double]("entropy"), x.getAs[Double]("redundancy")))).toMap

  test("collocations: hand-computed lift values and the min-count floor") {
    import spark.implicits._
    // 10 docs of "x y z x y w": T=60 tokens, B=50 bigrams;
    // c(x y)=20, c(x)=c(y)=20 -> lift = 20*60^2/(50*20*20) = 3.6;
    // "q r" appears in only 4 docs -> under the >=5 floor, dropped.
    val docs = ((0 until 10).map(i => (i.toLong, "x y z x y w")) ++
      (10 until 14).map(i => (i.toLong, "q r")) ++
      Seq((14L, "y k y m"))).toDF("doc_id", "text")
    val rows = graft.queries.TextQueries.collocations(docs).collect()
    val byBigram = rows.map(r => r.getAs[String]("bigram") -> r).toMap
    // T=72 tokens, B=57 bigrams; c(x y)=20, c(x)=20, c(y)=22
    val expected = math.floor(20.0 * 72 * 72 / (57.0 * 20 * 22) * 10000 + 0.5) / 10000
    assert(byBigram("x y").getAs[Double]("lift") == expected)
    assert(byBigram("x y").getAs[Long]("cab") == 20)
    assert(!byBigram.contains("q r"), "4 occurrences is under the >=5 floor")
    // perfect association at lower frequency out-lifts: z always precedes x
    assert(byBigram("z x").getAs[Double]("lift") >
      byBigram("x y").getAs[Double]("lift"))
  }

  test("winnowing density is ~2/(w+1) and every window is covered") {
    import spark.implicits._
    val text = (0 until 500).map(i => s"tok${i * 7919 % 1003}").mkString(" ")
    val doc = Seq((0L, text)).toDF("doc_id", "text")
    val hs = doc.select(TextFunctions.gramHashes(
      TextFunctions.shingles(TextFunctions.tokens(col("text")), 3)).as("hs"))
    val sel = hs.select(explode(
        TextFunctions.winnowFingerprints(col("hs"), 4)).as("s"))
      .select(col("s.pos")).collect().map(_.getInt(0)).sorted
    val nGrams = 500 - 2
    val density = sel.length.toDouble / nGrams
    assert(density > 0.25 && density < 0.55, s"density $density off 2/(w+1)=0.4")
    // coverage: consecutive selections are at most w apart
    assert(sel.sliding(2).forall(p => p.length < 2 || p(1) - p(0) <= 4),
      "every window of 4 grams must contain a selected position")
  }

  // The pre-fold forms, verbatim: the shingle lambda captures `toks`, and
  // the top-n-gram count captures the gram array inside a per-gram filter.
  private def shinglesRef(toks: Column, w: Int): Column =
    when(size(toks) < w, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - w),
        i => concat_ws(" ", slice(toks, i + 1, lit(w)))))

  private def topNgramFractionRef(toks: Column, n: Int): Column = {
    val grams = shinglesRef(toks, n)
    val counts = transform(array_distinct(grams),
      g => size(filter(grams, x => x === g)))
    when(size(grams) > 0,
      array_max(counts).cast("double") / size(grams)).otherwise(lit(0.0))
  }

  private val equivalenceDocs: Seq[(String, String)] = Seq(
    "null text" -> null,
    "empty text" -> "",
    "one token" -> "solo",
    "fewer tokens than n" -> "a b",
    "all tokens equal" -> Seq.fill(9)("x").mkString(" "),
    "two grams tied for the top count" -> "a b a b c d c d",
    "doubled spaces" -> "a  b  a  b c",
    "CJK tokens" -> "的 了 是 的 了 是 在 的 了",
    "2000 tokens" -> (0 until 2000).map(i => s"w${i * 7919 % 37}").mkString(" "))

  for (n <- Seq(2, 3)) {
    test(s"top-n-gram fold and one-split shingles equal the reference forms, n=$n") {
      import spark.implicits._
      val docs = equivalenceDocs.toDF("case", "text")
      val toks = TextFunctions.tokens(col("text"))
      val rows = docs.select(col("case"),
        TextFunctions.topNgramFraction(toks, n).as("frac"),
        topNgramFractionRef(toks, n).as("frac_ref"),
        TextFunctions.shingles(toks, n).as("sh"),
        shinglesRef(toks, n).as("sh_ref")).collect()
      assert(rows.length == equivalenceDocs.length)
      rows.foreach { r =>
        val what = s"${r.getString(0)}, n=$n"
        assert(r.isNullAt(1) == r.isNullAt(2), what)
        if (!r.isNullAt(1)) assert(
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
            java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
          s"$what: ${r.getDouble(1)} vs ${r.getDouble(2)}")
        assert(r.getAs[collection.Seq[String]]("sh") ==
          r.getAs[collection.Seq[String]]("sh_ref"), what)
      }
    }
  }
}
