package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.multimodal.Multimodal

/** Text-analysis and multimodal operator properties. */
class TextSpec extends SparkSpec {

  private def docs = Tables(spark, sf).documents

  test("language ID is deterministic and in-vocabulary") {
    // the synthetic corpus text does not carry its lang label (random
    // metadata), so accuracy is meaningless here; the properties that
    // matter are a closed label set and run-to-run determinism (the
    // oracle hash-compare depends on it)
    val a = docs.select(col("doc_id"), langId(col("text")).as("l"))
    val b = docs.select(col("doc_id"), langId(col("text")).as("l"))
    assert(a.except(b).count() == 0)
    val labels = a.select("l").distinct().collect().map(_.getString(0)).toSet
    assert(labels.subsetOf(Set("en", "de", "fr", "es", "zh")))
  }

  test("language ID detects clearly-marked languages") {
    val samples = Seq(
      ("the cat is in the hat and it was for fun", "en"),
      ("der hund ist nicht zu haus und die katze", "de"),
      ("le chat est dans la maison et pour les amis", "fr"),
      ("el gato es un animal y los perros para casa", "es"),
      ("汉字文本测试这里有很多汉字字符", "zh"))
    import spark.implicits._
    val got = samples.toDF("text", "want")
      .select(col("want"), langId(col("text")).as("got")).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"want ${r.getString(0)} got ${r.getString(1)}"))
  }

  test("shingles: k-gram count = max(words - k + 1, 1) before dedup") {
    val df = spark.sql("SELECT 'a b c d e' AS t UNION ALL SELECT 'x y'")
      .select(size(shingles(col("t"), 3)).as("n"), col("t"))
    val m = df.collect().map(r => r.getString(1) -> r.getInt(0)).toMap
    assert(m("a b c d e") == 3)
    assert(m("x y") == 1)
  }

  test("quality score stays within [0, 1]") {
    val qs = SparkEntry.all("t2_quality").build(spark, sf)
      .select("quality").collect().map(_.getDouble(0))
    assert(qs.forall(q => q >= 0.0 && q <= 1.0))
  }

  test("token counts: bpe-ish >= whitespace tokens") {
    val rows = SparkEntry.all("t3_tokens").build(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("bpe_tokens") >= r.getAs[Long]("ws_tokens"))
    }
  }

  test("multimodal stub decode agrees with its SQL twin") {
    val media = Multimodal.asMedia(docs)
    val typed = Multimodal.extractFeatures(media).toDF()
    val sql = Multimodal.extractFeaturesSql(media)
      .select("media_id", "media_type", "n_bytes", "checksum", "width", "height")
    val typedSel = typed.select("media_id", "media_type", "n_bytes",
      "checksum", "width", "height")
      .withColumn("width", col("width").cast("long"))
      .withColumn("height", col("height").cast("long"))
    assert(typedSel.except(sql).count() == 0)
    assert(sql.except(typedSel).count() == 0)
  }

  test("multimodal frame sampling: every 2nd frame, full id coverage") {
    val frames = Multimodal.frameSample(docs, frameChars = 1000, stride = 2)
      .collect()
    // every media id survives (empty docs yield one empty frame)
    assert(frames.map(_.getAs[Long]("media_id")).distinct.length ==
      docs.count())
    // sampled indices are even; all but a doc's last sampled frame are
    // full-size
    assert(frames.forall(_.getAs[Long]("frame_idx") % 2 == 0))
    val byDoc = frames.groupBy(_.getAs[Long]("media_id"))
    byDoc.values.foreach { fs =>
      val sorted = fs.sortBy(_.getAs[Long]("frame_idx"))
      sorted.dropRight(1).foreach(f =>
        assert(f.getAs[Long]("n_chars") == 1000L))
      assert(sorted.last.getAs[Long]("n_chars") <= 1000L)
    }
  }

  test("multimodal resize stub: deterministic byte decimation, no shuffle") {
    val media = Multimodal.asMedia(docs)
    val resized = Multimodal.resizeStub(media, factor = 4)
    val rows = resized.collect()
    rows.foreach { r =>
      val nIn = r.getAs[Long]("n_bytes_in")
      val nOut = r.getAs[Long]("n_bytes_out")
      assert(nOut == (nIn + 3) / 4, s"expected ceil($nIn/4), got $nOut")
    }
    // deterministic across runs
    val again = Multimodal.resizeStub(media, factor = 4)
      .select("media_id", "payload").collect()
      .map(r => r.getAs[Long](0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    rows.foreach { r =>
      assert(again(r.getAs[Long]("media_id")) ==
        r.getAs[Array[Byte]]("payload").toSeq)
    }
    // partition-local: no exchange in the plan
    assert(!resized.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("PII redaction: emails, IPs and phones on adversarial strings") {
    import spark.implicits._
    val cases = Seq(
      // (input, expected redaction)
      ("mail jane.doe+tag@sub.example.co.uk now",
        "mail <EMAIL> now"),
      ("server at 192.168.0.1 and 10.0.255.7.",
        "server at <IP> and <IP>."),
      ("call +1 (555) 010-1234 or 0171-555 0199 today",
        "call <PHONE> or <PHONE> today"),
      // an IP must NOT be half-eaten by the phone pattern
      ("a@b.io 127.0.0.1 +44 20 7946 0958",
        "<EMAIL> <IP> <PHONE>"),
      // no PII → unchanged
      ("just words, no identifiers here", "just words, no identifiers here"))
    val got = cases.toDF("text", "want")
      .select(col("want"), redactPii(col("text")).as("got")).collect()
    got.foreach(r => assert(r.getString(1) == r.getString(0),
      s"\nwant: ${r.getString(0)}\ngot:  ${r.getString(1)}"))
    // counts agree with the redaction
    val counts = Seq("x a@b.cc y c@d.ee 1.2.3.4 +1 (555) 010-1234")
      .toDF("text")
      .select(emailCount(col("text")).as("e"), ipv4Count(col("text")).as("i"),
        phoneCount(col("text")).as("p")).head
    assert((counts.getInt(0), counts.getInt(1), counts.getInt(2)) == ((2, 1, 1)))
  }

  test("repetition stats: ttr and top-bigram occupancy") {
    import spark.implicits._
    val df = Seq(
      (1L, "spam spam spam spam"),        // 4 words, 1 distinct, bigram "spam spam" ×3 of 3
      (2L, "a b c d"),                    // all distinct, each bigram once (3 bigrams)
      (3L, "word"),                       // single word: no bigrams
      (4L, "")                            // empty: no words
    ).toDF("doc_id", "text")
    val got = graft.text.TextAnalysis.repetitionStats(df)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_words"), r.getAs[Double]("ttr"),
          r.getAs[Long]("top_bigram_n"), r.getAs[Double]("bigram_ratio")))).toMap
    assert(got(1L) == ((4L, 0.25, 3L, 1.0)))
    assert(got(2L) == ((4L, 1.0, 1L, 0.333333)))
    assert(got(3L) == ((1L, 1.0, 0L, 0.0)))
    assert(got(4L)._1 == 0L)
    assert(got(4L)._3 == 0L)
  }

  test("decontamination flags exactly the docs sharing a 5-gram") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // contains bench 5-gram "alpha beta gamma delta epsilon"
      (1L, "x alpha beta gamma delta epsilon y"),
      // shares words but no 5-gram run
      (2L, "alpha beta gamma q delta epsilon zeta w o p"),
      (3L, "totally unrelated words here now then")
    ).toDF("doc_id", "text")
    val got = graft.dedup.Dedup.decontaminate(corpus, bench, k = 5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_hit_grams"), r.getAs[Long]("n_bench_docs"))))
      .toMap
    assert(got.keySet == Set(1L))
    assert(got(1L) == ((1L, 1L)))
  }

  test("decontamination joins the benchmark side broadcast") {
    val docs = Tables(spark, sf).documents
    val plan = graft.dedup.Dedup.decontaminate(
      docs.filter(col("doc_id") % 7 =!= 0),
      docs.filter(col("doc_id") % 7 === 0), k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected a broadcast join for the benchmark grams:\n$plan")
  }

  test("temperature sample: flattens head languages, hits budget, exact isqrt") {
    val in = Tables(spark, sf).documents.select(col("doc_id"), col("lang"))
    def run() = graft.text.TextAnalysis
      .temperatureSample(in, col("doc_id"), col("lang"),
        budgetNum = 3L, budgetDen = 10L)
    val kept = run().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSeq
    // deterministic
    assert(run().collect().map(_.getLong(0)).toSet ==
      kept.map(_._1).toSet)
    // every emitted rate equals the exact integer derivation
    // (weights = isqrt(cnt), budget = 3/10, truncating divisions) —
    // recomputed independently in plain Scala
    val counts = in.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def isq(n: Long): Long = { val s = math.sqrt(n.toDouble).toLong
      if ((s + 1) * (s + 1) <= n) s + 1 else if (s * s > n) s - 1 else s }
    val totalDocs = counts.values.sum
    val totalW = counts.values.map(isq).sum
    val budget = totalDocs * 3L / 10L
    val expRate = counts.map { case (l, c) =>
      l -> math.min(1000000L, budget * isq(c) / totalW * 1000000L / c) }
    val rates = kept.groupBy(_._2).map { case (l, rs) => l -> rs.head._3 }
    rates.foreach { case (l, r) =>
      assert(r == expRate(l), s"rate($l)=$r, expected ${expRate(l)}") }
    // sampled share lands near the 30% budget (uniform hash, loose)
    val share = kept.size.toDouble / in.count()
    assert(math.abs(share - 0.3) < 0.1, s"share $share")
    // the isqrt correction is exact on perfect squares and neighbors
    val sq = spark.sql(
      """SELECT n, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS s0
        |FROM VALUES (0L),(1L),(3L),(4L),(15L),(16L),(17L),
        |  (999999999999L),(1000000000000L) AS t(n)""".stripMargin)
      .selectExpr("n",
        """CASE WHEN (s0+1)*(s0+1) <= n THEN s0+1
          |     WHEN s0*s0 > n THEN s0-1 ELSE s0 END AS s""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    sq.foreach { case (n, s) =>
      assert(s * s <= n && (s + 1) * (s + 1) > n, s"isqrt($n)=$s") }
    // flattening semantics on an unambiguously skewed corpus: head
    // 400 docs vs tail 25 (sqrt ratio 4) — the tail's keep rate must
    // exceed the head's, and by roughly the sqrt of the size ratio
    import spark.implicits._
    val skew = ((1 to 400).map(i => (i.toLong, "head")) ++
      (401 to 425).map(i => (i.toLong, "tail"))).toDF("doc_id", "lang")
    val sk = graft.text.TextAnalysis
      .temperatureSample(skew, col("doc_id"), col("lang"), 3L, 10L)
      .select("lang", "rate_ppm").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sk("tail") > sk("head"),
      s"tail rate ${sk("tail")} should exceed head rate ${sk("head")}")
    val ratio = sk("tail").toDouble / sk("head")
    assert(ratio > 2.5 && ratio < 6.0, s"flattening ratio $ratio, want ~4")
  }

  test("stratified sample: deterministic, monotone in rate, near target") {
    val docs = Tables(spark, sf).documents.select(col("doc_id"))
    def sample(ppm: Long) = graft.text.TextAnalysis
      .stratifiedSample(docs, col("doc_id"), lit(ppm))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s30 = sample(300000L); val s60 = sample(600000L)
    // rerun → identical decisions
    assert(sample(300000L) == s30)
    // raising the rate only ADDS documents (threshold-move property)
    assert(s30.subsetOf(s60))
    // rates land near target (uniform hash; corpus is small, be loose)
    val n = docs.count().toDouble
    assert(math.abs(s30.size / n - 0.3) < 0.1)
    assert(math.abs(s60.size / n - 0.6) < 0.1)
  }

  test("native words() equals the composed normalize-split-filter chain") {
    import spark.implicits._
    // the chain words() replaced — kept here as the semantic oracle
    def composed(text: org.apache.spark.sql.Column) =
      filter(split(normalize(text), " "), w => w =!= "")
    // full corpus equivalence
    val mismatch = docs.select(
        words(col("text")).as("native"), composed(col("text")).as("chain"))
      .where(not(col("native") <=> col("chain"))).count()
    assert(mismatch == 0)
    // adversarial strings: unicode lowering into/out of ASCII, CJK,
    // combining marks, emoji, punctuation-only, empties, long runs
    val hard = Seq(
      "", " ", "   ", "a", "A.B,C", "İstanbul KELVIN KK",
      "ÅÉÎØÜ straße İİİ", "汉字 mixed 文本 tokens", "👍🏽 emoji 👍",
      "ȧb", "tab\tnewline\nmix", "0x1F 42abc42", "--__--",
      "ALL CAPS AND digits 123", "ſharp s ß").toDF("text")
    val hardMismatch = hard.select(
        words(col("text")).as("native"), composed(col("text")).as("chain"))
      .where(not(col("native") <=> col("chain"))).count()
    assert(hardMismatch == 0)
  }

  test("sequence packing: complete, budget-respecting, greedy-tight") {
    val docs = Tables(spark, sf).documents
    val budget = 256L
    val got = graft.text.TextAnalysis
      .packSequences(docs, col("doc_id"), col("text"), 8, budget)
      .collect()
    // every doc packed exactly once
    assert(got.map(_.getAs[Long]("doc_id")).toSet.size == docs.count())
    assert(got.length == docs.count())
    val byShard = got.groupBy(_.getAs[Long]("shard"))
    byShard.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("doc_id"))
      // bins are contiguous from 0 and never decrease in doc order
      val bins = sorted.map(_.getAs[Long]("bin"))
      assert(bins.head == 0L)
      bins.sliding(2).foreach {
        case Array(a, b) => assert(b == a || b == a + 1)
        case _ => ()
      }
      // fill never exceeds the budget unless the bin holds one
      // oversize doc alone (never split)
      val byBin = sorted.groupBy(_.getAs[Long]("bin")).toSeq.sortBy(_._1)
      byBin.foreach { case (_, b) =>
        val fill = b.map(_.getAs[Long]("bin_used")).max
        assert(fill <= budget || b.length == 1)
      }
      // greedy tightness: a bin's final fill + the next bin's first
      // doc (whose bin_used IS its token count — first placement)
      // would overflow, else greedy would have kept filling
      byBin.sliding(2).foreach {
        case Seq((_, prev), (_, next)) =>
          val prevFill = prev.map(_.getAs[Long]("bin_used")).max
          val nextFirstTok = next.minBy(_.getAs[Long]("doc_id"))
            .getAs[Long]("bin_used")
          assert(prevFill + nextFirstTok > budget)
        case _ => ()
      }
    }
    // rerun → identical packing (deterministic shard + order)
    val again = graft.text.TextAnalysis
      .packSequences(docs, col("doc_id"), col("text"), 8, budget)
      .collect()
    assert(got.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("bm25: hit monotonicity and exact-integer hit counts") {
    import spark.implicits._
    val crafted = Seq(
      (1L, "spark spark spark join window dup"),
      (2L, "spark join"),
      (3L, "nothing relevant here at all"),
      (4L, "dup dup dup dup")).toDF("doc_id", "text")
    val got = graft.text.TextAnalysis
      .bm25(crafted, col("doc_id"), col("text"),
        Seq("spark", "join", "window", "dup"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("bm25"), r.getAs[Long]("n_hits"))).toMap
    // non-matching doc is absent; all-terms doc hits 4; scores positive
    assert(!got.contains(3L))
    assert(got(1L)._2 == 4L && got(2L)._2 == 2L && got(4L)._2 == 1L)
    assert(got.values.forall(_._1 > 0.0))
    // doc 1 matches a superset of doc 2's terms with >= tf each → higher score
    assert(got(1L)._1 > got(2L)._1)
  }

  test("gopher battery: crafted docs trip exactly the intended rules") {
    import spark.implicits._
    val good = "the cat sat down and then the dog ran fast into that " +
      "old park for fun with them all day long"          // 21 words, clean
    val crafted = Seq(
      (1L, good),
      (2L, "too short for the gate"),                    // r_words
      (3L, good + " lorem ipsum dolor"),                 // r_boiler
      (4L, good.split(" ").map(_ + " ##").mkString(" ")),// r_symbol
      (5L, (1 to 25).map(_.toString).mkString(" ")))     // r_alpha (digits)
      .toDF("doc_id", "text")
    val got = graft.text.TextAnalysis.gopherFilter(crafted)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Boolean]("keep"))
    assert(!got(2L).getAs[Boolean]("r_words") && !got(2L).getAs[Boolean]("keep"))
    assert(!got(3L).getAs[Boolean]("r_boiler"))
    assert(got(3L).getAs[Boolean]("r_words")) // only the boiler rule trips
    assert(!got(4L).getAs[Boolean]("r_symbol"))
    assert(!got(5L).getAs[Boolean]("r_alpha") && !got(5L).getAs[Boolean]("r_stop"))
  }

  test("dsir: target-like docs outscore off-domain docs") {
    import spark.implicits._
    val crafted = Seq(
      (0L, "alpha beta gamma alpha beta gamma", true),
      (1L, "alpha beta gamma beta alpha", true),
      (2L, "delta epsilon zeta delta epsilon", false),
      (3L, "delta zeta epsilon zeta", false),
      (4L, "alpha beta gamma", false),  // target-LIKE, not in target set
      (5L, "delta epsilon", false))     // off-domain
      .toDF("doc_id", "text", "is_tgt")
    val w = graft.text.TextAnalysis.dsirWeights(
      crafted, col("text"), col("doc_id"), col("is_tgt"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("dsir_weight"), r.getAs[Double]("avg_lr"))).toMap
    // the held-out target-LIKE doc scores well above the off-domain
    // doc on both the total and the length-normalized score
    assert(w(4L)._1 > w(5L)._1)
    assert(w(4L)._2 > w(5L)._2)
    // in-target docs sit at the top of the per-gram ranking
    assert(w(0L)._2 > w(2L)._2 && w(1L)._2 > w(3L)._2)
    // determinism (the oracle hash-compare depends on it)
    val again = graft.text.TextAnalysis.dsirWeights(
      crafted, col("text"), col("doc_id"), col("is_tgt"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dsir_weight")).toMap
    assert(w.view.mapValues(_._1).toMap == again)
  }

  test("dsir: row-local native scorer ≡ batch explode/join path") {
    // the streaming twin's scorer (incremental FNV bigram fold +
    // long-sum over scaled 9dp ratios) must reproduce the batch
    // decimal pipeline BIT-identically on the real corpus
    val d = docs
    val isTgt = regexp_extract(col("source"), "[0-9]+", 0).cast("int") < 5
    val batch = graft.text.TextAnalysis
      .dsirWeights(d, col("text"), col("doc_id"), isTgt)
    val fitted = graft.text.TextAnalysis.dsirFit(d, col("text"), isTgt)
    val local = graft.text.TextAnalysis
      .dsirScoreLocal(d, col("text"), col("doc_id"), fitted)
    assert(batch.count() > 0)
    assert(batch.except(local).isEmpty && local.except(batch).isEmpty)
  }

  test("dsir: a halfway weight sum rounds on the exact decimal") {
    import spark.implicits._
    // -2.0762145 is exactly halfway between two 6-dp values, and its
    // nearest double lies just above it: rounding after the cast to
    // DOUBLE gives -2.076214 in an engine that rounds the binary value
    // (DuckDB, the t13/s26 oracle), so every side rounds the exact
    // DECIMAL sum HALF_UP to -2.076215 before the cast
    val batch = Seq("-2.0762145").toDF("lr")
      .agg(sum(col("lr").cast("decimal(18,9)")).as("wsum"))
      .select(graft.text.TextAnalysis.dsirWeight(col("wsum")))
      .as[Double].collect().toSeq
    assert(batch == Seq(-2.076215))
    // the row-local scorer: a one-gram doc under a model whose every
    // bucket holds the halfway ratio
    val local = graft.text.TextAnalysis.dsirScoreLocal(
      Seq((1L, "alpha")).toDF("doc_id", "text"), col("text"), col("doc_id"),
      Array.fill(4096)(-2076214500L))
    assert(local.select("n_grams", "dsir_weight").as[(Long, Double)]
      .collect().toSeq == Seq((1L, -2.076215)))
  }

  test("lm fluency: reference-like text outscores scrambled text") {
    import spark.implicits._
    // train on the 'en' slice; fluent docs reuse its bigrams, the
    // scrambled doc shares the vocabulary but not the transitions
    val crafted = Seq(
      (0L, "the cat sat on the mat", "en"),
      (1L, "the dog sat on the mat", "en"),
      (2L, "the cat sat on the mat again", "xx"),   // fluent, held out
      (3L, "mat the on sat cat the", "xx"),          // scrambled
      (4L, "zork quux blarg zork", "xx"))            // out-of-vocab
      .toDF("doc_id", "text", "lang")
    val got = graft.text.TextAnalysis.lmFluency(
      crafted, col("doc_id"), col("text"),
      trainFilter = col("lang") === "en", keepQ14 = 1200L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("fluency_q14")).toMap
    assert(got(2L) > got(3L), s"fluent must beat scrambled: $got")
    assert(got(3L) > got(4L), s"in-vocab backoff must beat OOV: $got")
    assert(got(4L) == 0L, "all-OOV bigrams score zero")
    // single-word docs emit nothing (no bigrams)
    val one = graft.text.TextAnalysis.lmFluency(
      Seq((9L, "word", "en")).toDF("doc_id", "text", "lang"),
      col("doc_id"), col("text"), col("lang") === "en", 0L)
    assert(one.count() == 0)
  }

  test("lm fluency: row-local native scorer ≡ batch join path") {
    // the streaming twin's scorer (hash-map lookups + long sums) must
    // reproduce the batch join formulation BIT-identically on the
    // real corpus — the property that lets s38 share t17's oracle
    val d = docs
    val train = col("lang") === "en"
    val batch = graft.text.TextAnalysis.lmFluency(
      d, col("doc_id"), col("text"), train, keepQ14 = 1200L)
    val (bi, uni, total) = graft.text.TextAnalysis.lmFitLocal(
      d, col("text"), train)
    val local = graft.text.TextAnalysis.lmScoreLocal(
      d, col("doc_id"), col("text"), bi, uni, total, keepQ14 = 1200L)
    assert(batch.count() > 0)
    assert(batch.except(local).isEmpty && local.except(batch).isEmpty)
  }

  test("nb quality classifier: separates curated from junk on held-out docs") {
    import spark.implicits._
    // labeled seed slice = docs 0-5; 6-9 are held out. Curated docs
    // share an academic vocabulary, junk shares a spam vocabulary.
    val df = Seq(
      (0L, "theorem proof lemma integral converges bound", true, true),
      (1L, "lemma proof theorem derivation bound rigorous", true, true),
      (2L, "proof integral theorem converges lemma", true, true),
      (3L, "click here buy now cheap deal offer", true, false),
      (4L, "buy cheap click offer deal now limited", true, false),
      (5L, "deal click buy now cheap offer", true, false),
      (6L, "theorem lemma proof bound converges", false, false),
      (7L, "click buy cheap deal now", false, false),
      (8L, "theorem proof click buy", false, false))
      .toDF("doc_id", "text", "labeled", "is_pos")
    val (lr, prior) = graft.text.TextAnalysis.nbFit(
      df, col("text"), col("labeled"), col("is_pos"))
    val got = graft.text.TextAnalysis.nbScore(
      df, col("text"), col("doc_id"), lr, prior)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("nb_llr"), r.getAs[Int]("edu_score"),
          r.getAs[Boolean]("keep")))).toMap
    // held-out curated keeps, held-out junk drops
    assert(got(6L)._3, s"curated held-out must keep: $got")
    assert(!got(7L)._3, s"junk held-out must drop: $got")
    assert(got(6L)._1 > got(8L)._1 && got(8L)._1 > got(7L)._1,
      s"curated > mixed > junk: $got")
    // tier ordering follows the per-gram mean
    assert(got(6L)._2 > got(7L)._2, s"edu tiers must separate: $got")
    // determinism (the oracle hash gate depends on it)
    val again = graft.text.TextAnalysis.nbScore(
      df, col("text"), col("doc_id"), lr, prior)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("nb_llr")).toMap
    assert(got.view.mapValues(_._1).toMap == again)
  }

  test("nb quality: row-local native scorer ≡ batch join path") {
    // the s43 twin's scorer (DsirScore bucket walk + prior literal)
    // must reproduce the batch broadcast-join formulation
    // BIT-identically on the real corpus — the property that lets
    // s43 share t21's oracle
    val d = docs
    val labeled = col("doc_id") % 5 === 0
    val isPos = regexp_extract(col("source"), "[0-9]+", 0).cast("int") < 5
    val (lr, prior) = graft.text.TextAnalysis.nbFit(
      d, col("text"), labeled, isPos)
    val batch = graft.text.TextAnalysis.nbScore(
      d, col("text"), col("doc_id"), lr, prior)
    val (arr, p) = graft.text.TextAnalysis.nbFitLocal(
      d, col("text"), labeled, isPos)
    val local = graft.text.TextAnalysis.nbScoreLocal(
      d, col("text"), col("doc_id"), arr, p)
    assert(batch.count() > 0)
    assert(batch.except(local).isEmpty && local.except(batch).isEmpty)
  }

  test("lm fluency: oversized vocabulary fails loudly, not silently") {
    val e = intercept[IllegalArgumentException] {
      graft.text.TextAnalysis.lmFitLocal(
        docs, col("text"), col("lang") === "en", maxVocab = 3)
    }
    assert(e.getMessage.contains("bigram vocabulary exceeds"))
  }

  test("chunking covers every token; overlap and tail policy hold") {
    import spark.implicits._
    // 120 words -> starts 1,49,97; 100 -> 1,49; 64 -> 1; 10 -> 1
    val mk = (n: Int) => (1 to n).map(i => s"w$i").mkString(" ")
    val crafted = Seq(
      (0L, mk(120)), (1L, mk(100)), (2L, mk(64)), (3L, mk(10)),
      (4L, ""))
      .toDF("doc_id", "text")
    val ch = graft.text.TextAnalysis.chunkDocs(
      crafted, col("doc_id"), col("text"), chunkTokens = 64, stride = 48)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"),
        r.getAs[Long]("start_tok"), r.getAs[Long]("n_tokens"),
        r.getAs[String]("chunk_text")))
    val byDoc = ch.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(byDoc(0L).map(c => (c._3, c._4)).toSeq ==
      Seq((1L, 64L), (49L, 64L), (97L, 24L)))
    assert(byDoc(1L).map(c => (c._3, c._4)).toSeq ==
      Seq((1L, 64L), (49L, 52L)))
    assert(byDoc(2L).map(c => (c._3, c._4)).toSeq == Seq((1L, 64L)))
    assert(byDoc(3L).map(c => (c._3, c._4)).toSeq == Seq((1L, 10L)))
    assert(!byDoc.contains(4L), "empty docs emit no chunks")
    // every token of doc 0 appears in at least one chunk, and
    // consecutive chunks share exactly the 16-token overlap
    val c0 = byDoc(0L)
    val covered = c0.flatMap(_._5.split(" ")).toSet
    assert(covered == (1 to 120).map(i => s"w$i").toSet)
    val shared = c0(0)._5.split(" ").toSet intersect c0(1)._5.split(" ").toSet
    assert(shared.size == 16)
  }

  test("bpe training learns the hand-computable merges in order") {
    import spark.implicits._
    // classic BPE toy: 'aa' dominates, then 'aab' ('aa'+'b'), then ...
    // freq('a','a') in "aaab"×3 grams: per word [a,a,a,b] pairs
    // (a,a)x2,(a,b)x1 → weighted by 3 docs. "ab"×2 adds (a,b)x2.
    val crafted = Seq(
      (1L, "aaab aaab aaab"),
      (2L, "ab ab"),
      (3L, "cd"))
      .toDF("doc_id", "text")
    val m = graft.text.TextAnalysis.bpeTrain(crafted, col("text"), 3)
      .orderBy("rank").collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"),
        r.getAs[Long]("pair_count")))
    // round 1: (a,a) = 2 per "aaab" x3 = 6 beats (a,b) = 3+2 = 5
    assert(m(0) == (("a", "a", 6L)))
    // after merging: "aaab" = [aa, a, b] → pairs (aa,a)x3, (a,b)x3
    // plus "ab" (a,b)x2 → (a,b) = 5 wins over (aa,a) = 3
    assert(m(1) == (("a", "b", 5L)))
    // after that: "aaab" = [aa, ab] (greedy L-to-R folds a,b first at
    // positions 2-3; the leading aa was already one symbol)
    assert(m(2) == (("aa", "ab", 3L)))
    // determinism
    val again = graft.text.TextAnalysis.bpeTrain(crafted, col("text"), 3)
      .orderBy("rank").collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"),
        r.getAs[Long]("pair_count")))
    assert(m.toSeq == again.toSeq)
  }

  test("bpe merge is whole-symbol: no cross-boundary collapse") {
    import spark.implicits._
    // After merge (t,h), the word "the" is [th, e]. Rule (h,e) must
    // NOT touch it (its only pair is (th,e)) — the old separator-join
    // replace matched 'h<sep>e' INSIDE "th", collapsing the word to
    // one symbol and erasing the (th,e) pair, so the third merge
    // below never got learned. Frequencies: (t,h)=12 beats (h,e)=11,
    // then (h,e)=6, then (th,e)=5 — learnable only if "the" survives
    // round 2 intact.
    val crafted = Seq(
      (1L, Seq.fill(5)("the").mkString(" ")),
      (2L, Seq.fill(6)("he").mkString(" ")),
      (3L, Seq.fill(7)("th").mkString(" ")))
      .toDF("doc_id", "text")
    val m = graft.text.TextAnalysis.bpeTrain(crafted, col("text"), 3)
      .orderBy("rank").collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"),
        r.getAs[Long]("pair_count")))
    assert(m.length == 3)
    assert(m(0) == (("t", "h", 12L)))
    assert(m(1) == (("h", "e", 6L)))
    assert(m(2) == (("th", "e", 5L)))
  }

  test("BpeMerge expression: exact-pair greedy left-to-right") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge
    def run(syms: Seq[String], a: String, b: String): Seq[String] = {
      val df = Seq(Tuple1(syms)).toDF("syms")
      df.select(ColumnBridge.column(graft.functions.BpeMerge(
          ColumnBridge.expression(col("syms")), a, b)).as("m"))
        .collect().head.getSeq[String](0)
    }
    // no substring matching: (a,b) over [a,bc] stays put
    assert(run(Seq("a", "bc"), "a", "b") == Seq("a", "bc"))
    // greedy non-overlap: (a,a) over [a,a,a] -> [aa, a]
    assert(run(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    // adjacent repeats both merge: [a,b,a,b] -> [ab, ab]
    assert(run(Seq("a", "b", "a", "b"), "a", "b") == Seq("ab", "ab"))
    // multi-char right side matches whole symbols only
    assert(run(Seq("th", "e"), "h", "e") == Seq("th", "e"))
    assert(run(Seq("th", "e"), "th", "e") == Seq("the"))
  }

  test("bpe encode: hand-computed tokens, lowest-rank-first") {
    import spark.implicits._
    // merge table ranks: (t,h)=0, (h,e)=1, (th,e)=2
    val merges = Seq(("t", "h"), ("h", "e"), ("th", "e"))
    val docs = Seq(
      (1L, "the he th"),   // training words encode to their final syms
      (2L, "tht het"),     // novel words: tht -> [th,t]; het -> [he,t]
      (3L, "ethe"))        // e + the -> rank0 th first, then (th,e): [e,the]
      .toDF("doc_id", "text")
    val got = graft.text.TextAnalysis.bpeEncode(docs, col("text"), merges)
      .orderBy("doc_id").collect()
    assert(got(0).getSeq[String](4) == Seq("the", "he", "th"))
    assert(got(1).getSeq[String](4) == Seq("th", "t", "he", "t"))
    assert(got(2).getSeq[String](4) == Seq("e", "the"))
    // counts line up
    assert(got(0).getAs[Long]("n_tokens") == 3L)
    assert(got(1).getAs[Long]("n_tokens") == 4L)
  }

  test("tokenizer fertility: hand-computed ratios; zero-token langs report null") {
    import spark.implicits._
    val merges = Seq(("t", "h"), ("h", "e"), ("th", "e"))
    val docs = Seq(
      (1L, "the he", "en"),  // 2 words -> tokens [the],[he]: 2 tokens, 5 chars
      (2L, "tht", "en"),     // 1 word -> [th,t]: 2 tokens, 3 chars
      (3L, "", "zz"))        // empty text: 0 words, 0 tokens
      .toDF("doc_id", "text", "lang")
    val got = graft.text.TextAnalysis
      .tokenizerFertility(docs, col("text"), merges, col("lang"))
      .orderBy("lang").collect()
    val en = got(0)
    assert(en.getAs[Long]("n_docs") == 2L)
    assert(en.getAs[Long]("total_words") == 3L)
    assert(en.getAs[Long]("total_tokens") == 4L)
    assert(en.getAs[Long]("total_chars") == 8L)
    // 4 tokens / 3 words -> floor(4e6/3) = 1333333
    assert(en.getAs[Long]("fertility_q6") == 1333333L)
    // 8 chars / 4 tokens -> 2.0
    assert(en.getAs[Long]("chars_per_token_q6") == 2000000L)
    // the zero-token language reports null ratios, not a crash — the
    // guard branch the oracle corpus never exercises
    val zz = got(1)
    assert(zz.getAs[Long]("total_tokens") == 0L)
    assert(zz.isNullAt(zz.fieldIndex("fertility_q6")), zz)
    assert(zz.isNullAt(zz.fieldIndex("chars_per_token_q6")), zz)
  }

  test("bpe encode over the real corpus: lossless and bounded") {
    val docs = Tables(spark, sf).documents.limit(200)
    val merges = graft.text.TextAnalysis.bpeTrain(docs, col("text"), 5)
      .orderBy("rank").collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq
    assert(merges.nonEmpty)
    val enc = graft.text.TextAnalysis.bpeEncode(docs, col("text"), merges)
    // losslessness: encoded chars == the chars of the normalized words
    val wordChars = docs.select(col("doc_id"),
      length(array_join(graft.functions.TextFunctions.words(col("text")), ""))
        .cast("long").as("wc"))
    val joined = enc.join(wordChars, "doc_id")
    assert(joined.filter(col("n_chars") =!= col("wc")).isEmpty)
    // every word is >= 1 token; merging never grows the count
    assert(enc.filter(col("n_tokens") < col("n_words")).isEmpty)
    assert(enc.filter(col("n_tokens") > col("n_chars")).isEmpty)
    // the merges actually compress: strictly fewer tokens than chars
    assert(enc.filter(col("n_tokens") < col("n_chars")).count() > 0)
  }

  test("shard stats partition the corpus with bounded skew") {
    val docs = Tables(spark, sf).documents
    val got = graft.text.TextAnalysis
      .shardStats(docs, col("doc_id"), col("text"), 8).collect()
    assert(got.map(_.getAs[Long]("shard")).toSet.subsetOf((0L until 8L).toSet))
    assert(got.map(_.getAs[Long]("n_docs")).sum == docs.count())
    // uniform hash → no empty shard and no shard holding half the corpus
    val sizes = got.map(_.getAs[Long]("n_docs"))
    assert(sizes.length == 8)
    assert(sizes.max < docs.count() / 2)
  }

  test("ccnet buckets: per-language threshold tiers ordered by fluency") {
    val rows = graft.queries.TextQueries.defs("t19_ccnet_buckets")
      .build(spark, sf).collect()
    assert(rows.length == docs.count())
    rows.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      val byBucket = rs.groupBy(_.getAs[String]("bucket"))
        .view.mapValues(_.map(_.getAs[Long]("fluency_q14"))).toMap
      // threshold contract (r14, replacing the ntile plan): tiers are
      // cutoff-assigned — each holds AT LEAST its tertile share
      // (ceil(n/3) head, ceil(2n/3) head+middle) and boundary ties
      // promote upward, so head/middle may run over but never under
      val n = rs.length
      val nHead = byBucket.getOrElse("head", Array.empty[Long]).length
      val nMiddle = byBucket.getOrElse("middle", Array.empty[Long]).length
      assert(nHead >= (n + 2) / 3, s"$lang head $nHead of $n")
      assert(nHead + nMiddle >= (2 * n + 2) / 3,
        s"$lang head+middle ${nHead + nMiddle} of $n")
      // fluency tiers strictly: every head score >= every middle
      // score STRICTLY above the boundary (ties promoted, so the
      // bucket boundaries never interleave)
      if (byBucket.contains("head") && byBucket.contains("middle"))
        assert(byBucket("head").min > byBucket("middle").max,
          s"$lang head/middle interleave")
      if (byBucket.contains("middle") && byBucket.contains("tail"))
        assert(byBucket("middle").min > byBucket("tail").max,
          s"$lang middle/tail interleave")
    }
  }

  // r16 optimization pins: the two operator internals that changed
  // shape must stay bit-identical to their previous formulations.

  test("r16: bpe driver-side rounds equal the distributed loop") {
    // maxLocalVocab = 0 forces the distributed path on the same data;
    // the merge tables (picks, tie-breaks, counts) must be EQUAL
    import org.apache.spark.sql.functions.col
    val local = graft.text.TextAnalysis
      .bpeTrain(docs, col("text"), nMerges = 8)
      .orderBy("rank").collect().map(_.toSeq)
    val dist = graft.text.TextAnalysis
      .bpeTrain(docs, col("text"), nMerges = 8, maxLocalVocab = 0)
      .orderBy("rank").collect().map(_.toSeq)
    assert(local.toSeq == dist.toSeq)
    assert(local.nonEmpty)
  }

  test("r16: TopCountStats equals the explode-groupBy bigram mode") {
    // the native per-row mode count vs a recomputation through the
    // OLD shuffle formulation, over real corpus text plus edge rows
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.words
    val edge = spark.createDataFrame(Seq(
      (100001L, ""), (100002L, "one"), (100003L, "a a a a"),
      (100004L, "x y x y x"), (100005L, "tie tie bie bie"),
      (100006L, "é café é café é")))
      .toDF("doc_id", "text")
    val in = docs.select(col("doc_id"), col("text")).unionByName(edge)
    val got = graft.text.TextAnalysis.repetitionStats(in)
      .select("doc_id", "top_bigram_n", "bigram_ratio")
    val base = in.select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).as("n_words"))
    val bigrams = base.select(col("doc_id"),
      expr("filter(zip_with(w, slice(w, 2, greatest(n_words - 1, 0)), " +
        "(a, b) -> concat(a, ' ', b)), x -> x IS NOT NULL)").as("bgs"))
      .select(col("doc_id"), explode(col("bgs")).as("bg"))
    val old = base.select(col("doc_id"))
      .join(bigrams.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(max(col("c")).as("top"), sum(col("c")).as("n")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("top"), lit(0L)).as("top_bigram_n"),
        round(coalesce(col("top"), lit(0L)).cast("double") /
          greatest(coalesce(col("n"), lit(0L)).cast("double"), lit(1.0)), 6)
          .as("bigram_ratio"))
    val g = got.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getDouble(2))).toMap
    val o = old.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getDouble(2))).toMap
    assert(g == o)
    assert(g(100004L)._1 == 2L) // "x y" twice beats "y x" twice? both 2 — top is 2
    assert(g(100003L)._1 == 3L) // "a a" three times
  }
}
