package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** DataFrame-level text-analysis operators for the LLM-data-pipeline
  * surface (the column-pure building blocks live in
  * [[graft.functions.TextFunctions]]).
  */
object TextAnalysis {

  /** Repetition signals per document (the Gopher-style quality
    * filters a pretraining pipeline applies): type-token ratio and
    * the fraction of all word bigrams taken by the single most
    * frequent bigram — boilerplate and degenerate generations score
    * high on the latter.
    *
    * Plan shape (r16, guide §2.4 "remove shuffles outright"): every
    * signal depends only on the document's own row, so the whole
    * operator is ONE codegen'd map over the scan — zero exchanges,
    * zero joins. The bigram mode folds through the native
    * [[graft.functions.TopCountStats]] expression: an O(n) per-row
    * hash-count (NOT the O(n²) HOF array walk the earlier explode
    * formulation was avoiding — that concern motivated the old
    * explode → groupBy(doc_id, bigram) → groupBy(doc_id) → join-back
    * pipeline, which exchanged one row per TOKEN corpus-wide and
    * re-scanned the corpus for the join's left side). Counts stay
    * exact longs, so the oracle hash is unchanged.
    */
  def repetitionStats(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val w = words(col(textCol))
    val base = docs.select(col(idCol), w.as("w"))
      .select(col(idCol), col("w"), size(col("w")).as("n_words"))
    // bigrams of the normalized word sequence (duplicates kept — the
    // mode is over OCCURRENCES). zip_with over (w, w shifted by one),
    // NOT transform(sequence(0, n-2), i -> w[i]): the index-lambda
    // form re-evaluates the array attribute per element access in the
    // interpreted HOF path — measured 43x slower (8.7 ms/doc on
    // 54-word docs). zip_with walks both arrays once; the null it
    // pads the shorter side with (concat → null) is filtered, which
    // also makes size<2 docs contribute nothing without a guard.
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val bgs =
      expr("filter(zip_with(w, slice(w, 2, greatest(n_words - 1, 0)), " +
        "(a, b) -> concat(a, ' ', b)), x -> x IS NOT NULL)")
    base
      .select(col(idCol), col("n_words"),
        size(array_distinct(col("w"))).as("n_distinct"),
        ColumnBridge.column(graft.functions.TopCountStats(
          ColumnBridge.expression(bgs))).as("bg"))
      .select(
        col(idCol),
        col("n_words").cast("long").as("n_words"),
        round(col("n_distinct").cast("double") /
          greatest(col("n_words").cast("double"), lit(1.0)), 6).as("ttr"),
        col("bg.top").as("top_bigram_n"),
        round(col("bg.top").cast("double") /
          greatest(col("bg.n").cast("double"), lit(1.0)), 6).as("bigram_ratio"))
  }

  /** PII scrub report: redacted text plus per-category hit counts.
    * Row-local regex work only — codegen'd, no shuffle; at 100 TB
    * this is a pure map stage that rides whatever partitioning the
    * scan produced.
    */
  def piiScrub(docs: DataFrame, textCol: Column, idCol: Column): DataFrame =
    docs.select(
      idCol.as("id"),
      emailCount(textCol).cast("long").as("n_emails"),
      ipv4Count(textCol).cast("long").as("n_ips"),
      phoneCount(textCol).cast("long").as("n_phones"),
      redactPii(textCol).as("redacted"))

  import graft.functions.Fnv64

  /** Deterministic stratified sampling — the domain-mixing step of a
    * pretraining pipeline ("keep 90% of wiki, 10% of crawl"). Each
    * row draws a uniform bucket in [0, 1e6) from an FNV-1a hash of
    * (salt, id) and survives iff bucket < its stratum's rate in ppm.
    *
    * Row-local filter, zero shuffle, trivially reproducible: the same
    * (salt, id) always lands in the same bucket, so reruns — or an
    * incremental run over new data — make identical decisions, and
    * changing a stratum's rate monotonically grows/shrinks its sample
    * (rate r ⊂ rate r' for r < r'), which is what makes mixture
    * re-weighting cheap at 100 TB: no global resample, just a
    * threshold move.
    */
  def stratifiedSample(
      docs: DataFrame,
      idCol: Column,
      ratePpm: Column,
      salt: String = "mix"): DataFrame = {
    val bucket = Fnv64.unsignedMod(
      Fnv64(concat(lit(salt + "|"), idCol.cast("string"))), 1000000L)
    docs.withColumn("bucket", bucket)
      .withColumn("rate_ppm", ratePpm.cast("long"))
      .filter(col("bucket") < col("rate_ppm"))
  }

  /** Exact integer square root as a Column: floor(sqrt(n)) computed
    * via the double sqrt then corrected ±1, so the result is EXACT
    * regardless of libm rounding (double sqrt of a long is always
    * within one of the true floor) — the trick that lets a
    * temperature-weighted sampling decision stay bit-identical
    * across engines without ever trusting a transcendental.
    */
  private def isqrt(n: Column): Column = {
    val s0 = floor(sqrt(n.cast("double"))).cast("long")
    when((s0 + 1) * (s0 + 1) <= n, s0 + 1)
      .when(s0 * s0 > n, s0 - 1)
      .otherwise(s0)
  }

  /** Temperature-flattened group resampling — the multilingual
    * mixing step of a pretraining pipeline (the UniMax / mT5 shape:
    * sample languages ∝ countᵅ instead of raw count, so
    * head languages stop drowning the tail). α is fixed at 1/2
    * (countᵅ = √count) because the integer square root is the one
    * temperature exponent computable EXACTLY in 64-bit arithmetic on
    * any engine — every decision below is integer math, so the
    * sample reproduces bit for bit (same contract as
    * [[stratifiedSample]], which this generalizes: there the rates
    * are given, here they are derived from the corpus itself).
    *
    * Derivation (all integer, in this order): per-group counts cntᵍ;
    * weights wᵍ = isqrt(cntᵍ); budget B = totalDocs·num/den; per-
    * group target tᵍ = B·wᵍ/Σw; keep rate rᵍ = min(1e6, tᵍ·1e6/cntᵍ)
    * ppm; a doc survives iff fnv64(salt|id) mod 1e6 < rᵍ.
    *
    * Plan shape: ONE aggregation shuffle on the group key builds the
    * (tiny) rate table, which broadcast-joins back onto a single
    * corpus scan — the keep decision itself is the same row-local
    * hash filter as stratifiedSample. Group cardinality is languages
    * or domains (dozens), so the rate table broadcasts at any corpus
    * size; re-weighting is a threshold move, no global resample.
    */
  /** The (group → keep-rate ppm) table [[temperatureSample]] derives
    * — exposed so a streaming twin can PRE-FIT the rates on the
    * static corpus (the s26/s30 train-offline-once pattern) and apply
    * the identical row-local decision at ingest.
    */
  def temperatureRates(
      docs: DataFrame,
      groupCol: Column,
      budgetNum: Long,
      budgetDen: Long): DataFrame = {
    // corpus totals ride ON the group-count rows via an unpartitioned
    // window over the groups-sized frame (r16, guide §2.4 — the
    // standalone counts.agg totals frame re-instantiated the corpus
    // scan+agg subtree a second time and re-attached through a
    // BroadcastNestedLoopJoin); exact longs, identical quotients
    val all = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val counts = docs.groupBy(groupCol.as("grp"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("weight", isqrt(col("cnt")))
      .withColumn("total_docs", sum(col("cnt")).over(all))
      .withColumn("total_w", sum(col("weight")).over(all))
    // `div` (not `/`): Spark's / on longs goes through DOUBLE, whose
    // rounding can land a quotient one above the true integer floor;
    // every operand here is non-negative so div (truncating) and the
    // oracle's // (flooring) agree exactly
    counts
      .withColumn("budget",
        expr(s"(total_docs * ${budgetNum}L) div ${budgetDen}L"))
      .withColumn("target", expr("(budget * weight) div total_w"))
      .withColumn("rate_ppm",
        least(lit(1000000L), expr("(target * 1000000L) div cnt")))
      .select(col("grp"), col("rate_ppm"))
  }

  def temperatureSample(
      docs: DataFrame,
      idCol: Column,
      groupCol: Column,
      budgetNum: Long,
      budgetDen: Long,
      salt: String = "temp"): DataFrame =
    applyTemperatureRates(docs, idCol, groupCol,
      temperatureRates(docs, groupCol, budgetNum, budgetDen), salt)

  /** The row-local half: attach the broadcast rate table and keep
    * docs whose hash bucket clears their group's threshold. Stateless
    * and deterministic, so batch and ingest-time twins make identical
    * decisions.
    */
  def applyTemperatureRates(
      docs: DataFrame,
      idCol: Column,
      groupCol: Column,
      rates: DataFrame,
      salt: String = "temp"): DataFrame = {
    val bucket = Fnv64.unsignedMod(
      Fnv64(concat(lit(salt + "|"), idCol.cast("string"))), 1000000L)
    docs.withColumn("bucket", bucket)
      .join(broadcast(rates), groupCol === col("grp"))
      .filter(col("bucket") < col("rate_ppm"))
      .drop("grp")
  }

  /** Deterministic shard assignment + per-shard budget stats — the
    * "write the corpus as N balanced shards" step before training.
    * shard = fnv64(salt|id) mod nShards; the report aggregates doc /
    * token / char budgets per shard so a pipeline can verify balance
    * before paying for the write.
    *
    * One shuffle keyed on the (uniform, high-entropy) shard id; the
    * heavy token counting is map-side column arithmetic and the agg
    * is partial (map-side combine), so at 100 TB the exchanged bytes
    * are O(nShards × partitions), not O(rows).
    */
  def shardStats(
      docs: DataFrame,
      idCol: Column,
      textCol: Column,
      nShards: Int,
      salt: String = "shard"): DataFrame =
    shardStatsPre(docs, idCol,
      bpeishTokenCount(textCol).cast("long"),
      length(textCol).cast("long"), nShards, salt)

  /** [[shardStats]] over PRE-COMPUTED token/char counts — for
    * pipelines (pipe1) that push the row-local counting below an
    * earlier exchange so document text never rides a shuffle.
    */
  def shardStatsPre(
      docs: DataFrame,
      idCol: Column,
      toksCol: Column,
      charsCol: Column,
      nShards: Int,
      salt: String = "shard"): DataFrame = {
    val shard = Fnv64.unsignedMod(
      Fnv64(concat(lit(salt + "|"), idCol.cast("string"))), nShards.toLong)
    docs.select(
      shard.as("shard"),
      idCol.as("id"),
      toksCol.as("toks"),
      charsCol.as("chars"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("total_tokens"),
        sum(col("chars")).as("total_chars"),
        min(col("id")).as("min_id"),
        max(col("id")).as("max_id"))
  }

  /** Greedy (next-fit) sequence packing: concatenate documents into
    * fixed-token-budget training sequences. Docs are hashed onto
    * shards (deterministic FNV — reruns pack identically), consumed
    * in doc-id order within the shard, and greedily placed: a doc
    * that would overflow the budget closes the bin and opens the
    * next. Output one row per doc: (shard, doc_id, bin, bin_used)
    * where bin is the sequence number within the shard.
    *
    * Scale shape: the fold is sequential per shard BY DEFINITION
    * (every placement depends on the running fill), so parallelism
    * comes from the shard count — pick S ~ corpus-size/target-group
    * and each group holds n/S docs. One shuffle (onto shard), one
    * native O(n/S) pass per group ([[graft.functions.PackGreedy]]),
    * no pair enumeration, no driver work.
    */
  def packSequences(
      docs: DataFrame,
      idCol: Column,
      textCol: Column,
      nShards: Int,
      budgetTokens: Long,
      salt: String = "shard"): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val shard = Fnv64.unsignedMod(
      Fnv64(concat(lit(salt + "|"), idCol.cast("string"))), nShards.toLong)
    val sorted = sort_array(collect_list(struct(
      idCol.as("doc_id"),
      bpeishTokenCount(textCol).cast("long").as("tok"))))
    docs
      .groupBy(shard.as("shard"))
      .agg(ColumnBridge.column(graft.functions.PackGreedy(
        ColumnBridge.expression(sorted), budgetTokens)).as("packed"))
      .select(col("shard"), explode(col("packed")).as("p"))
      .select(
        col("shard"),
        col("p.doc_id").as("doc_id"),
        col("p.bin").as("bin"),
        col("p.bin_used").as("bin_used"))
  }

  /** BM25 relevance scoring of every document against a fixed query
    * term set (Lucene's always-positive idf form:
    * ln(1 + (N-df+0.5)/(df+0.5))). Returns matching docs with their
    * score and hit count.
    *
    * Plan shape — built for the 100 TB corpus, not the 500-doc test:
    * per-doc term frequencies are row-local HOF counts over the
    * normalized word array (NO explode of the full token stream and
    * NO shuffle keyed on tokens — the query term set is bounded, so
    * tf_i = size(filter(w, _ = term_i)) stays inside codegen); the
    * corpus statistics (N, Σdl, df per term) reduce to ONE row via a
    * partial aggregate, which then broadcasts back onto the map-side
    * scoring pass. Two scans of the corpus, zero wide exchanges.
    * Integer stats stay exact end-to-end; the one double expression
    * (idf × tf-saturation) is rounded to 6 decimals to absorb
    * cross-libm ln() variance (the f4_hawkes precedent).
    */
  /** (doc_id, dl, tf struct) — the shared per-doc front of BM25. */
  private def bm25Base(docs: DataFrame, idCol: Column, textCol: Column,
      terms: Seq[String]): DataFrame = {
    val w = words(textCol)
    docs.select(
      idCol.as("doc_id"),
      size(w).cast("long").as("dl"),
      struct(terms.zipWithIndex.map { case (t, i) =>
        size(filter(w, x => x === lit(t))).cast("long").as(s"tf$i")
      }: _*).as("tf"))
  }

  /** The score projection, parameterized over WHERE the corpus stats
    * come from (columns of a broadcast stats row, or literals from a
    * pre-fit) — one builder, so the batch path and the streaming twin
    * produce structurally identical double expressions and the shared
    * oracle holds bit for bit.
    */
  private def bm25Project(joined: DataFrame, terms: Seq[String],
      k1: Double, b: Double, nDocs: Column, sumDl: Column,
      dfs: Seq[Column]): DataFrame = {
    val avgdl = sumDl.cast("double") / nDocs.cast("double")
    val score = terms.indices.map { i =>
      val tf = col(s"tf.tf$i").cast("double")
      val df = dfs(i).cast("double")
      val idf = log(lit(1.0) +
        (nDocs.cast("double") - df + lit(0.5)) / (df + lit(0.5)))
      idf * tf * lit(k1 + 1.0) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl))
    }.reduce(_ + _)
    val hits = terms.indices.map(i =>
      when(col(s"tf.tf$i") > 0, 1L).otherwise(0L)).reduce(_ + _)
    joined
      .where(hits > 0)
      .select(
        col("doc_id"),
        round(score, 6).as("bm25"),
        hits.as("n_hits"))
  }

  def bm25(
      docs: DataFrame,
      idCol: Column,
      textCol: Column,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val base = bm25Base(docs, idCol, textCol, terms)
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"),
      struct(terms.indices.map { i =>
        sum(when(col(s"tf.tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")
      }: _*).as("df"))
    // one-row stats side: broadcast cross-join back onto the scan
    bm25Project(base.crossJoin(broadcast(stats)), terms, k1, b,
      col("n_docs"), col("sum_dl"),
      terms.indices.map(i => col(s"df.df$i")))
  }

  /** Corpus stats for the streaming twin's pre-fit model:
    * (n_docs, sum_dl, df per term). Bounded driver work — one
    * aggregate row, the DSIR-fit precedent.
    */
  def bm25Fit(docs: DataFrame, textCol: Column,
      terms: Seq[String]): (Long, Long, Seq[Long]) = {
    val base = bm25Base(docs, lit(0L), textCol, terms)
    val r = base.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"),
      struct(terms.indices.map { i =>
        sum(when(col(s"tf.tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")
      }: _*).as("df")).collect().head
    (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_dl"),
      terms.indices.map(i => r.getStruct(2).getLong(i)))
  }

  /** Score docs against pre-fit stats ROW-LOCALLY (the streaming
    * shape: no join at all, the stats are literals). Identical score
    * expressions to [[bm25]] via the shared builder — bit-identical
    * results over the same corpus.
    */
  def bm25Prefit(
      docs: DataFrame,
      idCol: Column,
      textCol: Column,
      terms: Seq[String],
      fit: (Long, Long, Seq[Long]),
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    bm25Project(bm25Base(docs, idCol, textCol, terms), terms, k1, b,
      lit(fit._1), lit(fit._2), fit._3.map(lit(_)))

  /** DSIR-style importance weighting (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"):
    * score every document by how target-domain-like its hashed
    * n-gram distribution is — the log-likelihood ratio
    * Σ_g log(p_target(bucket(g)) / p_raw(bucket(g))) over the doc's
    * word uni+bigrams, FNV-hashed into a fixed bucket vocabulary
    * (hashing bounds the model at `buckets` cells regardless of
    * corpus vocabulary — the property that makes DSIR viable at
    * 100 TB).
    *
    * Plan shape: one exploded-gram pass builds the bucket counts
    * (ONE shuffle on ≤`buckets` keys, map-side partial agg does the
    * heavy lifting); totals reduce to one row and the `buckets`-row
    * log-ratio table broadcasts back onto a second exploded-gram
    * pass, whose only wide exchange is the per-doc rollup on doc_id.
    * Nothing ever shuffles on raw gram strings. At scale the
    * exploded projection would be persisted once for both passes
    * (the t9 two-scan note); the plan shape is unchanged.
    *
    * Hash-gate arithmetic: counts and totals are exact integers on
    * both engines; the ONE libm call (ln of an integer ratio) is
    * rounded to 9 decimals and summed as DECIMAL — exact and
    * order-independent — so the gate inherits only f4's accepted
    * last-ulp ln() risk, never float-summation order.
    */
  /** (doc_id, is_tgt, bucket) exploded gram-bucket rows — the shared
    * front half of the DSIR fit.
    */
  private def dsirBuckets(
      docs: DataFrame, textCol: Column, idCol: Column, isTarget: Column,
      buckets: Int): DataFrame = {
    // deliberately NOT fanned out (unlike lmScore): the per-gram work
    // here is one codegen'd FNV hash + mod — measured A/B, the
    // repartition costs more than the serial explode saves (t13 1.01
    // vs 1.18 s, t21 0.91 vs 1.41 s), while lmScore's two
    // broadcast-join probes per gram go the other way (t17 0.70 vs
    // 2.01 s with fan-out)
    val base = docs.select(
      idCol.as("doc_id"), isTarget.as("is_tgt"), words(textCol).as("w"))
      .select(col("doc_id"), col("is_tgt"), col("w"),
        size(col("w")).as("nw"))
    // uni+bigrams with multiplicity (zip_with, not index lambdas —
    // the repetitionStats 43x note)
    val grams = base.select(
      col("doc_id"), col("is_tgt"),
      explode(concat(col("w"),
        expr("filter(zip_with(w, slice(w, 2, greatest(nw - 1, 0)), " +
          "(a, b) -> concat(a, ' ', b)), x -> x IS NOT NULL)"))).as("gram"))
    import graft.functions.Fnv64
    grams.select(col("doc_id"), col("is_tgt"),
      Fnv64.unsignedMod(Fnv64(col("gram")), buckets.toLong).as("bucket"))
  }

  /** (bucket, raw_cnt, tgt_cnt) + (raw_total, tgt_total) from the
    * bucketed grams — the DSIR count model.
    */
  /** (bucket, raw_cnt, tgt_cnt, raw_total, tgt_total): the DSIR count
    * model with its corpus totals attached by an unpartitioned window
    * over the ≤`buckets`-row frame (r16, guide §2.4): the former
    * standalone `counts.agg(sum, sum)` totals frame re-instantiated
    * the whole corpus scan+explode subtree once more in every
    * consumer — a third full-corpus pass at scale — and re-attached
    * itself through a BroadcastNestedLoopJoin. Totals stay exact
    * longs, so the smoothed ratio doubles are bit-identical.
    */
  private def dsirCounts(bucketed: DataFrame): DataFrame = {
    val all = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    bucketed.groupBy("bucket").agg(
      count(lit(1)).as("raw_cnt"),
      sum(when(col("is_tgt"), 1L).otherwise(0L)).as("tgt_cnt"))
      .withColumn("raw_total", sum(col("raw_cnt")).over(all))
      .withColumn("tgt_total", sum(col("tgt_cnt")).over(all))
  }

  /** Per-bucket 9-dp log-likelihood ratios (the fitted model). */
  private def dsirLr(counts: DataFrame, buckets: Int): DataFrame =
    // add-one smoothing keeps empty buckets finite; expression order
    // mirrors the oracle exactly so the doubles are bit-identical
    counts.select(
      col("bucket"),
      round(log(
        ((col("tgt_cnt") + lit(1L)).cast("double") /
          (col("tgt_total") + lit(buckets.toLong)).cast("double")) /
          ((col("raw_cnt") + lit(1L)).cast("double") /
            (col("raw_total") + lit(buckets.toLong)).cast("double"))), 9)
        .cast("decimal(18,9)").as("lr"))

  def dsirWeights(
      docs: DataFrame,
      textCol: Column,
      idCol: Column,
      isTarget: Column,
      buckets: Int = 4096): DataFrame = {
    val bucketed = dsirBuckets(docs, textCol, idCol, isTarget, buckets)
    val lr = dsirLr(dsirCounts(bucketed), buckets)
    // total weight plus the length-normalized per-gram mean: raw here
    // CONTAINS the target set, so absolute weights skew negative
    // (smoothing flattens the tiny target distribution) — the
    // resampling step downstream thresholds/temperature-samples on
    // these scores, it does not read their sign
    bucketed.join(broadcast(lr), Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum(col("lr")).as("wsum"))
      .select(
        col("doc_id"),
        col("n_grams").cast("long").as("n_grams"),
        dsirWeight(col("wsum")),
        round(col("wsum").cast("double") / col("n_grams").cast("double"), 6)
          .as("avg_lr"))
  }

  /** `dsir_weight` from the exact decimal log-ratio sum: rounded to 6
    * places BEFORE the cast to double, so a sum exactly halfway
    * between two 6-dp values rounds HALF_UP in every engine (rounding
    * the nearest double instead depends on which side of the halfway
    * point that double falls, and engines disagree).
    */
  private[graft] def dsirWeight(wsum: Column): Column =
    round(wsum, 6).cast("double").as("dsir_weight")

  /** Fit the DSIR model on a STATIC corpus and return the per-bucket
    * log-ratios as SCALED LONGS (DECIMAL(18,9) unscaled values) for
    * the row-local streaming scorer. Buckets no gram ever hit carry
    * the smoothed "unseen" ratio ln((R+B)/(T+B)) — the same formula
    * the seen buckets use at count 0 — so a stream can score grams
    * the fit corpus never saw. Bounded driver work: the model is
    * ≤`buckets` rows (the point of hashed DSIR), the ANN-centroid
    * precedent for collecting a fitted model to ride as a codegen
    * reference object.
    */
  def dsirFit(
      docs: DataFrame,
      textCol: Column,
      isTarget: Column,
      buckets: Int = 4096): Array[Long] = {
    val bucketed = dsirBuckets(docs, textCol, lit(0L), isTarget, buckets)
    val counts = dsirCounts(bucketed)
    // r16: ONE action — totals ride on every model row (window
    // columns), so the former separate totals.collect() corpus pass
    // is gone; the fit is one job over ≤`buckets` result rows.
    // the same smoothed-ratio expression dsirLr emits, plus the
    // totals columns the unseen-bucket backfill needs
    val rows = counts
      .withColumn("lr", round(log(
        ((col("tgt_cnt") + lit(1L)).cast("double") /
          (col("tgt_total") + lit(buckets.toLong)).cast("double")) /
          ((col("raw_cnt") + lit(1L)).cast("double") /
            (col("raw_total") + lit(buckets.toLong)).cast("double"))), 9)
        .cast("decimal(18,9)"))
      .select(col("bucket"), col("lr"), col("raw_total"), col("tgt_total"))
      .collect()
    require(rows.nonEmpty, "dsirFit: empty corpus")
    val (rawTotal, tgtTotal) =
      (rows.head.getAs[Long]("raw_total"), rows.head.getAs[Long]("tgt_total"))
    // driver-side twin of dsirLr at count 0 (Math.log = Spark's log;
    // HALF_UP 9dp = Spark's round)
    val unseen = ((1.0 / (tgtTotal + buckets).toDouble) /
      (1.0 / (rawTotal + buckets).toDouble))
    val unseenScaled = java.math.BigDecimal.valueOf(math.log(unseen))
      .setScale(9, java.math.RoundingMode.HALF_UP).unscaledValue.longValueExact
    val arr = Array.fill(buckets)(unseenScaled)
    rows.foreach { r =>
      arr(r.getAs[Long]("bucket").toInt) =
        r.getAs[java.math.BigDecimal]("lr").unscaledValue.longValueExact
    }
    arr
  }

  /** Score documents against a fitted DSIR model ROW-LOCALLY (one
    * native tight-loop pass per doc, no explode, no shuffle, no
    * state) — the streaming twin's shape: importance scoring at
    * ingest. Long-sum arithmetic is exact, so results are
    * bit-identical to [[dsirWeights]] over the same corpus (the
    * batch path's decimal sum of the same 9-dp summands).
    */
  def dsirScoreLocal(
      docs: DataFrame,
      textCol: Column,
      idCol: Column,
      scaledLr: Array[Long]): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import graft.functions.DsirScore
    val sc = ColumnBridge.column(DsirScore(
      ColumnBridge.expression(words(textCol)), scaledLr))
    docs.select(idCol.as("doc_id"), sc.as("sc"))
      .select(col("doc_id"),
        element_at(col("sc"), 1).as("n_grams"),
        element_at(col("sc"), 2).as("scaled"))
      // batch emits only docs with >= 1 gram (inner join post-explode)
      .where(col("n_grams") > 0L)
      .select(col("doc_id"), col("n_grams"),
        // the scaled long IS the batch path's DECIMAL(.., 9) sum
        dsirWeight(col("scaled").cast("decimal(19,0)") *
          lit(new java.math.BigDecimal("1e-9"))),
        round(col("scaled").cast("double") / lit(1e9d) /
          col("n_grams").cast("double"), 6).as("avg_lr"))
  }

  /** Model-based quality classification — the fastText /
    * FineWeb-Edu shape (Joulin et al. 2017; Penedo et al. 2024): a
    * multinomial Naive Bayes text classifier FIT on a labeled seed
    * slice of the corpus (the human/LLM-annotated sample every modern
    * pipeline starts from), then applied corpus-wide to gate
    * documents on predicted quality. This is the trained-model
    * complement to the heuristic batteries (gopherFilter) and the
    * generative LM gates (lmFluency): it learns which TOKENS
    * separate curated from uncurated text instead of assuming a rule
    * set, exactly fastText's bag-of-(uni+bi)grams with the hashing
    * trick.
    *
    * Arithmetic is integer-exact end to end so the gate stays
    * hash-oracleable: each of the `buckets` hashed gram cells carries
    * its add-one-smoothed class log-likelihood ratio
    * ln(P(b|pos)/P(b|neg)) rounded to 9 decimals and SCALED to a long
    * (×1e9 — the dsirFit representation); a document's score is the
    * class prior's scaled log-ratio plus the long SUM of its grams'
    * cells. Long addition commutes, so batch, oracle, and the
    * row-local streaming twin agree bit for bit; the keep decision
    * and the FineWeb-Edu-style 0–4 `edu_score` tiers are integer
    * comparisons (per-gram-mean thresholds applied as products —
    * `llr ≥ t·n_grams` — so no division ever happens).
    *
    * Plan shape at 100 TB: the fit explodes only the LABELED SLICE
    * (seed samples are ~100k docs, not the corpus) and shuffles on
    * ≤`buckets` hashed keys with map-side partials; the model is a
    * `buckets`-row table (corpus-independent — the hashing trick's
    * point) broadcast back onto one exploded-gram scoring pass whose
    * only wide exchange is the per-doc rollup. Nothing shuffles gram
    * strings; nothing is quadratic.
    *
    * Reference anchor: varpulis ships `.score(model)` inference for
    * exactly this gate-at-ingest placement (varpulis-runtime/src/ml —
    * m2/m4/m5 cover the generic scorer); the NB fit makes the
    * classifier itself reproducible inside the engine.
    */
  def nbFit(
      docs: DataFrame,
      textCol: Column,
      labeledFilter: Column,
      isPositive: Column,
      buckets: Int = 4096): (DataFrame, DataFrame) = {
    val labeled = docs.where(labeledFilter)
    val bucketed = dsirBuckets(labeled, textCol, lit(0L), isPositive, buckets)
    // gram totals ride ON the count rows via an unpartitioned window
    // over the ≤`buckets`-row frame (r16, guide §2.4 — the standalone
    // counts.agg totals frame re-instantiated the labeled-slice
    // scan+explode subtree a second time and re-attached through a
    // BroadcastNestedLoopJoin); exact longs, unchanged doubles
    val all = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val counts = bucketed.groupBy("bucket").agg(
      sum(when(col("is_tgt"), 1L).otherwise(0L)).as("pos_cnt"),
      sum(when(col("is_tgt"), 0L).otherwise(1L)).as("neg_cnt"))
      .withColumn("pos_total", sum(col("pos_cnt")).over(all))
      .withColumn("neg_total", sum(col("neg_cnt")).over(all))
    // COMPLETE bucket table (unseen cells carry the smoothed
    // zero-count ratio): corpus grams the seed never saw must score,
    // unlike DSIR where fit and score ran over the same corpus. The
    // left-joined totals are null on unseen buckets — backfill them
    // from any seen row with one more unpartitioned-window max (the
    // frame is ≤`buckets` rows; totals are constants across rows).
    val full = docs.sparkSession.range(buckets).toDF("bucket")
      .join(counts, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("pos_cnt"), lit(0L)).as("pos_cnt"),
        coalesce(col("neg_cnt"), lit(0L)).as("neg_cnt"),
        col("pos_total"), col("neg_total"))
      .withColumn("pos_total", max(col("pos_total")).over(all))
      .withColumn("neg_total", max(col("neg_total")).over(all))
    val lr = full.select(
      col("bucket"),
      (round(log(
        ((col("pos_cnt") + lit(1L)).cast("double") /
          (col("pos_total") + lit(buckets.toLong)).cast("double")) /
          ((col("neg_cnt") + lit(1L)).cast("double") /
            (col("neg_total") + lit(buckets.toLong)).cast("double"))), 9)
        .cast("decimal(18,9)") * lit(1000000000L)).cast("long")
        .as("lr_scaled"))
    val prior = labeled.agg(
      sum(when(isPositive, 1L).otherwise(0L)).as("n_pos"),
      sum(when(isPositive, 0L).otherwise(1L)).as("n_neg"))
      .select((round(log(
        (col("n_pos") + lit(1L)).cast("double") /
          (col("n_neg") + lit(1L)).cast("double")), 9)
        .cast("decimal(18,9)") * lit(1000000000L)).cast("long")
        .as("prior_scaled"))
    (lr, prior)
  }

  /** Score every document against a fitted NB model (batch join
    * formulation): exploded uni+bigrams → broadcast model join →
    * per-doc long rollup. Emits docs with ≥1 gram (inner-join
    * semantics, the t13 contract). `edu_score` buckets the per-gram
    * mean LLR at {−0.6, 0, 0.4, 1.0} nats via exact products.
    */
  def nbScore(docs: DataFrame, textCol: Column, idCol: Column,
      lr: DataFrame, prior: DataFrame, buckets: Int = 4096): DataFrame = {
    val bucketed = dsirBuckets(docs, textCol, idCol, lit(false), buckets)
    bucketed.join(broadcast(lr), Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum(col("lr_scaled")).as("gsum"))
      .crossJoin(broadcast(prior))
      .select(col("doc_id"), col("n_grams"),
        (col("gsum") + col("prior_scaled")).as("llr_s"))
      .select(col("doc_id"), col("n_grams"),
        round(col("llr_s").cast("double") / lit(1e9d), 6).as("nb_llr"),
        when(col("llr_s") >= col("n_grams") * lit(1000000000L), 4)
          .when(col("llr_s") >= col("n_grams") * lit(400000000L), 3)
          .when(col("llr_s") >= lit(0L), 2)
          .when(col("llr_s") >= col("n_grams") * lit(-600000000L), 1)
          .otherwise(0).cast("int").as("edu_score"),
        (col("llr_s") > lit(0L)).as("keep"))
  }

  /** Fit the NB model and collect it driver-side for the ingest twin
    * (the s26/s30 train-offline-once pattern): the model is EXACTLY
    * `buckets` + 1 longs by construction — no cap guard needed, the
    * hashing trick bounds it regardless of corpus size.
    */
  def nbFitLocal(docs: DataFrame, textCol: Column, labeledFilter: Column,
      isPositive: Column, buckets: Int = 4096): (Array[Long], Long) = {
    val (lr, prior) = nbFit(docs, textCol, labeledFilter, isPositive, buckets)
    val arr = new Array[Long](buckets)
    lr.collect().foreach { r => arr(r.getLong(0).toInt) = r.getLong(1) }
    (arr, prior.collect()(0).getLong(0))
  }

  /** Row-local NB scoring against a pre-fit model — the same native
    * uni+bigram bucket walk DSIR's twin uses ([[graft.functions
    * .DsirScore]] — the scorer is model-agnostic: Σ cell[bucket(g)]
    * over scaled longs), plus the prior as a literal. Bit-identical
    * to [[nbScore]]: both sum the identical scaled longs.
    */
  def nbScoreLocal(docs: DataFrame, textCol: Column, idCol: Column,
      scaledLr: Array[Long], priorScaled: Long): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import graft.functions.DsirScore
    val sc = ColumnBridge.column(DsirScore(
      ColumnBridge.expression(words(textCol)), scaledLr))
    docs.select(idCol.as("doc_id"), sc.as("sc"))
      .select(col("doc_id"),
        element_at(col("sc"), 1).as("n_grams"),
        (element_at(col("sc"), 2) + lit(priorScaled)).as("llr_s"))
      .where(col("n_grams") > 0L) // batch emits docs with >= 1 gram
      .select(col("doc_id"), col("n_grams"),
        round(col("llr_s").cast("double") / lit(1e9d), 6).as("nb_llr"),
        when(col("llr_s") >= col("n_grams") * lit(1000000000L), 4)
          .when(col("llr_s") >= col("n_grams") * lit(400000000L), 3)
          .when(col("llr_s") >= lit(0L), 2)
          .when(col("llr_s") >= col("n_grams") * lit(-600000000L), 1)
          .otherwise(0).cast("int").as("edu_score"),
        (col("llr_s") > lit(0L)).as("keep"))
  }

  /** Distributed BPE tokenizer training (Sennrich et al. 2016): learn
    * the top-`nMerges` byte-pair merges of the corpus — the
    * tokenizer-induction step of a pretraining pipeline, expressed as
    * the classic map-reduce BPE:
    *
    *  - train on the WORD-FREQUENCY table, not the raw corpus (the
    *    standard trick): one corpus scan builds (word, freq); every
    *    later round's exchange is vocab-sized, independent of corpus
    *    size — the property that makes BPE training viable at 100 TB;
    *  - each round: adjacent-pair counts weighted by word freq (one
    *    shuffle on pair keys, map-side partials), the driver takes
    *    exactly ONE row (the argmax pair, ties broken
    *    lexicographically for determinism), and the merge applies as
    *    a row-local native array-walk (functions/BpeMerge.scala)
    *    merging EXACT adjacent (a,b) symbol pairs left-to-right
    *    non-overlapping = greedy BPE semantics. (An earlier
    *    separator-join + literal-replace formulation could match
    *    INSIDE multi-char symbols - rule (h,e) collapsing [th,e]
    *    into [the] - which the whole-symbol walk rules out);
    *  - the evolving vocab is persisted per round and the previous
    *    round unpersisted — the lineage stays one round deep.
    *
    * Returns the merge table (rank, left, right, merged, pair_count).
    * Since r9 it carries a full DuckDB hash oracle (deterministic
    * unrolled-CTE re-derivation, see queries/TextQueries BpeOracle);
    * first-merges and determinism stay spec-pinned on crafted corpora.
    */
  def bpeTrain(
      docs: DataFrame,
      textCol: Column,
      nMerges: Int,
      maxLocalVocab: Int = 2000000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val vocabDf = docs.select(explode(words(textCol)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(expr("filter(split(word, ''), x -> x != '')").as("syms"),
        col("freq"))
    // r16: the merge loop is sequential BY DEFINITION (each round
    // depends on the previous pick), so its floor is nMerges driver
    // round-trips of job scheduling — ~80% of t14's wall on a cached
    // vocab. The vocab itself is corpus-INDEPENDENT-bounded (word
    // forms, not occurrences), so below a loud cap the rounds run
    // driver-side on the collected (syms, freq) table — the d5
    // union-find / lmFitLocal size-gated pattern — reusing the SAME
    // BpeMergeUtil.merge and UTF8String binary ordering the
    // distributed loop applies, so every pick and tie-break is
    // bit-identical (BpeOracle-gated, plus a TextSpec pin that runs
    // BOTH paths and requires equal merge tables). Past the cap the
    // distributed loop below stays the 100 TB path.
    var vocab = vocabDf.persist()
    // The base word-freq aggregation is CORPUS-sized — materialize it
    // into the cache at the session's full parallelism before pinning
    // the round loop's tiny-exchange confs below. The count doubles
    // as the driver-path size gate.
    val vocabRows = vocab.count()
    if (vocabRows <= maxLocalVocab) {
      import org.apache.spark.unsafe.types.UTF8String
      val local = vocab.collect().map { r =>
        (r.getSeq[String](0).map(UTF8String.fromString).toArray,
          r.getLong(1))
      }
      vocab.unpersist()
      val merges = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String, String, String, Long)]
      var cur: Array[(Array[UTF8String], Long)] = local
      var r = 1
      var done = false
      while (r <= nMerges && !done) {
        // pair counts over ALL adjacent (overlapping) pairs weighted
        // by word freq — the zip_with explode's exact semantics
        val cnt = new java.util.HashMap[(UTF8String, UTF8String),
          java.lang.Long]()
        cur.foreach { case (syms, freq) =>
          var i = 0
          while (i + 1 < syms.length) {
            cnt.merge((syms(i), syms(i + 1)), freq, (x, y) => x + y)
            i += 1
          }
        }
        // max by (cnt DESC, a ASC, b ASC); UTF8String.compareTo is
        // the same binary order Spark's orderBy applied
        var best: ((UTF8String, UTF8String), Long) = null
        cnt.forEach { (k, v) =>
          if (best == null || v > best._2 ||
            (v == best._2 && {
              val c = k._1.compareTo(best._1._1)
              c < 0 || (c == 0 && k._2.compareTo(best._1._2) < 0)
            })) best = (k, v.longValue())
        }
        if (best == null || best._2 < 2) done = true
        else {
          val (a, b) = best._1
          merges += ((r.toLong, a.toString, b.toString,
            a.toString + b.toString, best._2))
          cur = cur.map { case (syms, freq) =>
            val merged = graft.functions.BpeMergeUtil.merge(
              new org.apache.spark.sql.catalyst.util.GenericArrayData(
                syms.asInstanceOf[Array[Any]]), a, b)
            (Array.tabulate(merged.numElements())(merged.getUTF8String),
              freq)
          }
          r += 1
        }
      }
      return merges.toSeq.toDF("rank", "left", "right", "merged", "pair_count")
    }
    // Every exchange inside the round loop is VOCAB-sized (tens of
    // thousands of rows): 32 reduce partitions are pure task-schedule
    // overhead, and AQE's stage-materialization barrier turns each
    // round's one aggregation into extra jobs — together they WERE the
    // "inherent per-merge floor" (12 rounds ran ~2.8 s at sf0.1 on
    // cached ~50k-row vocab). Pin both for the loop and restore after;
    // like runToTable's capped stream partitioning, the brief
    // session-conf mutation assumes the harness's one-query-at-a-time
    // contract.
    val pinned = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "8")
    val saved = pinned.map { case (k, _) => k -> spark.conf.get(k) }
    pinned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    // Each round's pair-count collect is the FIRST action over the
    // current vocab, so it materializes this round's persist; the
    // PREVIOUS round's cache is released only after that — one round
    // of cache overlap instead of a dedicated count() job per round
    // (13 fewer jobs; measured 7.7s → 6.7s for 12 merges at sf0.1 —
    // the remainder is the inherent per-merge job-scheduling floor).
    var prev: Option[DataFrame] = None
    var r = 1
    var done = false
    while (r <= nMerges && !done) {
      val top = vocab
        .select(col("freq"), explode(expr(
          "filter(zip_with(syms, slice(syms, 2, greatest(size(syms) - 1, 0)), " +
            "(a, b) -> struct(a, b)), x -> x.b IS NOT NULL)")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      prev.foreach(_.unpersist())
      prev = None
      if (top.isEmpty || top.head.getAs[Long]("cnt") < 2) done = true
      else {
        val (a, b, cnt) = (top.head.getAs[String]("a"),
          top.head.getAs[String]("b"), top.head.getAs[Long]("cnt"))
        merges += ((r.toLong, a, b, a + b, cnt))
        val next = vocab.select(
          ColumnBridge.column(graft.functions.BpeMerge(
            ColumnBridge.expression(col("syms")), a, b)).as("syms"),
          col("freq")).persist()
        prev = Some(vocab)
        vocab = next
        r += 1
      }
    }
    vocab.unpersist()
    prev.foreach(_.unpersist())
    merges.toSeq.toDF("rank", "left", "right", "merged", "pair_count")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** [[bpeTrain]]'s merge table collected to the driver-side
    * (left, right) rank-ordered Seq that [[bpeEncode]] and the s34
    * ingest twin consume — ONE definition so the spec-pinned
    * stream≡batch identity cannot drift on a schema change.
    */
  def trainedMerges(docs: DataFrame, textCol: Column,
      nMerges: Int): Seq[(String, String)] =
    bpeTrain(docs, textCol, nMerges)
      .orderBy("rank").collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq

  private val mergesCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Seq[(String, String)]]()

  /** [[trainedMerges]] memoized per (corpus dir, nMerges) — the
    * reference trains a tokenizer ONCE offline and ships the table;
    * re-fitting 8 merge rounds inside every encode query (t15 batch,
    * s34 ingest, each bench/verify run) would bill the trainer's
    * sequential-round floor to queries that only APPLY it. Training
    * is deterministic given the corpus, so the memo cannot change any
    * result — only where the fit cost lands (on t14, the training
    * query itself, which never uses the cache).
    */
  def trainedMergesCached(docs: DataFrame, textCol: Column,
      nMerges: Int, cacheKey: String): Seq[(String, String)] =
    // the text column rides in the key so a different column under
    // the same corpus dir can never serve another column's merges;
    // the remaining assumption — the data under cacheKey is immutable
    // for the session — is the same one Spark's own file-listing
    // caches make
    mergesCache.computeIfAbsent((s"$cacheKey|$textCol", nMerges),
      _ => trainedMerges(docs, textCol, nMerges))

  /** BPE tokenizer APPLICATION (the second half of [[bpeTrain]]):
    * encode each document into subword tokens under a trained merge
    * table, via the native row-local [[graft.functions.BpeEncode]]
    * walk (lowest-rank-first per word, each merge applied with the
    * SAME whole-symbol greedy L-to-R semantics training uses — so a
    * word that appeared in training encodes to exactly the symbol
    * sequence training left it with). The merge table rides as a
    * codegen reference object (vocab-sized, the DSIR/BM25 "model as
    * literal" pattern); the whole operator is a zero-shuffle map
    * stage — the shape tokenizing 100 TB must have.
    *
    * Returns one row per doc: n_words, n_tokens, n_chars and the
    * token array (the actual product of tokenization).
    */
  def bpeEncode(
      docs: DataFrame,
      textCol: Column,
      merges: Seq[(String, String)],
      idCol: Column = col("doc_id"),
      passthrough: Seq[(String, Column)] = Nil): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val toks = ColumnBridge.column(graft.functions.BpeEncode(
      ColumnBridge.expression(words(textCol)), merges))
    val pass = passthrough.map { case (n, c) => c.as(n) }
    val passNames = passthrough.map { case (n, _) => col(n) }
    docs.select(Seq(
      idCol.as("doc_id"),
      size(words(textCol)).cast("long").as("n_words"),
      toks.as("tokens")) ++ pass: _*)
      .select(Seq(col("doc_id"), col("n_words"),
        size(col("tokens")).cast("long").as("n_tokens"),
        // total encoded chars = length of the token concatenation
        // (codegen'd; encoding is lossless so this equals the summed
        // word lengths — spec-pinned)
        length(array_join(col("tokens"), "")).cast("long").as("n_chars"),
        col("tokens")) ++ passNames: _*)
  }

  /** #45r tokenizer fertility by language — the tokenizer-quality
    * report a trainer reads before committing a vocab: per language,
    * corpus totals and the two standard ratios — fertility
    * (tokens per word: how many pieces the tokenizer shatters a word
    * into) and chars-per-token (compression). Ratios are integer-
    * scaled (×1e6, floor division) so the oracle comparison is
    * hash-exact; a language with zero tokens/words reports null
    * rather than tripping a division. One row-local encode pass
    * (native [[graft.functions.BpeEncode]] over the broadcast merge
    * list) + one map-side-combined aggregation on lang — no joins,
    * the shape a 100 TB tokenizer report must have.
    */
  def tokenizerFertility(docs: DataFrame, textCol: Column,
      merges: Seq[(String, String)], langCol: Column): DataFrame =
    fertilityAgg(bpeEncode(docs, textCol, merges,
      passthrough = Seq("lang" -> langCol)))

  /** The aggregation half of [[tokenizerFertility]] — shared verbatim
    * by the streaming twin (complete-mode groupBy over the same
    * row-local encode).
    */
  def fertilityAgg(enc: DataFrame): DataFrame = {
    // ratio arithmetic runs in DECIMAL(38,0), not LongType: the
    // oracle's DuckDB side sums BIGINT into HUGEINT, so a Long
    // `sum * 1000000` here would silently wrap past ~9e12 total
    // chars (~9 TB in one language — well inside this operator's
    // advertised scale) and hash-diverge exactly when the report
    // matters. The division is `div` (IntegralDivide — EXACT
    // truncation, == floor on these non-negative sums), NOT
    // `floor(a / b)`: Spark rounds a decimal fractional division
    // HALF_UP to the result scale BEFORE floor sees it, so a
    // quotient within 5e-7 below an integer would floor to the NEXT
    // integer and diverge from DuckDB's exact `//`.
    def q6(num: String, den: String) =
      expr(s"CASE WHEN sum($den) = 0 THEN NULL ELSE CAST(" +
        s"CAST(sum($num) AS DECIMAL(38,0)) * 1000000 div sum($den)" +
        s" AS BIGINT) END")
    enc.groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_words")).as("total_words"),
      sum(col("n_tokens")).as("total_tokens"),
      sum(col("n_chars")).as("total_chars"),
      q6("n_tokens", "n_words").as("fertility_q6"),
      q6("n_chars", "n_tokens").as("chars_per_token_q6"))
  }

  /** Gopher/C4-style heuristic filter battery (Rae et al. 2021 §A1.1;
    * Raffel et al. 2020 C4 rules): every rule a pure column
    * expression over one scan — zero shuffle, fully codegen'd, the
    * shape a 100 TB quality gate must have (row-local decisions,
    * trivially partition-parallel). Emits the per-rule booleans, not
    * just the verdict, so downstream mixture tuning can re-weight
    * individual rules without recomputing the scan.
    *
    * Reference anchor: the reference's quality filters are VPL
    * `.where` chains (docs/language/operators.md); this is the same
    * declarative form with the published pretraining rule set.
    */
  /** Bigram-LM fluency scoring — the CCNet / Wenzek et al. 2020
    * perplexity-filter shape: train a language model on a REFERENCE
    * slice of the corpus (CCNet uses Wikipedia; here the caller's
    * `trainFilter`, e.g. the English slice), score every document by
    * how predictable its word sequence is under that model, and keep
    * the fluent ones. Degenerate/boilerplate text scores low because
    * its bigrams never appear in the reference slice.
    *
    * The model is a stupid-backoff bigram LM (Brants et al. 2007)
    * kept in EXACT integer arithmetic so the gate stays hash-exact:
    * p(w2|w1) ≈ cnt(w1,w2)/cnt(w1) when the bigram was seen in the
    * reference, else 0.4·cnt(w2)/T (the backoff, 0.4 = 2/5 exact).
    * Each probability is Q14 fixed-point ((x·16384) div y — at Q14 a
    * bigram would need >2^49 ≈ 5.6e14 reference occurrences to
    * overflow a long, beyond any real corpus), and the per-doc score
    * is the MEAN scaled probability, not the log: a per-doc Σln(p)
    * would be a float aggregate whose addend order Spark does not
    * pin, while integer sums commute exactly. Ranking power for a
    * keep/drop filter is equivalent; the threshold is an integer
    * comparison.
    *
    * Plan shape at 100 TB: two aggregation shuffles build the model
    * tables (unigrams, bigrams — vocabulary-sized, from the
    * reference slice only); scoring re-joins the exploded bigram
    * stream to them twice (AQE broadcasts while the model fits,
    * shuffle-joins beyond) and rolls up per doc with map-side
    * partial aggregation. No per-doc quadratic work, no driver
    * state; the model tables are the only small data.
    */
  /** Fit the stupid-backoff bigram model. Returns (bi, uniT):
    * bi = (w1, w2, cnt2, cnt1w1) seen-bigram counts;
    * uniT = (tok, cnt, total, backoff_q) unigram counts carrying the
    * train-slice token total AND the precomputed Q14 backoff value
    * (32768·cnt div 5·total — exact integer, identical to what the
    * old per-row expression computed from a separate totals frame).
    *
    * r16 restructure (guide §2.4/§3): `total` rides INSIDE uniT via
    * one unpartitioned window over the vocab-sized frame, instead of
    * a standalone `uni.agg(sum)` — that separate frame (a) re-planned
    * the whole train-slice scan+explode subtree a third time in every
    * consumer, i.e. one more full reference-corpus pass at scale, and
    * (b) attached itself to the CORPUS gram stream through a
    * BroadcastNestedLoopJoin. Both are gone: scoring now joins the
    * corpus stream to exactly two vocab-sized broadcast sides.
    */
  def lmFit(docs: DataFrame, textCol: Column, trainFilter: Column):
      (DataFrame, DataFrame) = {
    val train = docs.where(trainFilter).select(words(textCol).as("w"))
    val uni = train.select(explode(col("w")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val uniT = uni
      .withColumn("total", sum(col("cnt"))
        .over(org.apache.spark.sql.expressions.Window
          .rowsBetween(Long.MinValue, Long.MaxValue)).cast("long"))
      // div (not /): long / goes through DOUBLE — see temperatureRates
      .withColumn("backoff_q", expr("(32768L * cnt) div (5L * total)"))
    val bi = train.select(explode(bigramPairs(col("w"))).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cnt2"))
      .join(uni.withColumnRenamed("tok", "w1")
        .withColumnRenamed("cnt", "cnt1w1"), Seq("w1"))
    (bi, uniT)
  }

  /** (w1, w2) pairs of adjacent words, order-preserving. */
  private def bigramPairs(w: Column): Column =
    transform(slice(w, lit(1), greatest(size(w) - 1, lit(0))),
      (x, i) => struct(x.as("w1"), element_at(w, i + lit(2)).as("w2")))

  def lmScore(docs: DataFrame, idCol: Column, textCol: Column,
      bi: DataFrame, uniT: DataFrame, keepQ14: Long): DataFrame = {
    // fan out the corpus side before the bigram explode: the per-row
    // gram work is the query's dominant stage and must not ride a
    // single input split (Tables.fanOut is a no-op at real split
    // counts — guide §2, scale-adaptive partitioning)
    val occ = graft.Tables.fanOut(docs, idCol)
      .select(idCol.as("doc_id"), explode(bigramPairs(words(textCol))).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))
    occ
      .join(bi, Seq("w1", "w2"), "left")
      .join(uniT.select(col("tok").as("w2"), col("backoff_q")),
        Seq("w2"), "left")
      // seen bigram: Q14 conditional probability; unseen: the
      // precomputed per-token backoff (0 when w2 itself is unseen —
      // exactly the old (32768·0) div (5·total) value)
      .withColumn("q", expr(
        """CASE WHEN cnt2 IS NOT NULL THEN (cnt2 * 16384L) div cnt1w1
          |     ELSE coalesce(backoff_q, 0L) END""".stripMargin))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("sum_q"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_q"),
        expr("sum_q div n_bigrams").as("fluency_q14"),
        (col("sum_q").cast("double") /
          (col("n_bigrams").cast("double") * lit(16384.0))).as("fluency"),
        (expr("sum_q div n_bigrams") >= keepQ14).as("keep"))
  }

  def lmFluency(docs: DataFrame, idCol: Column, textCol: Column,
      trainFilter: Column, keepQ14: Long): DataFrame = {
    val (bi, uniT) = lmFit(docs, textCol, trainFilter)
    lmScore(docs, idCol, textCol, bi, uniT, keepQ14)
  }

  /** CCNet-style per-language tertile THRESHOLDS from a scored frame
    * `(lang, fluency_q14, …)` — the two boundary scores that split
    * each language's corpus into head/middle/tail fluency tiers
    * (Wenzek et al. 2020 assign buckets by perplexity cutoffs, not by
    * ranking every document).
    *
    * Definitions (integer-exact so a SQL oracle replays them):
    * with n = docs in the language and cum(s) = docs scoring >= s,
    *   c1 = max score with cum(s) >= ceil(n/3)   (= (n+2) div 3)
    *   c2 = max score with cum(s) >= ceil(2n/3)  (= (2n+2) div 3)
    * Tie rule: a document AT a boundary score joins the more-fluent
    * bucket (score >= c1 → head, >= c2 → middle, else tail), so
    * boundary ties inflate head/middle rather than splitting
    * arbitrarily.
    *
    * Plan shape at 100 TB: the corpus reduces to a per-(lang, score)
    * HISTOGRAM first — map-side combined, and bounded by the Q14
    * value range (score is an integer mean of Q14 probabilities), so
    * its size is corpus-independent. The per-language cumulative walk
    * then runs over histogram rows only: no language ever sorts its
    * full document set in one task (the ntile-window formulation this
    * replaces capped parallelism at n_langs — English alone would be
    * half the corpus in a single partition).
    */
  def ccnetThresholds(scored: DataFrame,
      langCol: String = "lang", scoreCol: String = "fluency_q14"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = scored.groupBy(col(langCol), col(scoreCol))
      .agg(count(lit(1)).as("cnt"))
    val ord = Window.partitionBy(langCol).orderBy(col(scoreCol).desc)
    hist
      .withColumn("cum", sum(col("cnt")).over(ord))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(langCol)))
      .groupBy(col(langCol))
      .agg(
        max(when(col("cum") >= expr("(n + 2) div 3"), col(scoreCol)))
          .as("c1"),
        max(when(col("cum") >= expr("(2 * n + 2) div 3"), col(scoreCol)))
          .as("c2"))
  }

  /** Row-local CCNet tier assignment against pre-fit thresholds:
    * `(lang, c1, c2)` is a dozens-row table, broadcast back so bucket
    * assignment is a pure map stage over the scored corpus.
    */
  def ccnetAssign(scored: DataFrame, thresholds: DataFrame,
      langCol: String = "lang", scoreCol: String = "fluency_q14"): DataFrame =
    scored.join(broadcast(thresholds), langCol)
      .withColumn("bucket",
        when(col(scoreCol) >= col("c1"), "head")
          .when(col(scoreCol) >= col("c2"), "middle")
          .otherwise("tail"))
      .drop("c1", "c2")

  /** Driver-side LM fit for the ingest twin (the s26/s29
    * train-offline-once pattern): the reference-slice model collects
    * into hash maps, cap-guarded with a limit probe so an oversized
    * vocabulary fails LOUDLY instead of silently OOMing the driver
    * (beyond the cap the batch join formulation is the scale path).
    */
  def lmFitLocal(docs: DataFrame, textCol: Column, trainFilter: Column,
      maxVocab: Int = 2000000): (java.util.HashMap[String, Array[Long]],
      java.util.HashMap[String, java.lang.Long], Long) = {
    val (bi, uniT) = lmFit(docs, textCol, trainFilter)
    // r16: two actions, not four — the size probe IS the bounded
    // collect (limit(max+1) still fails loudly past the cap without
    // a separate count job), and the token total is the exact long
    // sum of the collected unigram counts (what the removed totals
    // frame aggregated distributively).
    val biRows = bi.limit(maxVocab + 1).collect()
    require(biRows.length <= maxVocab,
      s"lmFitLocal: bigram vocabulary exceeds $maxVocab — " +
        "use the batch join formulation (lmFluency) at this scale")
    val biMap = new java.util.HashMap[String, Array[Long]]()
    biRows.foreach { r =>
      biMap.put(r.getAs[String]("w1") + " " + r.getAs[String]("w2"),
        Array(r.getAs[Long]("cnt2"), r.getAs[Long]("cnt1w1")))
    }
    val uniMap = new java.util.HashMap[String, java.lang.Long]()
    var total = 0L
    uniT.select(col("tok"), col("cnt")).collect().foreach { r =>
      val cnt = r.getAs[Long]("cnt")
      uniMap.put(r.getAs[String]("tok"), Long.box(cnt))
      total += cnt
    }
    (biMap, uniMap, total)
  }

  /** Row-local scoring against a driver-fit model — zero joins, zero
    * shuffles, identical integer arithmetic to [[lmScore]]; the
    * projection mirrors the batch one exactly so the twin shares the
    * oracle.
    */
  def lmScoreLocal(docs: DataFrame, idCol: Column, textCol: Column,
      bi: java.util.HashMap[String, Array[Long]],
      uni: java.util.HashMap[String, java.lang.Long],
      total: Long, keepQ14: Long,
      passthrough: Seq[(String, Column)] = Nil): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import graft.functions.LmScore
    val sc = ColumnBridge.column(LmScore(
      ColumnBridge.expression(words(textCol)), bi, uni, total))
    val pt = passthrough.map { case (n, c) => c.as(n) }
    val ptNames = passthrough.map { case (n, _) => col(n) }
    docs.select(idCol.as("doc_id") +: sc.as("sc") +: pt: _*)
      .select(col("doc_id") +:
        element_at(col("sc"), 1).as("n_bigrams") +:
        element_at(col("sc"), 2).as("sum_q") +: ptNames: _*)
      .where(col("n_bigrams") > 0L) // batch emits docs with >= 2 words
      .select(col("doc_id") +: col("n_bigrams") +: col("sum_q") +:
        expr("sum_q div n_bigrams").as("fluency_q14") +:
        (col("sum_q").cast("double") /
          (col("n_bigrams").cast("double") * lit(16384.0))).as("fluency") +:
        (expr("sum_q div n_bigrams") >= keepQ14).as("keep") +: ptNames: _*)
  }

  /** Sliding-window document chunking — the RAG / context-window
    * preparation step: each document becomes overlapping
    * `chunkTokens`-word windows advancing by `stride` words, so
    * every token lands in at least one chunk and consecutive chunks
    * share `chunkTokens - stride` words of context. Window starts
    * run 1, 1+stride, … up to len - overlap (so the final, possibly
    * partial, window still reaches the document's end without
    * emitting a tail window fully contained in its predecessor).
    *
    * Purely row-local (explode of a per-row integer sequence + array
    * slices) — zero shuffles, zero state; at 100 TB it pipelines
    * inside whole-stage codegen on the scan.
    */
  def chunkDocs(docs: DataFrame, idCol: Column, textCol: Column,
      chunkTokens: Int = 64, stride: Int = 48): DataFrame = {
    require(stride >= 1 && chunkTokens >= stride,
      s"need 1 <= stride <= chunkTokens, got $stride/$chunkTokens")
    val overlap = chunkTokens - stride
    docs.select(idCol.as("doc_id"), words(textCol).as("w"))
      .where(size(col("w")) >= 1)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1),
          greatest(size(col("w")) - overlap, lit(1)),
          lit(stride))).as("start_tok"))
      .select(col("doc_id"),
        expr(s"CAST((start_tok - 1) div $stride AS BIGINT)").as("chunk_idx"),
        col("start_tok").cast("long").as("start_tok"),
        size(slice(col("w"), col("start_tok"), lit(chunkTokens)))
          .cast("long").as("n_tokens"),
        array_join(slice(col("w"), col("start_tok"), lit(chunkTokens)), " ")
          .as("chunk_text"))
  }

  def gopherFilter(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      minWords: Int = 20,
      maxWords: Int = 100000,
      passthrough: Seq[String] = Nil): DataFrame = {
    val t = col(textCol)
    val nWords = regexp_count(t, lit("\\S+")).cast("long")
    // denominators guard empty docs; counts are integers on both
    // engines so every ratio is one exact double division
    val denom = greatest(nWords, lit(1L)).cast("double")
    val wordChars = length(regexp_replace(t, "\\s", "")).cast("long")
    val meanWordLen = wordChars.cast("double") / denom
    val symbolHits = regexp_count(t, lit("[#{}<>@*\\\\]")).cast("long")
    val alphaWords = regexp_count(t, lit("\\S*[A-Za-z]\\S*")).cast("long")
    val ellipsisHits = regexp_count(t, lit("\\.\\.\\.")).cast("long")
    val stopHits = stopwordHits(t, "en").cast("long")
    val rWords = nWords.between(minWords, maxWords)
    val rMeanLen = meanWordLen.between(3.0, 10.0)
    val rSymbol = symbolHits.cast("double") / denom < 0.1
    val rAlpha = alphaWords.cast("double") / denom >= 0.8
    val rEllipsis = ellipsisHits.cast("double") / denom < 0.3
    val rStop = stopHits >= 2L
    val rBoiler = !lower(t).contains("lorem ipsum") && !t.contains("{")
    docs.select(
      col(idCol) +: passthrough.map(col) :+
        nWords.as("n_words") :+
        round(meanWordLen, 6).as("mean_word_len") :+
        round(symbolHits.cast("double") / denom, 6).as("symbol_ratio") :+
        round(alphaWords.cast("double") / denom, 6).as("alpha_ratio") :+
        stopHits.as("stop_hits") :+
        rWords.as("r_words") :+ rMeanLen.as("r_mean_len") :+
        rSymbol.as("r_symbol") :+ rAlpha.as("r_alpha") :+
        rEllipsis.as("r_ellipsis") :+ rStop.as("r_stop") :+
        rBoiler.as("r_boiler") :+
        (rWords && rMeanLen && rSymbol && rAlpha && rEllipsis && rStop &&
          rBoiler).as("keep"): _*)
  }
}
