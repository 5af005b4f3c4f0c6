package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.dedup.Dedup
import graft.functions.TextFunctions._
import graft.multimodal.Multimodal

/** Text-analysis + dedup + multimodal surface (SURVEY §2 #35–38,
  * #42–46) over the documents table.
  */
object TextQueries {

  /** DuckDB twin of TextFunctions.normalize (note the 'g' flags —
    * DuckDB's regexp_replace is first-match-only by default).
    */
  private val normSql =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  /** DuckDB twin of TextFunctions.words / shingles(k=3). */
  private val wordsSql =
    s"list_filter(string_split($normSql, ' '), x -> x != '')"
  private val shinglesSql = shinglesSqlK(3)

  /** DuckDB twin of TextFunctions.shingles(k) over word array `w`. */
  private def shinglesSqlK(k: Int) =
    s"""CASE WHEN len(w) >= $k
       | THEN list_distinct([array_to_string(w[i:i+${k - 1}], ' ') for i in generate_series(1, len(w) - ${k - 1})])
       | ELSE [array_to_string(w, ' ')] END""".stripMargin

  /** 2^64 — every 64-bit hash step below is taken mod this. */
  private val M64 = "18446744073709551616"

  /** DuckDB twin of SimHashUtil.fnv64 / MinHashUtil's base hash:
    * FNV-1a over the UTF-8 bytes of column `s`. Normalized tokens and
    * shingles are pure [a-z0-9 ] — ASCII — so `unicode(char)` IS the
    * byte and a per-character fold reproduces the byte fold exactly.
    * The seed rides as the prepended first element (DuckDB's
    * list_reduce has no init parameter); the 64×41-bit product fits
    * HUGEINT, wrapped mod 2^64 like the JVM's Long multiply.
    */
  /** public alias for oracle reuse (s18 shares t7's FNV derivation) */
  def fnvSqlPub(c: String): String = fnvSql(c)

  private def fnvSql(c: String) =
    s"""list_reduce(
       |    list_prepend(14695981039346656037::UBIGINT,
       |      list_transform(list_filter(string_split_regex($c, ''), x2 -> x2 != ''),
       |        x2 -> CAST(unicode(x2) AS UBIGINT))),
       |    (acc, x) -> CAST((CAST(xor(acc, x) AS HUGEINT) * 1099511628211::HUGEINT)
       |                     % $M64::HUGEINT AS UBIGINT))""".stripMargin

  /** DuckDB twin of the ENTIRE deterministic BPE procedure
    * ([[graft.text.TextAnalysis.bpeTrain]] /
    * [[graft.text.TextAnalysis.bpeEncode]]): n unrolled
    * pair-count → argmax → merge rounds as chained MATERIALIZED CTEs.
    *
    * The one non-obvious piece is applying a merge (a,b) to a symbol
    * list in pure SQL with the same greedy left-to-right
    * NON-OVERLAPPING whole-symbol semantics as the native
    * [[graft.functions.BpeMerge]] walk. Encoding the symbol list as a
    * string with DOUBLED chr(1) separators at every boundary
    * (`⟂⟂s1⟂⟂s2⟂⟂…`) makes one `replace(s, ⟂a⟂⟂b⟂, ⟂ab⟂)` exactly
    * that walk: the doubled boundary means each match consumes only
    * the INNER separator on each side, so back-to-back pairs still
    * match (replace scans L-to-R and resumes after the replacement,
    * never re-scanning the merged symbol — precisely the i+2 skip of
    * the greedy pass), while intra-symbol false matches (`th,e`
    * matching rule (h,e)) are impossible because a match needs a ⟂
    * on both flanks. chr(1)/chr(2) can never collide with symbol
    * text: normalized words are pure [a-z0-9].
    *
    * Encode extends the same trick to whole docs by joining words
    * with a chr(2) pseudo-symbol (`⟂⟂§⟂⟂`) that no rule can match
    * across — the SQL twin of per-word encoding.
    *
    * Cross-validated against an independent Python BPE: 12/12 merges
    * and the full encoded token stream agree at sf0.01.
    */
  private object BpeOracle {
    private val S = "chr(1)"
    private val Sep = s"($S||$S)"
    private val WordBound = s"($S||$S||chr(2)||$S||$S)"

    /** wf/v0 + n rounds of (pc_r, b_r, v_r). v_r applies round r's
      * winning pair to every vocab row; b_r is the argmax with
      * Spark's exact tie-break (cnt DESC, a, b — both binary
      * collation). coalesce(chr(3)) makes a no-winner round a no-op
      * instead of a NULL-poisoned replace.
      */
    private def trainCtes(n: Int): String = {
      val head =
        s"""wf AS MATERIALIZED (
           |  SELECT word, CAST(count(*) AS BIGINT) AS freq
           |  FROM (SELECT unnest($wordsSql) AS word FROM documents) GROUP BY word
           |), v0 AS MATERIALIZED (
           |  SELECT string_split(word, '') AS syms, freq FROM wf
           |)""".stripMargin
      val rounds = (1 to n).map { r =>
        val prev = s"v${r - 1}"
        val a = s"coalesce((SELECT a FROM b$r), chr(3))"
        val b = s"coalesce((SELECT b FROM b$r), chr(3))"
        s"""pc$r AS MATERIALIZED (
           |  SELECT p.a AS a, p.b AS b, CAST(sum(freq) AS BIGINT) AS cnt
           |  FROM (SELECT unnest(list_transform(list_zip(syms, syms[2:]),
           |                 z -> {'a': z[1], 'b': z[2]})) AS p, freq FROM $prev)
           |  WHERE p.b IS NOT NULL GROUP BY 1, 2
           |), b$r AS MATERIALIZED (
           |  SELECT a, b, cnt FROM pc$r WHERE cnt >= 2 ORDER BY cnt DESC, a, b LIMIT 1
           |), v$r AS MATERIALIZED (
           |  SELECT string_split(trim(replace(
           |      $Sep||array_to_string(syms, $Sep)||$Sep,
           |      ($S||$a||$Sep||$b||$S), ($S||$a||$b||$S)), $S), $Sep) AS syms, freq
           |  FROM $prev
           |)""".stripMargin
      }
      (head +: rounds).mkString(",\n")
    }

    def t14Sql(n: Int): String = {
      val union = (1 to n)
        .map(r => s"SELECT CAST($r AS BIGINT) AS rank, a, b, cnt FROM b$r")
        .mkString(" UNION ALL ")
      s"""WITH ${trainCtes(n)}
         |SELECT rank, a AS "left", b AS "right", a||b AS merged,
         |  cnt AS pair_count
         |FROM ($union)""".stripMargin
    }

    /** The per-doc encode chain shared by t15/t20: the n-round
      * merge-replace expression over pseudo-symbol-joined words, as
      * `WITH` CTEs `dw` (words + any carried columns) and `enc`
      * (token array + n_words + carried columns).
      */
    private def encCtes(n: Int, carry: String): String = {
      var s = s"$Sep||array_to_string(list_transform(w, " +
        s"x -> array_to_string(string_split(x, ''), $Sep)), $WordBound)||$Sep"
      for (r <- 1 to n) {
        val a = s"coalesce((SELECT a FROM b$r), chr(3))"
        val b = s"coalesce((SELECT b FROM b$r), chr(3))"
        s = s"replace($s,\n      ($S||$a||$Sep||$b||$S), ($S||$a||$b||$S))"
      }
      s"""${trainCtes(n)},
         |dw AS (SELECT $carry, $wordsSql AS w FROM documents),
         |enc AS (
         |  SELECT $carry, CAST(len(w) AS BIGINT) AS n_words,
         |    CASE WHEN len(w) = 0 THEN CAST([] AS VARCHAR[])
         |         ELSE list_filter(string_split(trim($s, $S), $Sep), t -> t != chr(2))
         |    END AS tokens
         |  FROM dw)""".stripMargin
    }

    def t15Sql(n: Int): String =
      s"""WITH ${encCtes(n, "doc_id")}
         |SELECT doc_id, n_words, CAST(len(tokens) AS BIGINT) AS n_tokens,
         |  CAST(length(array_to_string(tokens, '')) AS BIGINT) AS n_chars,
         |  array_to_string(tokens, ' ') AS tokens_joined
         |FROM enc""".stripMargin

    /** t20: per-language fertility report over t15's encode chain —
      * the per-doc enc CTE carries lang through, then aggregates.
      * Ratios integer-scaled (×1e6, floor //) with explicit
      * zero-denominator guards (DuckDB // by zero is an error, not
      * null); sums run in HUGEINT natively, matching Spark's
      * DECIMAL(38,0) path.
      */
    def t20Sql(n: Int): String =
      s"""WITH ${encCtes(n, "lang")},
         |m AS (SELECT lang, n_words,
         |    CAST(len(tokens) AS BIGINT) AS n_tokens,
         |    CAST(length(array_to_string(tokens, '')) AS BIGINT) AS n_chars
         |  FROM enc)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_words) AS BIGINT) AS total_words,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  CASE WHEN sum(n_words) = 0 THEN NULL
         |    ELSE CAST(sum(n_tokens) * 1000000 // sum(n_words) AS BIGINT)
         |  END AS fertility_q6,
         |  CASE WHEN sum(n_tokens) = 0 THEN NULL
         |    ELSE CAST(sum(n_chars) * 1000000 // sum(n_tokens) AS BIGINT)
         |  END AS chars_per_token_q6
         |FROM m GROUP BY lang""".stripMargin
  }

  /** t5's deterministic PII-bearing text synthesized from customer
    * columns (public: the streaming twin s28 builds the identical
    * input so both sit under one oracle).
    */
  def piiSynth: org.apache.spark.sql.Column = concat(
    col("c_name"), lit(" <"),
    lower(regexp_replace(col("c_name"), "#", ".")),
    lit("@example.com> from 10.0."),
    (col("c_custkey") % 256).cast("string"), lit("."),
    (col("c_custkey") % 100).cast("string"),
    lit(" tel +1 (555) 010-"),
    lpad((col("c_custkey") % 10000).cast("string"), 4, "0"))

  /** t10's recursive-CTE oracle, replaying every greedy packing
    * decision per shard in doc_id order. Public because the streaming
    * twin (s24) shares it verbatim — the stream must match batch row
    * for row.
    */
  val seqPackOracle: String =
    s"""WITH RECURSIVE d AS (
       |  SELECT CAST(${fnvSql("('shard|' || CAST(doc_id AS VARCHAR))")} % 64 AS BIGINT) AS shard,
       |    doc_id,
       |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS BIGINT) AS tok
       |  FROM documents),
       |r AS (
       |  SELECT shard, doc_id, tok,
       |         row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
       |  FROM d),
       |step AS (
       |  SELECT shard, 0 AS rn, CAST(0 AS BIGINT) AS bin,
       |         CAST(0 AS BIGINT) AS used, CAST(NULL AS BIGINT) AS doc_id
       |  FROM (SELECT DISTINCT shard FROM r)
       |  UNION ALL
       |  SELECT x.shard, x.rn,
       |    CASE WHEN s.used = 0 OR s.used + x.tok <= 256
       |         THEN s.bin ELSE s.bin + 1 END,
       |    CASE WHEN s.used = 0 OR s.used + x.tok <= 256
       |         THEN s.used + x.tok ELSE x.tok END,
       |    x.doc_id
       |  FROM step s JOIN r x ON x.shard = s.shard AND x.rn = s.rn + 1)
       |SELECT shard, doc_id, bin, used AS bin_used
       |FROM step WHERE rn > 0""".stripMargin

  /** The t17 bigram-LM CTE chain (train on lang=en, integer-exact
    * Q14 per-doc scores) — shared by t17_lm_fluency and
    * t19_ccnet_buckets so both oracles derive the SAME scores.
    */
  private lazy val lmFluencyCtes: String =
    s"""dw AS (SELECT doc_id, lang, $wordsSql AS w FROM documents),
         |tw AS (SELECT w FROM dw WHERE lang = 'en'),
         |uni AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT unnest(w) AS tok FROM tw) GROUP BY 1),
         |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM uni),
         |tocc AS (
         |  SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
         |  FROM tw WHERE len(w) >= 2),
         |bi AS (
         |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt2
         |  FROM (SELECT w[i] AS w1, w[i+1] AS w2 FROM tocc) GROUP BY 1, 2),
         |bi2 AS (
         |  SELECT bi.w1, bi.w2, bi.cnt2, uni.cnt AS cnt1w1
         |  FROM bi JOIN uni ON bi.w1 = uni.tok),
         |occ AS (
         |  SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
         |  FROM dw WHERE len(w) >= 2),
         |o2 AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2 FROM occ),
         |q AS (
         |  SELECT o2.doc_id,
         |    CASE WHEN bi2.cnt2 IS NOT NULL
         |         THEN (bi2.cnt2 * 16384) // bi2.cnt1w1
         |         ELSE (32768 * COALESCE(u2.cnt, 0)) // (5 * tt.total) END AS q
         |  FROM o2
         |  LEFT JOIN bi2 ON o2.w1 = bi2.w1 AND o2.w2 = bi2.w2
         |  LEFT JOIN uni u2 ON o2.w2 = u2.tok
         |  CROSS JOIN tt),
         |d AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |    CAST(sum(q) AS BIGINT) AS sum_q
         |  FROM q GROUP BY 1)"""
      .stripMargin

  val defs: Map[String, QueryDef] = Map(

    // --- #42 language ID (stopword/CJK heuristic, deterministic ties) ---
    "t1_langid" -> QueryDef.of(
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS zh,
        |    len(regexp_extract_all(lower(text), '\b(the|and|is|of|to|in|that|it|was|for)\b')) AS en,
        |    len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|zu|mit|auf)\b')) AS de,
        |    len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|un|une|que|pour|dans)\b')) AS fr,
        |    len(regexp_extract_all(lower(text), '\b(el|los|las|y|es|un|una|que|por|para)\b')) AS es
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN zh >= 5 THEN 'zh'
        |       WHEN en >= de AND en >= fr AND en >= es THEN 'en'
        |       WHEN de >= fr AND de >= es THEN 'de'
        |       WHEN fr >= es THEN 'fr'
        |       ELSE 'es' END AS pred_lang,
        |  (CASE WHEN zh >= 5 THEN 'zh'
        |       WHEN en >= de AND en >= fr AND en >= es THEN 'en'
        |       WHEN de >= fr AND de >= es THEN 'de'
        |       WHEN fr >= es THEN 'fr'
        |       ELSE 'es' END) = lang AS is_correct
        |FROM s""".stripMargin) {
      (s, dir) =>
        Tables(s, dir).documents
          .select(col("doc_id"), langId(col("text")).as("pred_lang"),
            (langId(col("text")) === col("lang")).as("is_correct"))
    },

    // --- #43 quality scoring (surface statistics) ---
    "t2_quality" -> QueryDef.of(
      """WITH s AS (
        |  SELECT doc_id, n_chars,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
        |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct,
        |    CAST(len(regexp_extract_all(lower(text), '\b(the|and|is|of|to|in|that|it|was|for)\b')) AS BIGINT) AS n_stop
        |  FROM documents)
        |SELECT doc_id, n_words,
        |  CAST(n_punct AS DOUBLE) / greatest(CAST(n_words AS DOUBLE), 1.0) AS punct_ratio,
        |  CAST(n_stop AS DOUBLE) / greatest(CAST(n_words AS DOUBLE), 1.0) AS stop_ratio,
        |  round((CASE WHEN n_chars BETWEEN 100 AND 10000 THEN 1.0::DOUBLE ELSE 0.5::DOUBLE END) * 0.4
        |    + (CASE WHEN CAST(n_punct AS DOUBLE) / greatest(CAST(n_words AS DOUBLE), 1.0) <= 0.3 THEN 1.0::DOUBLE ELSE 0.5::DOUBLE END) * 0.3
        |    + least(CAST(n_stop AS DOUBLE) / greatest(CAST(n_words AS DOUBLE), 1.0) * 2.0, 1.0::DOUBLE) * 0.3, 6) AS quality
        |FROM s""".stripMargin) {
      (s, dir) => {
        val nW = wordCount(col("text")).cast("long")
        val wc = nW.cast("double")
        val punctRatio = punctCount(col("text")).cast("double") / greatest(wc, lit(1.0))
        val stopRatio = stopwordHits(col("text"), "en").cast("double") / greatest(wc, lit(1.0))
        Tables(s, dir).documents.select(
          col("doc_id"),
          nW.as("n_words"),
          punctRatio.as("punct_ratio"),
          stopRatio.as("stop_ratio"),
          round(
            when(col("n_chars").between(100, 10000), lit(1.0)).otherwise(lit(0.5)) * 0.4 +
              when(punctRatio <= 0.3, lit(1.0)).otherwise(lit(0.5)) * 0.3 +
              least(stopRatio * 2.0, lit(1.0)) * 0.3, 6).as("quality"))
      }
    },

    // --- #44 token counting: whitespace + BPE-ish regex ---
    "t3_tokens" -> QueryDef.of(
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS BIGINT) AS bpe_tokens,
        | CAST(n_chars AS DOUBLE) / greatest(CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS DOUBLE), 1.0) AS chars_per_token
        |FROM documents""".stripMargin) {
      (s, dir) => {
        val bpe = bpeishTokenCount(col("text")).cast("long")
        Tables(s, dir).documents.select(
          col("doc_id"),
          wordCount(col("text")).cast("long").as("ws_tokens"),
          bpe.as("bpe_tokens"),
          (col("n_chars").cast("double") /
            greatest(bpe.cast("double"), lit(1.0))).as("chars_per_token"))
      }
    },

    // --- #45 content fingerprints ---
    "t4_fingerprint" -> QueryDef.of(
      s"""SELECT doc_id, md5(text) AS fp,
         | substr(md5(text), 1, 16) AS fp16,
         | md5($normSql) AS fp_norm
         |FROM documents""".stripMargin) {
      (s, dir) =>
        Tables(s, dir).documents.select(
          col("doc_id"),
          fingerprint(col("text")).as("fp"),
          fingerprintPrefix(col("text")).as("fp16"),
          md5(normalize(col("text"))).as("fp_norm"))
    },

    // --- #35 exact dedup on normalized-content hash ---
    "d1_exact_dedup" -> QueryDef.of(
      s"""SELECT md5($normSql) AS fp, MIN(doc_id) AS canonical_id,
         | COUNT(*) AS n_docs
         |FROM documents GROUP BY 1""".stripMargin) {
      (s, dir) => Dedup.exact(Tables(s, dir).documents)
    },

    // --- #36 n-gram (3-shingle) Jaccard near-dup pairs, lang-blocked ---
    "d2_ngram_jaccard" -> QueryDef.of(
      s"""WITH d AS (
         |  SELECT doc_id, lang, $shinglesSql AS sh
         |  FROM (SELECT doc_id, lang, $wordsSql AS w FROM documents))
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |  CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
         |FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |      CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.6""".stripMargin) {
      (s, dir) =>
        Dedup.ngramJaccardPairs(Tables(s, dir).documents,
          k = 3, threshold = 0.6, blockCols = Seq(col("lang")))
    },

    // --- near-dup clusters: connected components over d2's pairs;
    // cluster id = canonical (min) doc id. Oracle = recursive-CTE
    // transitive closure over the same pair set ---
    "d5_dedup_clusters" -> QueryDef.of(
      s"""WITH d AS (
         |  SELECT doc_id, lang, $shinglesSql AS sh
         |  FROM (SELECT doc_id, lang, $wordsSql AS w FROM documents)),
         |p AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.6),
         |e AS (SELECT a_id AS u, b_id AS v FROM p
         |      UNION SELECT b_id, a_id FROM p),
         |r AS (
         |  WITH RECURSIVE reach(u, v) AS (
         |    SELECT u, v FROM e
         |    UNION
         |    SELECT reach.u, e.v FROM reach JOIN e ON reach.v = e.u)
         |  SELECT * FROM reach)
         |SELECT u AS doc_id, least(u, MIN(v)) AS cluster_id
         |FROM r GROUP BY u""".stripMargin) {
      (s, dir) =>
        Dedup.clusters(
          Dedup.ngramJaccardPairs(Tables(s, dir).documents,
            k = 3, threshold = 0.6, blockCols = Seq(col("lang"))))
    },

    // --- #37 MinHash+LSH near-dup, fully oracled: the oracle re-runs
    // the ENTIRE pipeline — FNV-1a shingle hash, per-seed splitmix64
    // finalizer (the 128-bit products ride UHUGEINT, wrapped mod 2^64
    // like JVM long multiplies; minima compared as SIGNED 64-bit,
    // exactly MinHashUtil's `z < mins(s)`), 4×4 banding, ≤1000 bucket
    // cap, candidate join, exact-Jaccard verify. Integer-exact end to
    // end, so the hash gate needs no rounding ---
    "d3_minhash_lsh" -> QueryDef.of(
      s"""WITH d AS (
         |  SELECT doc_id, $shinglesSql AS sh
         |  FROM (SELECT doc_id, $wordsSql AS w FROM documents)
         |), shl AS (
         |  SELECT doc_id, unnest(sh) AS s FROM d
         |), hx AS (
         |  SELECT doc_id, ${fnvSql("s")} AS h FROM shl
         |), seeds AS (SELECT unnest(range(0, 16)) AS seed),
         |zc AS (
         |  SELECT doc_id, seed,
         |    xor(h, CAST((CAST(seed AS HUGEINT) * 11400714819323198485::HUGEINT)
         |      % $M64::HUGEINT AS UBIGINT)) AS z0,
         |    CAST((CAST(xor(z0, z0 >> 30) AS UHUGEINT) * 13787848793156543929::UHUGEINT
         |      % $M64::UHUGEINT) AS UBIGINT) AS z1,
         |    CAST((CAST(xor(z1, z1 >> 27) AS UHUGEINT) * 10723151780598845931::UHUGEINT
         |      % $M64::UHUGEINT) AS UBIGINT) AS z2,
         |    xor(z2, z2 >> 31) AS z3,
         |    CAST(CASE WHEN z3 >= 9223372036854775808::UBIGINT
         |      THEN CAST(z3 AS HUGEINT) - $M64::HUGEINT
         |      ELSE CAST(z3 AS HUGEINT) END AS BIGINT) AS zs
         |  FROM hx CROSS JOIN seeds
         |), mins AS (
         |  SELECT doc_id, seed, MIN(zs) AS m FROM zc GROUP BY doc_id, seed
         |), sigs AS (
         |  SELECT doc_id, seed // 4 AS band,
         |    string_agg(m::VARCHAR, ',' ORDER BY seed) AS band_key
         |  FROM mins GROUP BY doc_id, seed // 4
         |), bucketed AS (
         |  SELECT doc_id, band, band_key FROM (
         |    SELECT doc_id, band, band_key,
         |      COUNT(*) OVER (PARTITION BY band, band_key) AS bn
         |    FROM sigs) WHERE bn <= 1000
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bucketed a JOIN bucketed b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |)
         |SELECT c.a_id, c.b_id,
         |  CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE) /
         |  CAST(len(list_distinct(list_concat(da.sh, db.sh))) AS DOUBLE) AS jaccard
         |FROM cand c JOIN d da ON da.doc_id = c.a_id JOIN d db ON db.doc_id = c.b_id
         |WHERE CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE) /
         |      CAST(len(list_distinct(list_concat(da.sh, db.sh))) AS DOUBLE) >= 0.6""".stripMargin) {
      (s, dir) =>
        Dedup.minhashLshPairs(Tables(s, dir).documents,
          k = 3, nBands = 4, rowsPerBand = 4, verifyThreshold = 0.6)
    },

    // --- #38 SimHash near-dup (Hamming ≤ 3, chunk-blocked), fully
    // oracled: per-token FNV-1a, 64 ±1 bit votes per doc (token-less
    // docs vote 0 everywhere → all bits set, matching SimHashUtil's
    // `counts(j) >= 0`), unsigned chunk extraction, candidate join,
    // exact Hamming verify via bit_count(xor) ---
    "d4_simhash" -> QueryDef.of(
      s"""WITH w AS (
         |  SELECT doc_id, $wordsSql AS w FROM documents
         |), toks AS (
         |  SELECT doc_id, unnest(w) AS tok FROM w
         |), hashed AS (
         |  SELECT doc_id, ${fnvSql("tok")} AS h FROM toks
         |), bits AS (SELECT unnest(range(0, 64)) AS j),
         |votes AS (
         |  SELECT w.doc_id, b.j,
         |    coalesce(SUM(CASE WHEN h.h IS NULL THEN NULL
         |      WHEN ((h.h >> CAST(b.j AS INT)) & 1::UBIGINT) = 1::UBIGINT THEN 1
         |      ELSE -1 END), 0) AS v
         |  FROM w CROSS JOIN bits b
         |  LEFT JOIN hashed h ON h.doc_id = w.doc_id
         |  GROUP BY w.doc_id, b.j
         |), sig AS (
         |  SELECT doc_id,
         |    CAST(SUM(CASE WHEN v >= 0
         |      THEN CAST(1::UBIGINT << CAST(j AS INT) AS HUGEINT) ELSE 0 END) AS HUGEINT) AS s_u
         |  FROM votes GROUP BY doc_id
         |), sig2 AS (
         |  SELECT doc_id, s_u,
         |    CAST(CASE WHEN s_u >= 9223372036854775808::HUGEINT
         |      THEN s_u - $M64::HUGEINT ELSE s_u END AS BIGINT) AS s_s
         |  FROM sig
         |), chunked AS (
         |  SELECT doc_id, s_u, s_s, c,
         |    CAST((s_u // (CASE c WHEN 0 THEN 1::HUGEINT WHEN 1 THEN 65536::HUGEINT
         |      WHEN 2 THEN 4294967296::HUGEINT ELSE 281474976710656::HUGEINT END))
         |      % 65536::HUGEINT AS BIGINT) AS cv
         |  FROM sig2 CROSS JOIN (SELECT unnest(range(0, 4)) AS c)
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         |    a.s_s AS a_sh, b.s_s AS b_sh
         |  FROM chunked a JOIN chunked b ON a.c = b.c AND a.cv = b.cv
         |    AND a.doc_id < b.doc_id
         |)
         |SELECT a_id, b_id, CAST(bit_count(xor(a_sh, b_sh)) AS INT) AS hamming
         |FROM cand WHERE bit_count(xor(a_sh, b_sh)) <= 3""".stripMargin) {
      (s, dir) =>
        Dedup.simhashPairs(Tables(s, dir).documents, maxHamming = 3)
    },

    // --- #38-streaming: SimHash near-dup detection AT INGEST —
    // arriving docs checked against the existing corpus via a
    // stream-static chunk-blocked join; one row per MATCHING CHUNK
    // (no distinct — that would need stream state). The oracle is
    // d4's signature derivation with both orientations and the chunk
    // kept in the row ---
    "s31_stream_neardup" -> QueryDef.of(
      s"""WITH w AS (
         |  SELECT doc_id, $wordsSql AS w FROM documents
         |), toks AS (
         |  SELECT doc_id, unnest(w) AS tok FROM w
         |), hashed AS (
         |  SELECT doc_id, ${fnvSql("tok")} AS h FROM toks
         |), bits AS (SELECT unnest(range(0, 64)) AS j),
         |votes AS (
         |  SELECT w.doc_id, b.j,
         |    coalesce(SUM(CASE WHEN h.h IS NULL THEN NULL
         |      WHEN ((h.h >> CAST(b.j AS INT)) & 1::UBIGINT) = 1::UBIGINT THEN 1
         |      ELSE -1 END), 0) AS v
         |  FROM w CROSS JOIN bits b
         |  LEFT JOIN hashed h ON h.doc_id = w.doc_id
         |  GROUP BY w.doc_id, b.j
         |), sig AS (
         |  SELECT doc_id,
         |    CAST(SUM(CASE WHEN v >= 0
         |      THEN CAST(1::UBIGINT << CAST(j AS INT) AS HUGEINT) ELSE 0 END) AS HUGEINT) AS s_u
         |  FROM votes GROUP BY doc_id
         |), sig2 AS (
         |  SELECT doc_id, s_u,
         |    CAST(CASE WHEN s_u >= 9223372036854775808::HUGEINT
         |      THEN s_u - $M64::HUGEINT ELSE s_u END AS BIGINT) AS s_s
         |  FROM sig
         |), chunked AS (
         |  SELECT doc_id, s_u, s_s, c,
         |    CAST((s_u // (CASE c WHEN 0 THEN 1::HUGEINT WHEN 1 THEN 65536::HUGEINT
         |      WHEN 2 THEN 4294967296::HUGEINT ELSE 281474976710656::HUGEINT END))
         |      % 65536::HUGEINT AS BIGINT) AS cv
         |  FROM sig2 CROSS JOIN (SELECT unnest(range(0, 4)) AS c)
         |)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(a.c AS INT) AS chunk,
         |  CAST(bit_count(xor(a.s_s, b.s_s)) AS INT) AS hamming
         |FROM chunked a JOIN chunked b ON a.c = b.c AND a.cv = b.cv
         |  AND a.doc_id != b.doc_id
         |WHERE bit_count(xor(a.s_s, b.s_s)) <= 3""".stripMargin)(
      graft.streaming.StreamingQueries.streamNearDup),

    // --- #43b PII scrubbing: redaction + per-category counts. The
    // corpus tables carry no real PII, so the input is synthesized
    // deterministically from customer columns ON BOTH SIDES (email
    // from the name, IP/phone from the key) — the oracle then gates
    // the actual redaction semantics, not a trivially-empty pass ---
    "t5_pii_redact" -> QueryDef.of(
      """WITH s AS (
        |  SELECT c_custkey,
        |    c_name || ' <' || lower(replace(c_name, '#', '.')) ||
        |    '@example.com> from 10.0.' || CAST(c_custkey % 256 AS VARCHAR) ||
        |    '.' || CAST(c_custkey % 100 AS VARCHAR) ||
        |    ' tel +1 (555) 010-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
        |      AS text
        |  FROM customer)
        |SELECT c_custkey AS id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(text, '\+?[0-9][0-9()\- ]{7,}[0-9]')) AS BIGINT) AS n_phones,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g') AS redacted
        |FROM s""".stripMargin) {
      (s, dir) =>
        graft.text.TextAnalysis.piiScrub(
          Tables(s, dir).customer
            .select(col("c_custkey"), piiSynth.as("text")),
          col("text"), col("c_custkey"))
    },

    // --- #43c repetition signals (Gopher-style quality filters):
    // type-token ratio + top-bigram occupancy ---
    "t6_repetition" -> QueryDef.of(
      s"""WITH w AS (
         |  SELECT doc_id, $wordsSql AS w FROM documents
         |), s AS (
         |  SELECT doc_id, len(w) AS n_words, len(list_distinct(w)) AS n_distinct
         |  FROM w
         |), bg AS (
         |  SELECT doc_id, unnest(CASE WHEN len(w) >= 2
         |    THEN [array_to_string(w[i:i+1], ' ') for i in generate_series(1, len(w) - 1)]
         |    ELSE [] END) AS b
         |  FROM w
         |), bc AS (
         |  SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b
         |), bt AS (
         |  SELECT doc_id, MAX(c) AS top_n, CAST(SUM(c) AS BIGINT) AS n_bg
         |  FROM bc GROUP BY doc_id
         |)
         |SELECT s.doc_id, CAST(s.n_words AS BIGINT) AS n_words,
         |  round(CAST(s.n_distinct AS DOUBLE) /
         |    greatest(CAST(s.n_words AS DOUBLE), 1.0), 6) AS ttr,
         |  CAST(coalesce(bt.top_n, 0) AS BIGINT) AS top_bigram_n,
         |  round(CAST(coalesce(bt.top_n, 0) AS DOUBLE) /
         |    greatest(CAST(coalesce(bt.n_bg, 0) AS DOUBLE), 1.0), 6) AS bigram_ratio
         |FROM s LEFT JOIN bt ON s.doc_id = bt.doc_id""".stripMargin) {
      (s, dir) =>
        graft.text.TextAnalysis.repetitionStats(Tables(s, dir).documents)
    },

    // --- #35b benchmark decontamination: corpus docs sharing any
    // word-5-gram with the benchmark split (doc_id % 7 == 0 stands in
    // for the eval set). Broadcast inverted-index join — the corpus
    // side never shuffles ---
    "d6_decontaminate" -> QueryDef.of(
      s"""WITH w AS (
         |  SELECT doc_id, $wordsSql AS w FROM documents
         |), d AS (
         |  SELECT doc_id, ${shinglesSqlK(5)} AS sh FROM w
         |), g AS (
         |  SELECT doc_id, len(sh) AS n_grams, unnest(sh) AS gram FROM d
         |), b AS (
         |  SELECT doc_id AS bench_id, gram FROM g WHERE doc_id % 7 = 0
         |), c AS (
         |  SELECT * FROM g WHERE doc_id % 7 != 0
         |)
         |SELECT c.doc_id,
         |  CAST(count(DISTINCT c.gram) AS BIGINT) AS n_hit_grams,
         |  CAST(c.n_grams AS BIGINT) AS n_grams,
         |  round(CAST(count(DISTINCT c.gram) AS DOUBLE) /
         |    greatest(CAST(c.n_grams AS DOUBLE), 1.0), 6) AS contamination,
         |  CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
         |FROM c JOIN b ON c.gram = b.gram
         |GROUP BY c.doc_id, c.n_grams""".stripMargin) {
      (s, dir) => {
        val docs = Tables(s, dir).documents
        Dedup.decontaminate(
          docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0),
          k = 5)
      }
    },

    // --- #35c cross-document duplicated-span fraction: share of each
    // doc's distinct word-8-grams that occur in ANY other document —
    // the substring-level duplication signal doc-level near-dup
    // misses. Inverted-index plan, no pair enumeration; the Spark
    // side exchanges 8-byte FNV gram keys, the oracle groups the raw
    // gram strings (identical counts — the hash is injective on this
    // corpus and never surfaces in the output) ---
    "d7_dup_spans" -> QueryDef.of(
      s"""WITH w AS (
         |  SELECT doc_id, $wordsSql AS w FROM documents
         |), d AS (
         |  SELECT doc_id, ${shinglesSqlK(8)} AS sh FROM w
         |), g AS (
         |  SELECT doc_id, len(sh) AS n_grams, unnest(sh) AS gram FROM d
         |), f AS (
         |  SELECT gram, COUNT(*) AS df FROM g GROUP BY gram
         |)
         |SELECT g.doc_id,
         |  CAST(g.n_grams AS BIGINT) AS n_grams,
         |  CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |  round(CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) /
         |    greatest(CAST(g.n_grams AS DOUBLE), 1.0), 6) AS dup_frac
         |FROM g JOIN f USING (gram)
         |GROUP BY g.doc_id, g.n_grams""".stripMargin) {
      (s, dir) =>
        Dedup.dupSpans(Tables(s, dir).documents, k = 8)
    },

    // --- #35e substring-span SCRUB (Lee et al. 2021 at word-8-gram
    // granularity): where d7 measures, d9 emits the cleaned corpus —
    // words covered by any corpus-repeated 8-gram removed. Positions
    // are 0-based on the Spark side and 1-based in the oracle; only
    // their RELATIVE geometry matters and none surfaces in the
    // output. The Spark exchange carries 8-byte FNV keys, the oracle
    // groups raw gram strings (d7's injectivity note) ---
    "d9_span_scrub" -> QueryDef.of(
      s"""WITH w AS (
         |  SELECT doc_id, $wordsSql AS w FROM documents),
         |base AS (SELECT doc_id, w, len(w) AS nw FROM w),
         |g AS (
         |  SELECT doc_id, pos, array_to_string(w[pos:pos+7], ' ') AS gram
         |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS pos
         |        FROM base WHERE nw >= 8)),
         |f AS (SELECT gram, count(*) AS cnt FROM g GROUP BY 1),
         |dup AS (SELECT g.doc_id, g.pos FROM g JOIN f USING (gram)
         |        WHERE f.cnt >= 2),
         |cov AS (SELECT doc_id, pos + o AS cpos FROM dup
         |        CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS o)),
         |wp AS (SELECT doc_id, i AS pos, w[i] AS word
         |       FROM (SELECT doc_id, w,
         |               unnest(generate_series(1, len(w))) AS i FROM base)),
         |kept AS (
         |  SELECT wp.doc_id, wp.pos, wp.word FROM wp
         |  WHERE NOT EXISTS (SELECT 1 FROM cov
         |    WHERE cov.doc_id = wp.doc_id AND cov.cpos = wp.pos)),
         |kc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |         string_agg(word, ' ' ORDER BY pos) AS scrubbed_text
         |       FROM kept GROUP BY 1)
         |SELECT b.doc_id, CAST(b.nw AS BIGINT) AS n_words,
         |  COALESCE(kc.n_kept, 0) AS n_kept,
         |  COALESCE(kc.scrubbed_text, '') AS scrubbed_text
         |FROM base b LEFT JOIN kc USING (doc_id)""".stripMargin) {
      (s, dir) =>
        Dedup.scrubSpans(Tables(s, dir).documents, k = 8)
    },

    // --- #35f incremental (snapshot-vs-snapshot) dedup: classify a
    // new crawl delta against the existing corpus on a word-SET
    // fingerprint — the base never re-deduplicates. Sources 0-14
    // play the standing corpus; 15-19 the incoming snapshot.
    "d10_incremental_dedup" -> QueryDef.of(
      """WITH fp AS (
        |  SELECT doc_id,
        |    CAST(regexp_extract(source, '[0-9]+') AS INT) AS srcnum,
        |    md5(list_aggr(list_sort(list_distinct(string_split(text, ' '))),
        |        'string_agg', ',')) AS fp
        |  FROM documents),
        |base AS (SELECT DISTINCT fp FROM fp WHERE srcnum < 15),
        |inc AS (
        |  SELECT doc_id, fp,
        |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |  FROM fp WHERE srcnum >= 15)
        |SELECT i.doc_id,
        |  CASE WHEN b.fp IS NOT NULL THEN 'dup_vs_base'
        |       WHEN i.rn > 1 THEN 'dup_in_batch'
        |       ELSE 'kept' END AS status
        |FROM inc i LEFT JOIN base b ON i.fp = b.fp""".stripMargin) {
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val srcnum = regexp_extract(col("source"), "[0-9]+", 0).cast("int")
        Dedup.incremental(
          docs.where(srcnum < 15), docs.where(srcnum >= 15))
      }
    },

    // --- #43d stratified domain sampling (training-mixture step):
    // deterministic FNV-1a bucket per doc, per-source keep rate.
    // Oracle re-derives every hash decision bit for bit ---
    "t7_domain_mix" -> QueryDef.of(
      s"""WITH s AS (
         |  SELECT doc_id, source,
         |    CAST(${fnvSql("('mix|' || CAST(doc_id AS VARCHAR))")} % 1000000 AS BIGINT) AS bucket,
         |    CASE WHEN CAST(regexp_extract(source, '[0-9]+') AS INT) < 5 THEN 900000
         |         WHEN CAST(regexp_extract(source, '[0-9]+') AS INT) < 10 THEN 600000
         |         WHEN CAST(regexp_extract(source, '[0-9]+') AS INT) < 15 THEN 300000
         |         ELSE 120000 END AS rate_ppm
         |  FROM documents)
         |SELECT doc_id, source, bucket, CAST(rate_ppm AS BIGINT) AS rate_ppm
         |FROM s WHERE bucket < rate_ppm""".stripMargin) {
      (s, dir) => {
        val n = regexp_extract(col("source"), "[0-9]+", 0).cast("int")
        val rate = when(n < 5, 900000L).when(n < 10, 600000L)
          .when(n < 15, 300000L).otherwise(120000L)
        graft.text.TextAnalysis.stratifiedSample(
          Tables(s, dir).documents.select(col("doc_id"), col("source")),
          col("doc_id"), rate)
      }
    },

    // --- #43f temperature-flattened multilingual resampling (the
    // UniMax/mT5 mixing step): keep rates DERIVED from per-language
    // counts at temperature α=1/2 — weight = isqrt(cnt), exact in
    // 64-bit integer arithmetic on both engines (double sqrt
    // corrected ±1), budget 30% of the corpus, every division the
    // truncating integer div — so the oracle replays each rate and
    // each hash keep decision bit for bit ---
    "t16_temperature_mix" -> QueryDef.of(
      s"""WITH c AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS cnt
         |  FROM documents GROUP BY 1),
         |w AS (
         |  SELECT lang, cnt,
         |    CASE WHEN (s0+1)*(s0+1) <= cnt THEN s0+1
         |         WHEN s0*s0 > cnt THEN s0-1 ELSE s0 END AS weight
         |  FROM (SELECT lang, cnt,
         |          CAST(floor(sqrt(CAST(cnt AS DOUBLE))) AS BIGINT) AS s0
         |        FROM c)),
         |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_docs,
         |        CAST(sum(weight) AS BIGINT) AS total_w FROM w),
         |r AS (
         |  SELECT lang,
         |    least(1000000,
         |      ((((total_docs * 3) // 10) * weight // total_w) * 1000000)
         |        // cnt) AS rate_ppm
         |  FROM w, t)
         |SELECT d.doc_id, d.lang,
         |  CAST(${fnvSql("('temp|' || CAST(doc_id AS VARCHAR))")} % 1000000 AS BIGINT) AS bucket,
         |  CAST(r.rate_ppm AS BIGINT) AS rate_ppm
         |FROM documents d JOIN r USING (lang)
         |WHERE CAST(${fnvSql("('temp|' || CAST(doc_id AS VARCHAR))")} % 1000000 AS BIGINT) < r.rate_ppm""".stripMargin) {
      (s, dir) =>
        graft.text.TextAnalysis.temperatureSample(
          Tables(s, dir).documents.select(col("doc_id"), col("lang")),
          col("doc_id"), col("lang"), budgetNum = 3L, budgetDen = 10L)
    },

    // --- #45o bigram-LM fluency filter (the CCNet/Wenzek perplexity
    // filter): stupid-backoff bigram LM trained on the English
    // reference slice, every doc scored by mean Q14 bigram
    // probability — ALL integer arithmetic (a log-prob sum would be
    // an unordered float aggregate; integer sums commute), so the
    // oracle replays every count, every backoff decision, and every
    // fixed-point division bit for bit ---
    "t17_lm_fluency" -> QueryDef.of(
      s"""WITH $lmFluencyCtes
         |SELECT doc_id, n_bigrams, sum_q,
         |  CAST(sum_q // n_bigrams AS BIGINT) AS fluency_q14,
         |  CAST(sum_q AS DOUBLE) / (CAST(n_bigrams AS DOUBLE) * 16384.0::DOUBLE)
         |    AS fluency,
         |  (sum_q // n_bigrams) >= 1200 AS keep
         |FROM d""".stripMargin) {
      (s, dir) =>
        graft.text.TextAnalysis.lmFluency(
          Tables(s, dir).documents, col("doc_id"), col("text"),
          trainFilter = col("lang") === "en", keepQ14 = 1200L)
    },

    // --- #45q CCNet-style perplexity bucketing: per-LANGUAGE
    // head/middle/tail tiers by LM fluency (CCNet partitions each
    // language's corpus into perplexity thirds against a clean-corpus
    // LM; head = most fluent — Wenzek et al. 2020 assign by CUTOFF
    // scores, which is also the only shape that survives 100 TB: a
    // per-lang ranking window would sort half the corpus (English) in
    // ONE task). Rides t17's prefit bigram LM; tertile thresholds
    // c1/c2 are pre-fit from a per-(lang, score) histogram — bounded
    // by the Q14 value range, corpus-size-independent — then
    // broadcast back for row-local assignment. Tie rule: a doc AT a
    // boundary score joins the more-fluent bucket ---
    "t19_ccnet_buckets" -> QueryDef.of(
      s"""WITH $lmFluencyCtes,
         |b AS (
         |  SELECT d.doc_id, dv.lang,
         |    CAST(d.sum_q // d.n_bigrams AS BIGINT) AS fluency_q14
         |  FROM d JOIN (SELECT doc_id, lang FROM documents) dv
         |    ON d.doc_id = dv.doc_id),
         |h AS (
         |  SELECT lang, fluency_q14, CAST(count(*) AS BIGINT) AS cnt
         |  FROM b GROUP BY 1, 2),
         |cm AS (
         |  SELECT lang, fluency_q14,
         |    sum(cnt) OVER (PARTITION BY lang
         |      ORDER BY fluency_q14 DESC) AS cum,
         |    sum(cnt) OVER (PARTITION BY lang) AS n
         |  FROM h),
         |th AS (
         |  SELECT lang,
         |    max(CASE WHEN cum >= (n + 2) // 3
         |             THEN fluency_q14 END) AS c1,
         |    max(CASE WHEN cum >= (2 * n + 2) // 3
         |             THEN fluency_q14 END) AS c2
         |  FROM cm GROUP BY 1)
         |SELECT b.doc_id, b.lang, b.fluency_q14,
         |  CASE WHEN b.fluency_q14 >= th.c1 THEN 'head'
         |       WHEN b.fluency_q14 >= th.c2 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM b JOIN th ON b.lang = th.lang""".stripMargin) {
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val scored = graft.text.TextAnalysis.lmFluency(
          docs, col("doc_id"), col("text"),
          trainFilter = col("lang") === "en", keepQ14 = 1200L)
          .select(col("doc_id"), col("fluency_q14"))
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        val th = graft.text.TextAnalysis.ccnetThresholds(scored)
        graft.text.TextAnalysis.ccnetAssign(scored, th)
          .select(col("doc_id"), col("lang"), col("fluency_q14"),
            col("bucket"))
      }
    },

    // --- #45p sliding-window document chunking (RAG / context-window
    // prep): overlapping fixed-token windows per doc, stride-advanced
    // so every token is covered and no tail window is swallowed by
    // its predecessor. Row-local integer slicing — both engines emit
    // the identical chunk set ---
    "t18_chunk" -> QueryDef.of(
      s"""WITH dw AS (SELECT doc_id, $wordsSql AS w FROM documents),
         |s AS (
         |  SELECT doc_id, w,
         |    unnest(generate_series(1, greatest(len(w) - 16, 1), 48)) AS start_tok
         |  FROM dw WHERE len(w) >= 1)
         |SELECT doc_id,
         |  CAST((start_tok - 1) // 48 AS BIGINT) AS chunk_idx,
         |  CAST(start_tok AS BIGINT) AS start_tok,
         |  CAST(len(w[start_tok:start_tok+63]) AS BIGINT) AS n_tokens,
         |  array_to_string(w[start_tok:start_tok+63], ' ') AS chunk_text
         |FROM s""".stripMargin) {
      (s, dir) =>
        graft.text.TextAnalysis.chunkDocs(
          Tables(s, dir).documents, col("doc_id"), col("text"),
          chunkTokens = 64, stride = 48)
    },

    // --- #43e shard assignment + per-shard budget stats (the
    // "N balanced output shards" report before a training write) ---
    // --- #45g corpus-frequency quality score (the CCNet
    // perplexity-filter shape, made hash-exact): per doc, the mean
    // corpus frequency of its tokens in ppm — head-heavy boilerplate
    // scores high, rare-token/noisy docs score low — bucketed
    // head/middle/tail for mixture control. Log-perplexity would
    // hinge on libm ln() parity across engines; mean frequency keeps
    // the arithmetic on exact integer counts until ONE identical
    // double expression on both sides, so the gate stays bit-exact.
    // Plan: token-count vocab (one shuffle on token), exploded tokens
    // re-joined to the vocab (AQE picks broadcast while the vocab
    // fits, shuffle join beyond), per-doc partial-agg rollup, scalar
    // total broadcast via cross join. The corpus is scanned twice
    // (vocab + rejoin) — at scale the tokenized projection would be
    // persisted/bucketed by token, the plan shape is unchanged ---
    "t9_freq_quality" -> QueryDef.of(
      s"""WITH w AS (
         |  SELECT doc_id, unnest($wordsSql) AS tok FROM documents),
         |v AS (SELECT tok, COUNT(*) AS cnt FROM w GROUP BY 1),
         |t AS (SELECT SUM(cnt) AS total FROM v),
         |d AS (SELECT w.doc_id, COUNT(*) AS n_tokens, SUM(v.cnt) AS sum_cnt
         |      FROM w JOIN v USING (tok) GROUP BY 1)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(sum_cnt AS DOUBLE) * 1000000.0::DOUBLE /
         |    (CAST(n_tokens AS DOUBLE) * CAST(t.total AS DOUBLE))
         |    AS mean_freq_ppm,
         |  CASE WHEN CAST(sum_cnt AS DOUBLE) * 1000000.0::DOUBLE /
         |         (CAST(n_tokens AS DOUBLE) * CAST(t.total AS DOUBLE))
         |         >= 33400.0 THEN 'head'
         |       WHEN CAST(sum_cnt AS DOUBLE) * 1000000.0::DOUBLE /
         |         (CAST(n_tokens AS DOUBLE) * CAST(t.total AS DOUBLE))
         |         >= 33250.0 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM d, t""".stripMargin) {
      (s, dir) =>
        val toks = Tables(s, dir).documents
          .select(col("doc_id"), explode(words(col("text"))).as("tok"))
        // r16 (guide §2.4): the corpus token total rides ON the vocab
        // rows (one unpartitioned window over the vocab-sized frame)
        // instead of a separate vocab.agg + crossJoin — the standalone
        // totals frame re-instantiated the whole scan+explode+agg
        // subtree a third time (one more full corpus pass at scale)
        // and attached through a BroadcastNestedLoopJoin. Totals stay
        // exact longs; every emitted double is unchanged.
        val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
          .withColumn("total", sum(col("cnt"))
            .over(org.apache.spark.sql.expressions.Window
              .rowsBetween(Long.MinValue, Long.MaxValue)))
        val ppm = col("sum_cnt").cast("double") * lit(1000000.0) /
          (col("n_tokens").cast("double") * col("total").cast("double"))
        toks.join(vocab, "tok")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"), sum(col("cnt")).as("sum_cnt"),
            max(col("total")).as("total"))
          .select(col("doc_id"), col("n_tokens"),
            ppm.as("mean_freq_ppm"),
            when(ppm >= 33400.0, "head")
              .when(ppm >= 33250.0, "middle")
              .otherwise("tail").as("bucket"))
    },

    // --- #45h greedy (next-fit) sequence packing: docs → fixed
    // token-budget training sequences. The greedy fold is sequential
    // per shard BY DEFINITION (every placement depends on the running
    // fill), so it runs as one native O(n/S) pass per shard
    // (PackGreedy, the BreakerReplay shape) and parallelism is the
    // shard count; the only exchange is the shuffle onto the shard
    // key. The oracle replays every greedy decision with a linear
    // recursive CTE over the same FNV shard assignment ---
    "t10_seq_pack" -> QueryDef.of(seqPackOracle) {
      (s, dir) =>
        graft.text.TextAnalysis.packSequences(
          Tables(s, dir).documents, col("doc_id"), col("text"),
          nShards = 64, budgetTokens = 256L)
    },

    // --- #45i BM25 relevance scoring against a fixed query term set
    // (retrieval-based quality/topic filtering). Per-doc tf is a
    // row-local HOF count (the query vocabulary is bounded — no
    // explode of the token stream, no token-keyed shuffle); corpus
    // stats (N, Σdl, per-term df) reduce to ONE row that broadcasts
    // back onto the map-side scoring pass. Integer stats stay exact;
    // the single double expression is rounded to 6 decimals on both
    // sides to absorb cross-libm ln() variance (f4 precedent) ---
    "t11_bm25" -> QueryDef.of {
      val terms = Seq("spark", "join", "window", "dup")
      val tfDefs = terms.zipWithIndex.map { case (t, i) =>
        s"CAST(len(list_filter(w, x -> x = '$t')) AS BIGINT) AS tf$i"
      }.mkString(",\n         |  ")
      val dfDefs = terms.indices.map { i =>
        s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i"
      }.mkString(",\n         |  ")
      val scoreSum = terms.indices.map { i =>
        s"""ln(1.0::DOUBLE + (CAST(n_docs AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5::DOUBLE)
           |      / (CAST(df$i AS DOUBLE) + 0.5::DOUBLE))
           |    * CAST(tf$i AS DOUBLE) * 2.2::DOUBLE
           |    / (CAST(tf$i AS DOUBLE) + 1.2::DOUBLE * (0.25::DOUBLE
           |       + 0.75::DOUBLE * CAST(dl AS DOUBLE)
           |         / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))""".stripMargin
      }.mkString("\n         |  + ")
      val hitSum = terms.indices.map(i =>
        s"CASE WHEN tf$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
      val anyHit = terms.indices.map(i => s"tf$i > 0").mkString(" OR ")
      s"""WITH w AS (SELECT doc_id, $wordsSql AS w FROM documents),
         |t AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
         |  $tfDefs
         |  FROM w),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(dl) AS BIGINT) AS sum_dl,
         |  $dfDefs
         |  FROM t)
         |SELECT doc_id,
         |  round($scoreSum, 6) AS bm25,
         |  CAST($hitSum AS BIGINT) AS n_hits
         |FROM t, st WHERE $anyHit""".stripMargin
    } { (s, dir) =>
      graft.text.TextAnalysis.bm25(
        Tables(s, dir).documents, col("doc_id"), col("text"),
        terms = Seq("spark", "join", "window", "dup"))
    },

    // --- #45j Gopher/C4 heuristic filter battery (Rae et al. 2021;
    // Raffel et al. 2020): per-rule booleans + keep verdict, one
    // zero-shuffle codegen'd scan. Counts are integers on both
    // engines; each ratio is ONE exact double division rounded 6dp ---
    "t12_gopher_filters" -> QueryDef.of(
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
        |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS word_chars,
        |    CAST(len(regexp_extract_all(text, '[#{}<>@*\\]')) AS BIGINT) AS symbol_hits,
        |    CAST(len(regexp_extract_all(text, '\S*[A-Za-z]\S*')) AS BIGINT) AS alpha_words,
        |    CAST(len(regexp_extract_all(text, '\.\.\.')) AS BIGINT) AS ellipsis_hits,
        |    CAST(len(regexp_extract_all(lower(text), '\b(the|and|is|of|to|in|that|it|was|for)\b')) AS BIGINT) AS stop_hits,
        |    contains(lower(text), 'lorem ipsum') OR contains(text, '{') AS boiler
        |  FROM documents
        |), r AS (
        |  SELECT *, CAST(greatest(n_words, 1) AS DOUBLE) AS denom,
        |    n_words BETWEEN 20 AND 100000 AS r_words,
        |    CAST(word_chars AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE)
        |      BETWEEN 3.0 AND 10.0 AS r_mean_len,
        |    CAST(symbol_hits AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE) < 0.1 AS r_symbol,
        |    CAST(alpha_words AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE) >= 0.8 AS r_alpha,
        |    CAST(ellipsis_hits AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE) < 0.3 AS r_ellipsis,
        |    stop_hits >= 2 AS r_stop,
        |    NOT boiler AS r_boiler
        |  FROM s)
        |SELECT doc_id, n_words,
        |  round(CAST(word_chars AS DOUBLE) / denom, 6) AS mean_word_len,
        |  round(CAST(symbol_hits AS DOUBLE) / denom, 6) AS symbol_ratio,
        |  round(CAST(alpha_words AS DOUBLE) / denom, 6) AS alpha_ratio,
        |  stop_hits, r_words, r_mean_len, r_symbol, r_alpha, r_ellipsis,
        |  r_stop, r_boiler,
        |  r_words AND r_mean_len AND r_symbol AND r_alpha AND r_ellipsis
        |    AND r_stop AND r_boiler AS keep
        |FROM r""".stripMargin) {
      (s, dir) =>
        graft.text.TextAnalysis.gopherFilter(Tables(s, dir).documents)
    },

    // --- #45k DSIR importance weighting (Xie et al. 2023): hashed
    // uni+bigram log-likelihood ratio vs a target domain (sources
    // 0–4, t7's head stratum). Counts/totals exact integers both
    // sides; the one ln() is rounded 9dp and DECIMAL-summed, so the
    // gate never depends on float summation order, and the sum rounds
    // to 6dp BEFORE its cast to DOUBLE (exact on a halfway sum) ---
    "t13_dsir" -> QueryDef.of(
      s"""WITH w AS (
         |  SELECT doc_id,
         |    CAST(regexp_extract(source, '[0-9]+') AS INT) < 5 AS is_tgt,
         |    $wordsSql AS w
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, is_tgt, unnest(w) AS gram FROM w
         |  UNION ALL
         |  SELECT doc_id, is_tgt, w[i] || ' ' || w[i+1] AS gram
         |  FROM (SELECT doc_id, is_tgt, w,
         |          unnest(generate_series(1, len(w) - 1)) AS i FROM w)),
         |b AS (
         |  SELECT doc_id, is_tgt,
         |    CAST(${fnvSql("gram")} % 4096 AS BIGINT) AS bucket
         |  FROM g),
         |c AS (
         |  SELECT bucket, CAST(count(*) AS BIGINT) AS raw_cnt,
         |    CAST(sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS BIGINT) AS tgt_cnt
         |  FROM b GROUP BY 1),
         |t AS (SELECT CAST(SUM(raw_cnt) AS BIGINT) AS raw_total,
         |        CAST(SUM(tgt_cnt) AS BIGINT) AS tgt_total FROM c),
         |l AS (
         |  SELECT bucket,
         |    CAST(round(ln(
         |      (CAST(tgt_cnt + 1 AS DOUBLE) / CAST(tgt_total + 4096 AS DOUBLE)) /
         |      (CAST(raw_cnt + 1 AS DOUBLE) / CAST(raw_total + 4096 AS DOUBLE))
         |    ), 9) AS DECIMAL(18,9)) AS lr
         |  FROM c, t)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(round(SUM(lr), 6) AS DOUBLE) AS dsir_weight,
         |  round(CAST(SUM(lr) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS avg_lr
         |FROM b JOIN l USING (bucket)
         |GROUP BY doc_id""".stripMargin) {
      (s, dir) =>
        graft.text.TextAnalysis.dsirWeights(
          Tables(s, dir).documents, col("text"), col("doc_id"),
          regexp_extract(col("source"), "[0-9]+", 0).cast("int") < 5)
    },

    // --- #45s model-based quality classifier (fastText/FineWeb-Edu
    // shape): multinomial NB fit on the LABELED SEED SLICE (docs with
    // doc_id % 5 = 0, label = curated sources 0–4), scored
    // corpus-wide. All arithmetic on 9-dp-scaled longs (exact, order
    // independent); edu_score tiers via products, never division ---
    "t21_quality_classifier" -> QueryDef.of(
      s"""WITH lab AS (
         |  SELECT doc_id,
         |    CAST(regexp_extract(source, '[0-9]+') AS INT) < 5 AS is_pos,
         |    $wordsSql AS w
         |  FROM documents WHERE doc_id % 5 = 0),
         |lg AS (
         |  SELECT is_pos, unnest(w) AS gram FROM lab
         |  UNION ALL
         |  SELECT is_pos, w[i] || ' ' || w[i+1] AS gram
         |  FROM (SELECT is_pos, w,
         |          unnest(generate_series(1, len(w) - 1)) AS i FROM lab)),
         |lb AS (
         |  SELECT is_pos,
         |    CAST(${fnvSql("gram")} % 4096 AS BIGINT) AS bucket
         |  FROM lg),
         |c AS (
         |  SELECT bucket,
         |    CAST(sum(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS pos_cnt,
         |    CAST(sum(CASE WHEN is_pos THEN 0 ELSE 1 END) AS BIGINT) AS neg_cnt
         |  FROM lb GROUP BY 1),
         |t AS (SELECT CAST(sum(pos_cnt) AS BIGINT) AS pos_total,
         |        CAST(sum(neg_cnt) AS BIGINT) AS neg_total FROM c),
         |f AS (
         |  SELECT r.range AS bucket,
         |    coalesce(pos_cnt, 0) AS pos_cnt, coalesce(neg_cnt, 0) AS neg_cnt
         |  FROM range(0, 4096) r LEFT JOIN c ON c.bucket = r.range),
         |l AS (
         |  SELECT bucket,
         |    CAST(CAST(round(ln(
         |      (CAST(pos_cnt + 1 AS DOUBLE) / CAST(pos_total + 4096 AS DOUBLE)) /
         |      (CAST(neg_cnt + 1 AS DOUBLE) / CAST(neg_total + 4096 AS DOUBLE))
         |    ), 9) AS DECIMAL(28,9)) * 1000000000 AS BIGINT) AS lr_scaled
         |  FROM f, t),
         |p AS (
         |  SELECT CAST(CAST(round(ln(
         |      CAST(sum(CASE WHEN is_pos THEN 1 ELSE 0 END) + 1 AS DOUBLE) /
         |      CAST(sum(CASE WHEN is_pos THEN 0 ELSE 1 END) + 1 AS DOUBLE)), 9)
         |    AS DECIMAL(28,9)) * 1000000000 AS BIGINT) AS prior_scaled
         |  FROM lab),
         |aw AS (SELECT doc_id, $wordsSql AS w FROM documents),
         |ag AS (
         |  SELECT doc_id, unnest(w) AS gram FROM aw
         |  UNION ALL
         |  SELECT doc_id, w[i] || ' ' || w[i+1] AS gram
         |  FROM (SELECT doc_id, w,
         |          unnest(generate_series(1, len(w) - 1)) AS i FROM aw)),
         |ab AS (
         |  SELECT doc_id,
         |    CAST(${fnvSql("gram")} % 4096 AS BIGINT) AS bucket
         |  FROM ag),
         |s AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |    CAST(sum(lr_scaled) AS BIGINT) AS gsum
         |  FROM ab JOIN l USING (bucket) GROUP BY doc_id)
         |SELECT doc_id, n_grams,
         |  round(CAST(gsum + prior_scaled AS DOUBLE) / 1e9, 6) AS nb_llr,
         |  CAST(CASE WHEN gsum + prior_scaled >= n_grams * 1000000000 THEN 4
         |            WHEN gsum + prior_scaled >= n_grams * 400000000 THEN 3
         |            WHEN gsum + prior_scaled >= 0 THEN 2
         |            WHEN gsum + prior_scaled >= n_grams * -600000000 THEN 1
         |            ELSE 0 END AS INT) AS edu_score,
         |  gsum + prior_scaled > 0 AS keep
         |FROM s, p""".stripMargin) {
      (s, dir) =>
        val docs = Tables(s, dir).documents
        val (lr, prior) = graft.text.TextAnalysis.nbFit(
          docs, col("text"), col("doc_id") % 5 === 0,
          regexp_extract(col("source"), "[0-9]+", 0).cast("int") < 5)
        graft.text.TextAnalysis.nbScore(
          docs, col("text"), col("doc_id"), lr, prior)
    },

    // --- #35b-streaming: decontamination AT INGEST — the bench-gram
    // FNV set rides as a sorted model object into a native row-local
    // probe; d6's SQL minus the n_bench_docs column (per-gram
    // bench-doc identity is deliberately not in the row-local model).
    // The oracle joins DISTINCT bench grams so count(*) = the doc's
    // distinct grams present in the set, exactly the probe's count ---
    "s29_stream_decontam" -> QueryDef.of(
      s"""WITH w AS (
         |  SELECT doc_id, $wordsSql AS w FROM documents
         |), d AS (
         |  SELECT doc_id, ${shinglesSqlK(5)} AS sh FROM w
         |), g AS (
         |  SELECT doc_id, len(sh) AS n_grams, unnest(sh) AS gram FROM d
         |), b AS (
         |  SELECT DISTINCT gram FROM g WHERE doc_id % 7 = 0
         |), c AS (
         |  SELECT * FROM g WHERE doc_id % 7 != 0
         |)
         |SELECT c.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_hit_grams,
         |  CAST(c.n_grams AS BIGINT) AS n_grams,
         |  round(CAST(count(*) AS DOUBLE) /
         |    greatest(CAST(c.n_grams AS DOUBLE), 1.0), 6) AS contamination
         |FROM c JOIN b USING (gram)
         |GROUP BY c.doc_id, c.n_grams""".stripMargin)(
      graft.streaming.StreamingQueries.streamDecontam),

    // --- #45m composed CLEANING pipeline over the round's new
    // operators: Gopher/C4 gate → span scrub (gram stats over the
    // GATED subset — pipeline semantics, deliberate) → exact dedup on
    // the SCRUBBED text (span removal creates new exact dups — the
    // reason scrub-then-dedup is the canonical order) → per-source
    // budget report. One lazy plan; the oracle chains each stage's
    // proven SQL, so the hash gate checks the composition ---
    "pipe2_clean_corpus" -> QueryDef.of(
      s"""WITH gf AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_words,
         |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS word_chars,
         |    CAST(len(regexp_extract_all(text, '[#{}<>@*\\\\]')) AS BIGINT) AS symbol_hits,
         |    CAST(len(regexp_extract_all(text, '\\S*[A-Za-z]\\S*')) AS BIGINT) AS alpha_words,
         |    CAST(len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS ellipsis_hits,
         |    CAST(len(regexp_extract_all(lower(text), '\\b(the|and|is|of|to|in|that|it|was|for)\\b')) AS BIGINT) AS stop_hits,
         |    contains(lower(text), 'lorem ipsum') OR contains(text, '{') AS boiler
         |  FROM documents),
         |keepids AS (
         |  SELECT doc_id FROM gf
         |  WHERE n_words BETWEEN 20 AND 100000
         |    AND CAST(word_chars AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE) BETWEEN 3.0 AND 10.0
         |    AND CAST(symbol_hits AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE) < 0.1
         |    AND CAST(alpha_words AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE) >= 0.8
         |    AND CAST(ellipsis_hits AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE) < 0.3
         |    AND stop_hits >= 2 AND NOT boiler),
         |kept AS (
         |  SELECT d.doc_id, d.source, $wordsSql AS w
         |  FROM documents d JOIN keepids USING (doc_id)),
         |base AS (SELECT doc_id, source, w, len(w) AS nw FROM kept),
         |g AS (
         |  SELECT doc_id, pos, array_to_string(w[pos:pos+7], ' ') AS gram
         |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS pos
         |        FROM base WHERE nw >= 8)),
         |f AS (SELECT gram, count(*) AS cnt FROM g GROUP BY 1),
         |dup AS (SELECT g.doc_id, g.pos FROM g JOIN f USING (gram)
         |        WHERE f.cnt >= 2),
         |cov AS (SELECT doc_id, pos + o AS cpos FROM dup
         |        CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS o)),
         |wp AS (SELECT doc_id, i AS pos, w[i] AS word
         |       FROM (SELECT doc_id, w,
         |               unnest(generate_series(1, len(w))) AS i FROM base)),
         |kw AS (
         |  SELECT wp.doc_id, wp.pos, wp.word FROM wp
         |  WHERE NOT EXISTS (SELECT 1 FROM cov
         |    WHERE cov.doc_id = wp.doc_id AND cov.cpos = wp.pos)),
         |kc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |         string_agg(word, ' ' ORDER BY pos) AS scrubbed
         |       FROM kw GROUP BY 1),
         |scr AS (SELECT b.doc_id, b.source, kc.n_kept, kc.scrubbed
         |        FROM base b JOIN kc USING (doc_id) WHERE kc.n_kept > 0),
         |canon AS (SELECT md5(scrubbed) AS fp, MIN(doc_id) AS cid,
         |            CAST(COUNT(*) AS BIGINT) AS grp
         |          FROM scr GROUP BY 1)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_kept) AS BIGINT) AS total_words,
         |  CAST(SUM(length(scrubbed)) AS BIGINT) AS total_chars,
         |  CAST(SUM(grp - 1) AS BIGINT) AS dups_removed
         |FROM scr JOIN canon
         |  ON md5(scr.scrubbed) = canon.fp AND scr.doc_id = canon.cid
         |GROUP BY source""".stripMargin) {
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val kept = graft.text.TextAnalysis
          .gopherFilter(docs, passthrough = Seq("text", "source"))
          .where(col("keep"))
          .select("doc_id", "text", "source")
        val scr = Dedup.scrubSpans(kept, k = 8, passthrough = Seq("source"))
          .where(col("n_kept") > 0L)
          .withColumn("fp", md5(col("scrubbed_text")))
        // window keeper election (same rewrite as pipe1): group size +
        // rank-1 keeper in ONE shuffle on fp, instead of re-running
        // the gopher+scrub upstream for a groupBy side and a join side
        val pw = org.apache.spark.sql.expressions.Window.partitionBy("fp")
        scr
          .withColumn("grp", count(lit(1)).over(pw))
          .withColumn("__rn", row_number().over(pw.orderBy("doc_id")))
          .filter(col("__rn") === 1)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_kept")).as("tw"),
            sum(length(col("scrubbed_text"))).as("tc"),
            sum(col("grp") - lit(1L)).as("dr"))
          .select(col("source"), col("n_docs"),
            col("tw").cast("long").as("total_words"),
            col("tc").cast("long").as("total_chars"),
            col("dr").cast("long").as("dups_removed"))
      }
    },

    // --- #45l distributed BPE tokenizer training (Sennrich et al.
    // 2016): top-12 merges learned map-reduce style on the
    // word-frequency table (vocab-sized exchanges, corpus scanned
    // once). The training loop is iterative but fully DETERMINISTIC
    // (argmax with a total tie-break), so the DuckDB oracle re-runs
    // the whole procedure as 12 unrolled pair-count→argmax→merge CTE
    // rounds and the merge table is hash-gated end to end ---
    "t14_bpe_merges" -> QueryDef.of(BpeOracle.t14Sql(12)) {
      (s, dir) =>
        graft.text.TextAnalysis.bpeTrain(
          Tables(s, dir).documents, col("text"), nMerges = 12)
    },

    // --- #45l-apply: BPE tokenizer APPLICATION — train the merge
    // table (8 rounds keeps the driver-iteration floor bounded), then
    // encode the corpus through the native row-local walk; pure map
    // stage, zero shuffles after the vocab-sized training exchanges.
    // Tokens surface as ONE scalar space-joined column (tokens are
    // pure [a-z0-9] so ' ' is injective), which both keeps the
    // driver's comparator happy (array cells are unhashable in
    // pandas) and carries the ENTIRE token stream into the hash gate:
    // the oracle re-trains the 8 merges in DuckDB CTEs and re-encodes
    // every doc with the separator-bounded greedy replace walk ---
    "t15_bpe_encode" -> QueryDef.of(BpeOracle.t15Sql(8)) {
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val merges = graft.text.TextAnalysis
          .trainedMergesCached(docs, col("text"), nMerges = 8, cacheKey = dir)
        graft.text.TextAnalysis
          .bpeEncode(docs, col("text"), merges)
          .select(col("doc_id"), col("n_words"), col("n_tokens"),
            col("n_chars"),
            array_join(col("tokens"), " ").as("tokens_joined"))
      }
    },

    // --- #45r tokenizer fertility by language: the tokenizer-quality
    // report a trainer reads before committing a vocab — per lang,
    // corpus totals + fertility (tokens/word) and chars/token
    // (compression), integer-scaled ×1e6 for a hash-exact gate. One
    // row-local native-BpeEncode pass over the broadcast merge list +
    // one map-side-combined agg on lang; no joins (lang rides as
    // passthrough). Shares t14/t15's trained-merges chain ---
    "t20_tokenizer_fertility" -> QueryDef.of(BpeOracle.t20Sql(8)) {
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val merges = graft.text.TextAnalysis
          .trainedMergesCached(docs, col("text"), nMerges = 8, cacheKey = dir)
        graft.text.TextAnalysis
          .tokenizerFertility(docs, col("text"), merges, col("lang"))
      }
    },

    "t8_shard" -> QueryDef.of(
      s"""WITH s AS (
         |  SELECT CAST(${fnvSql("('shard|' || CAST(doc_id AS VARCHAR))")} % 64 AS BIGINT) AS shard,
         |    doc_id,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS BIGINT) AS toks,
         |    CAST(length(text) AS BIGINT) AS chars
         |  FROM documents)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(toks) AS BIGINT) AS total_tokens,
         |  CAST(sum(chars) AS BIGINT) AS total_chars,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM s GROUP BY shard""".stripMargin) {
      (s, dir) =>
        graft.text.TextAnalysis.shardStats(
          Tables(s, dir).documents, col("doc_id"), col("text"), 64)
    },

    // --- #45f end-to-end corpus pipeline: quality gate → exact-dedup
    // canonical pick → benchmark decontamination → stratified domain
    // sampling → sharded budget report, composed from the registered
    // stage operators in ONE lazy plan (no intermediate
    // materialization — Catalyst fuses the row-local stages into the
    // scans). The oracle chains every stage's already-proven SQL into
    // one CTE pipeline, so the hash gate checks the COMPOSITION, not
    // just the stages. The quality threshold compares round(q, 6) on
    // both sides — the stage outputs agree to 6dp (t2's gate), so the
    // filter decisions are bit-identical ---
    "pipe1_corpus" -> QueryDef.of(
      s"""WITH q AS (
         |  SELECT doc_id, text, source,
         |    round((CASE WHEN n_chars BETWEEN 100 AND 10000 THEN 1.0::DOUBLE ELSE 0.5::DOUBLE END) * 0.4
         |      + (CASE WHEN CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) /
         |           greatest(CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE), 1.0) <= 0.3
         |         THEN 1.0::DOUBLE ELSE 0.5::DOUBLE END) * 0.3
         |      + least(CAST(len(regexp_extract_all(lower(text), '\\b(the|and|is|of|to|in|that|it|was|for)\\b')) AS DOUBLE) /
         |          greatest(CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE), 1.0) * 2.0, 1.0::DOUBLE) * 0.3, 6) AS quality
         |  FROM documents WHERE doc_id % 7 != 0
         |), qf AS (
         |  SELECT doc_id, text, source FROM q WHERE quality >= 0.7
         |), fp AS (
         |  SELECT doc_id, text, source, md5($normSql) AS fp FROM qf
         |), canon AS (
         |  SELECT fp, min(doc_id) AS doc_id FROM fp GROUP BY fp
         |), surv AS (
         |  SELECT f.doc_id, f.text, f.source FROM fp f
         |  JOIN canon c ON f.fp = c.fp AND f.doc_id = c.doc_id
         |), w AS (
         |  SELECT doc_id, $wordsSql AS w FROM surv
         |), d AS (
         |  SELECT doc_id, ${shinglesSqlK(5)} AS sh FROM w
         |), g AS (
         |  SELECT doc_id, unnest(sh) AS gram FROM d
         |), bw AS (
         |  SELECT doc_id, $wordsSql AS w FROM documents WHERE doc_id % 7 = 0
         |), bd AS (
         |  SELECT doc_id, ${shinglesSqlK(5)} AS sh FROM bw
         |), bg AS (
         |  SELECT DISTINCT unnest(sh) AS gram FROM bd
         |), contam AS (
         |  SELECT DISTINCT g.doc_id FROM g JOIN bg USING (gram)
         |), clean AS (
         |  SELECT s2.* FROM surv s2 ANTI JOIN contam USING (doc_id)
         |), samp AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      CAST(${fnvSql("('mix|' || CAST(doc_id AS VARCHAR))")} % 1000000 AS BIGINT) AS bucket,
         |      CASE WHEN CAST(regexp_extract(source, '[0-9]+') AS INT) < 5 THEN 900000
         |           WHEN CAST(regexp_extract(source, '[0-9]+') AS INT) < 10 THEN 600000
         |           WHEN CAST(regexp_extract(source, '[0-9]+') AS INT) < 15 THEN 300000
         |           ELSE 120000 END AS rate_ppm
         |    FROM clean)
         |  WHERE bucket < rate_ppm
         |), sh2 AS (
         |  SELECT CAST(${fnvSql("('shard|' || CAST(doc_id AS VARCHAR))")} % 16 AS BIGINT) AS shard,
         |    doc_id,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS BIGINT) AS toks,
         |    CAST(length(text) AS BIGINT) AS chars
         |  FROM samp)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(toks) AS BIGINT) AS total_tokens,
         |  CAST(sum(chars) AS BIGINT) AS total_chars,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM sh2 GROUP BY shard""".stripMargin) {
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val nW = wordCount(col("text")).cast("double")
        val punctRatio = punctCount(col("text")).cast("double") /
          greatest(nW, lit(1.0))
        val stopRatio = stopwordHits(col("text"), "en").cast("double") /
          greatest(nW, lit(1.0))
        val quality = round(
          when(col("n_chars").between(100, 10000), lit(1.0)).otherwise(lit(0.5)) * 0.4 +
            when(punctRatio <= 0.3, lit(1.0)).otherwise(lit(0.5)) * 0.3 +
            least(stopRatio * 2.0, lit(1.0)) * 0.3, 6)
        val qf = docs.filter(col("doc_id") % 7 =!= 0)
          .filter(quality >= 0.7)
          .select(col("doc_id"), col("text"), col("source"))
        // decontamination as the s29 ROW-LOCAL probe, not the d6
        // join: Dedup.decontaminate(surv, bench) + left_anti would
        // execute the regex-heavy quality scan and the keeper-election
        // window shuffle TWICE (once under the gram explode, once as
        // the anti-join's left side) — measured 7x at 30x ScaleBench
        // with the benchmark side held fixed. The eval set is small
        // by nature (cap-guarded in the fit helper), so its distinct
        // gram hashes ride into ONE native row-local filter fused
        // into the single corpus pass. Over-cap eval sets fall back
        // to d6's distributed join.
        //
        // The probe runs BEFORE the dedup shuffle even though the
        // oracle (and the operator contract) decontaminates the
        // SURVIVORS: the two stages commute because equal fp means
        // equal normalized text, hence equal word shingles, hence an
        // identical contamination verdict for every member of an fp
        // group — filtering first removes exactly the rows the
        // post-dedup filter would have.
        val benchHashes = Dedup.benchGramHashes(
          docs.filter(col("doc_id") % 7 === 0), k = 5)
        val hitsProbe = org.apache.spark.sql.graftbridge.ColumnBridge.column(
          graft.functions.GramSetHits(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(
              shingles(col("text"), 5)),
            benchHashes))
        val probed = qf.where(element_at(hitsProbe, 2) === 0L)
        // exact-dedup as a WINDOW keeper election (row_number over fp,
        // keep rank 1 = min doc_id): ONE pass over the regex-heavy
        // quality scan and ONE slim shuffle. The earlier
        // groupBy+self-join on fp re-executed the whole upstream scan
        // for each side and shuffled the text twice (measured 30x
        // ScaleBench: 40s -> SURVEY §16); r9 additionally computes
        // every downstream row-local output (token/char counts)
        // BEFORE the exchange and DROPS the text column from it —
        // the election shuffles ~40-byte rows instead of documents,
        // the dominant byte-volume win at 100 TB.
        val slim = probed.select(
          col("doc_id"), col("source"),
          md5(normalize(col("text"))).as("fp"),
          bpeishTokenCount(col("text")).cast("long").as("toks"),
          length(col("text")).cast("long").as("chars"))
        val dw = org.apache.spark.sql.expressions.Window
          .partitionBy("fp").orderBy("doc_id")
        val clean = slim.withColumn("__rn", row_number().over(dw))
          .filter(col("__rn") === 1)
        val n = regexp_extract(col("source"), "[0-9]+", 0).cast("int")
        val rate = when(n < 5, 900000L).when(n < 10, 600000L)
          .when(n < 15, 300000L).otherwise(120000L)
        val sampled = graft.text.TextAnalysis.stratifiedSample(
          clean, col("doc_id"), rate)
        graft.text.TextAnalysis.shardStatsPre(
          sampled, col("doc_id"), col("toks"), col("chars"), 16)
      }
    },

    // --- #46 multimodal: frame sampling — one row per sampled fixed
    // -size frame (every 2nd 1000-char frame), per-frame checksum;
    // the video fan-out shape, row-local, no shuffle ---
    "m3_frame_sample" -> QueryDef.of(
      """WITH f AS (
        |  SELECT doc_id AS media_id, text,
        |    greatest(CAST(ceil(CAST(length(text) AS DOUBLE) / 1000.0) AS BIGINT) - 1, 0) AS maxf
        |  FROM documents
        |), u AS (
        |  SELECT media_id, text, unnest(range(0, maxf + 1, 2)) AS frame_idx FROM f
        |)
        |SELECT media_id, frame_idx,
        |  CAST(length(substring(text, CAST(frame_idx * 1000 + 1 AS BIGINT), 1000)) AS BIGINT) AS n_chars,
        |  md5(substring(text, CAST(frame_idx * 1000 + 1 AS BIGINT), 1000)) AS frame_md5
        |FROM u""".stripMargin) {
      (s, dir) =>
        Multimodal.frameSample(Tables(s, dir).documents)
    },

    // --- #46 multimodal: binary payload + stub decode (SQL twin) ---
    "m1_multimodal" -> QueryDef.of(
      """SELECT doc_id AS media_id, 'text/plain' AS media_type,
        | CAST(strlen(text) AS BIGINT) AS n_bytes,
        | md5(text) AS checksum,
        | CAST(1 + strlen(text) % 640 AS BIGINT) AS width,
        | CAST(1 + strlen(text) % 480 AS BIGINT) AS height
        |FROM documents""".stripMargin) {
      (s, dir) =>
        Multimodal.extractFeaturesSql(Multimodal.asMedia(Tables(s, dir).documents))
    })
}
