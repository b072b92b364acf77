package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Tables._

/** Text-analysis operators over the document corpus: token statistics,
  * quality scoring, language-ID heuristic, canonical fingerprinting,
  * regex (BPE-ish) token counting. All per-document map-side work — no
  * shuffle except the fingerprint group — so they scale linearly.
  */
object TextOps {

  /** Token counting + distinct-token stats. */
  val textTokenStats: Q = (s, dir) =>
    t(s, dir, "documents")
      .withColumn("tk", split(col("text"), " "))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        size(array_distinct(col("tk"))).cast("long").as("n_distinct"),
        length(col("text")).cast("long").as("n_chars_calc"),
        (expr("aggregate(transform(tk, x -> length(x)), 0, (acc, x) -> acc + x)")
          .cast("double") / size(col("tk"))).as("avg_tok_len"))

  /** Quality scoring: stopword ratio, lexical diversity, length gates. */
  val textQuality: Q = (s, dir) =>
    t(s, dir, "documents")
      .withColumn("tk", split(col("text"), " "))
      .withColumn("n_tokens", size(col("tk")).cast("long"))
      .withColumn("n_stop",
        expr("size(filter(tk, x -> x = 'the' or x = 'a' or x = 'of'))").cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("n_stop"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stop_ratio"),
        (size(array_distinct(col("tk"))).cast("double") / size(col("tk"))).as("diversity"),
        when(col("n_tokens") >= 20 && col("n_tokens") <= 80, 1).otherwise(0).as("len_ok"))

  /** Language-ID heuristic: stopword-marker votes per language with a
    * deterministic priority order (en > de > fr > und). */
  val textLangid: Q = (s, dir) =>
    t(s, dir, "documents")
      .withColumn("tk", split(col("text"), " "))
      .withColumn("n_en", expr("size(filter(tk, x -> x = 'the' or x = 'a'))").cast("long"))
      .withColumn("n_de", expr("size(filter(tk, x -> x = 'der' or x = 'die'))").cast("long"))
      .withColumn("n_fr", expr("size(filter(tk, x -> x = 'le' or x = 'la'))").cast("long"))
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        col("n_en"), col("n_de"), col("n_fr"),
        when(col("n_en") >= col("n_de") && col("n_en") >= col("n_fr") && col("n_en") > 0, "en")
          .when(col("n_de") >= col("n_fr") && col("n_de") > 0, "de")
          .when(col("n_fr") > 0, "fr")
          .otherwise("und").as("pred_lang"))

  /** Language-ID confusion matrix — the evaluation an n-gram/stopword
    * language classifier ships with: predicted vs labeled counts and
    * per-label recall share. Derives from [[textLangid]]'s verdicts;
    * two small aggregations and a label-keyed join (the matrix is
    * |langs|² rows — driver-safe at any corpus size). recall6 is a
    * single division of exact counts. */
  val textLangidConfusion: Q = (s, dir) => {
    val pred = textLangid(s, dir).select("doc_id", "labeled_lang", "pred_lang")
    val cells = pred.groupBy("labeled_lang", "pred_lang").agg(count(lit(1)).as("n"))
    val totals = pred.groupBy("labeled_lang").agg(count(lit(1)).as("n_labeled"))
    cells.join(totals, "labeled_lang")
      .select(col("labeled_lang"), col("pred_lang"), col("n"),
        round(col("n").cast("double") / col("n_labeled"), 6).as("recall6"))
  }

  /** Canonical fingerprint (sorted distinct token bag → md5) with group
    * sizes — bag-of-words near-dup detection. */
  val textFingerprint: Q = (s, dir) =>
    t(s, dir, "documents")
      .withColumn("fp",
        md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " "))))))
      .groupBy("fp")
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n"))

  /** C4-style line-level quality filtering (Raffel et al. 2020 §2.2:
    * drop short/junk lines, keep the document if useful lines remain).
    * The fixture corpus carries no newlines (checked: 0 docs contain
    * '\n'), which would make the rule vacuous — so the operator first
    * derives a LINE-STRUCTURED corpus deterministically in-query
    * (newline before every interior 'the' token via plain left-to-right
    * replace — identical in both engines), then applies the rule. The
    * derivation is the harness; the filter chain is the operator under
    * test. Entirely per-row map-side work (split → filter → rejoin in
    * one projection, zero Exchange), so it scales linearly and fuses
    * into whole-stage codegen — the shape line-rules must have when the
    * corpus is 100 TB. The fixture has no punctuation either, so the
    * token-count gate stands in for C4's terminal-punctuation rule
    * (same per-line shape, different predicate). */
  val textLineFilterC4: Q = (s, dir) =>
    t(s, dir, "documents")
      .withColumn("aug", replace(col("text"), lit(" the "), lit("\nthe ")))
      .withColumn("lines", split(col("aug"), "\n"))
      .withColumn("kept", expr("filter(lines, l -> size(split(l, ' ')) >= 5)"))
      .select(col("doc_id"),
        size(col("lines")).cast("long").as("n_lines"),
        size(col("kept")).cast("long").as("n_kept"),
        md5(array_join(col("kept"), "\n")).as("clean_md5"))

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "555-[0-9]{4}"

  /** PII scrubbing: redact emails/phone patterns with typed placeholders
    * and count what was removed — the audit trail a compliance pipeline
    * keeps. The fixture corpus carries no PII (it is synthetic tokens),
    * so the operator plants deterministic doc_id-derived contact strings
    * first (the harness), then scrubs them (the operator). Patterns use
    * the regex intersection Java and RE2 agree on (char classes,
    * bounded/unbounded repetition — no lookarounds, which RE2 lacks).
    * Per-row map-side regex work only; at 100 TB this is the same
    * linear single-pass shape as the quality scorers. */
  val textPiiScrub: Q = (s, dir) =>
    t(s, dir, "documents")
      .withColumn("aug", concat(col("text"),
        lit(" Contact user"), col("doc_id").cast("string"), lit("@example.com"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" or admin"), col("doc_id").cast("string"), lit("@mail.test")))
          .otherwise(lit("")),
        lit(" call 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .select(col("doc_id"),
        size(regexp_extract_all(col("aug"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("aug"), lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
        md5(regexp_replace(regexp_replace(col("aug"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>")).as("scrub_md5"))

  /** Regex (BPE-ish) token counting — identical char-class semantics in
    * Java regex and RE2. */
  val tokenRegexCount: Q = (s, dir) =>
    t(s, dir, "documents").select(col("doc_id"),
      regexp_count(col("text"), lit("[a-z]+")).cast("long").as("n_alpha"),
      regexp_count(col("text"), lit("[0-9]+")).cast("long").as("n_num"),
      regexp_count(col("text"), lit("[a-z]{5,}")).cast("long").as("n_long"))

  /** Document frequency per token via salted two-stage holistic
    * aggregation: stage 1 groups on (token, doc_id % 16) so a hot token's
    * doc set is built on 16 partitions in parallel; stage 2 merges. For
    * algebraic aggs the map-side combiner already handles skew — the
    * salt matters exactly for holistic state like distinct-sets, which is
    * what document frequency is. Results are identical to the unsalted
    * form (the oracle computes it directly). */
  val tokenDocFreqSalted: Q = (s, dir) => {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tk"))
    toks
      .withColumn("salt", pmod(col("doc_id"), lit(16)))
      .groupBy("tk", "salt")
      .agg(count(lit(1)).as("partial_df"))
      .groupBy("tk")
      .agg(sum(col("partial_df")).cast("long").as("df"))
  }

  /** The curation capstone: every per-document signal the pipeline
    * produces — exact-dedup representative, language, quality gates —
    * composed into one keep/drop verdict per document, the way a real
    * training-data job ends. One shuffle total (the fingerprint window
    * for representative election); every other signal is map-side, so
    * the composition costs no more than its most expensive member. */
  val corpusCuration: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val byFp = Window.partitionBy(md5(col("text")))
    val base = t(s, dir, "documents")
    // All four marker counts (stopwords + the three language votes) come
    // from ONE token_tf map pass + O(1) lookups when the native
    // expression is registered; the fallback is the four-HOF-scan idiom
    // the oracle mirrors. Counts are identical by construction (token_tf
    // counts every occurrence with split-on-single-space semantics), so
    // the two paths cannot diverge.
    val counted =
      if (s.catalog.functionExists("token_tf"))
        base.withColumn("m", expr("token_tf(text)"))
          .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
          .withColumn("n_stop",
            expr("coalesce(m['the'], 0) + coalesce(m['a'], 0) + coalesce(m['of'], 0)").cast("long"))
          .withColumn("n_en", expr("coalesce(m['the'], 0) + coalesce(m['a'], 0)").cast("long"))
          .withColumn("n_de", expr("coalesce(m['der'], 0) + coalesce(m['die'], 0)").cast("long"))
          .withColumn("n_fr", expr("coalesce(m['le'], 0) + coalesce(m['la'], 0)").cast("long"))
      else
        base.withColumn("tk", split(col("text"), " "))
          .withColumn("n_tokens", size(col("tk")).cast("long"))
          .withColumn("n_stop",
            expr("size(filter(tk, x -> x = 'the' or x = 'a' or x = 'of'))").cast("long"))
          .withColumn("n_en", expr("size(filter(tk, x -> x = 'the' or x = 'a'))").cast("long"))
          .withColumn("n_de", expr("size(filter(tk, x -> x = 'der' or x = 'die'))").cast("long"))
          .withColumn("n_fr", expr("size(filter(tk, x -> x = 'le' or x = 'la'))").cast("long"))
    counted
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("len_ok", when(col("n_tokens").between(20, 80), 1).otherwise(0))
      .withColumn("pred_lang",
        when(col("n_en") >= col("n_de") && col("n_en") >= col("n_fr") && col("n_en") > 0, "en")
          .when(col("n_de") >= col("n_fr") && col("n_de") > 0, "de")
          .when(col("n_fr") > 0, "fr")
          .otherwise("und"))
      .withColumn("is_rep",
        when(col("doc_id") === min(col("doc_id")).over(byFp), 1).otherwise(0))
      .withColumn("keep",
        when(col("is_rep") === 1 && col("len_ok") === 1
          && col("pred_lang") =!= "und" && col("stop_ratio") <= 0.5, 1).otherwise(0))
      .select("doc_id", "pred_lang", "n_tokens", "stop_ratio", "len_ok", "is_rep", "keep")
  }

  /** Rare-token ratio — the IDF-flavored quality signal: the fraction
    * of a document's DISTINCT tokens whose corpus document-frequency is
    * <= 2. High ratio = vocabulary the rest of the corpus doesn't share
    * (gibberish, OCR noise, boilerplate IDs); near-zero = nothing but
    * common words. Two shuffles total: the df aggregation and the
    * token↔df join (joined on the token — at 100 TB the vocabulary
    * table is itself large, so the equi-join on token IS the scale
    * shape; a broadcast would only apply to a capped stop-list). */
  val textRareRatio: Q = (s, dir) => {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tk"))
    val dfTable = toks.groupBy("tk").agg(count(lit(1)).as("df"))
    toks.join(dfTable, "tk")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_distinct"),
        count(when(col("df") <= 2, 1)).as("n_rare"))
      .select(col("doc_id"), col("n_distinct"), col("n_rare"),
        (col("n_rare").cast("double") / col("n_distinct")).as("rare_ratio"))
  }

  /** Top-K selection size for DSIR importance resampling. */
  private[graft] val DsirTopK = 100

  /** DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much its unigram distribution looks like a TARGET
    * domain (here lang='en' — the domain label the corpus carries)
    * versus the RAW corpus, then keep the top-[[DsirTopK]]. Weight of a
    * word = ln of the ratio of its Laplace-smoothed (+1, shared vocab V)
    * instance probabilities under target vs raw; a document's score is
    * the sum over its token INSTANCES.
    *
    * Scale shape: two vocabulary-sized count aggregations, a 1-row
    * totals aggregate broadcast onto the vocab table, then ONE
    * broadcast-sized equi-join of the token stream against the weighted
    * vocab and a per-doc aggregation — the same shape as
    * [[textRareRatio]]. The final top-K is `orderBy().limit()` —
    * planned as TakeOrderedAndProject, never a single-partition global
    * window. Per-instance weight is divisions + one ln (exact-parity
    * class as [[textBigramLogprob]]); the per-doc sum is accumulated
    * floats → round-6. */
  val corpusImportanceDsir: Q = (s, dir) => {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("w"))
    val vocab = toks.groupBy("w").agg(
      count(lit(1)).as("n_all"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
    val tot = vocab.agg(
      sum(col("n_all")).as("t_all"), sum(col("n_en")).as("t_en"),
      count(lit(1)).as("vsz"))
    val weights = vocab.crossJoin(broadcast(tot))
      .select(col("w"),
        log(((col("n_en") + 1).cast("double") / (col("t_en") + col("vsz")))
          / ((col("n_all") + 1).cast("double") / (col("t_all") + col("vsz")))).as("lw"))
    toks.join(weights, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), round(sum(col("lw")), 6).as("dsir6"))
      .orderBy(col("dsir6").desc, col("doc_id"))
      .limit(DsirTopK)
  }

  /** CCNet-style perplexity bucketing: split the corpus into
    * head/middle/tail thirds by language-model score (here the corpus
    * bigram LM of [[textBigramLogprob]] — higher avg log-prob = lower
    * perplexity = head). CCNet keeps head+middle and drops the tail;
    * emitting the bucket label keeps that decision downstream. The
    * thresholds are the corpus 33rd/67th percentiles — ONE 2-value
    * row computed by a global aggregate and broadcast back onto the
    * per-doc scores (the same 1-row-stats shape as BM25): no global
    * sort, no NTILE window. The exact `percentile` here is holistic
    * (its final agg buffers every per-doc score — 8 bytes × #docs in
    * one task); it is the oracle-parity form, and at 100 TB the
    * one-line swap is `approx_percentile(., ., accuracy)` with the
    * identical plan shape (t-digest-style mergeable state, no
    * funnel) — the same exact/approx twin policy as
    * `approx_distinct`. Threshold comparisons happen between round-6
    * values on both engines, so a last-ulp interpolation difference
    * cannot flip a bucket unless the rounded thresholds themselves
    * differ. */
  val textPerplexityBucket: Q = (s, dir) => {
    // r20: the per-doc score table feeds the threshold aggregate AND
    // the bucket assignment; without the persist the whole bigram-LM
    // subplan executed twice (the AQE stage reuse that sometimes
    // unified the doc-aggregation exchange is not reliable — measured
    // both ways). doc-sized narrow rows: (doc_id, double).
    val lp = textBigramLogprob(s, dir).select("doc_id", "avg_logprob6").persist()
    val th = lp.agg(
      round(expr("percentile(avg_logprob6, 0.33D)"), 6).as("t33"),
      round(expr("percentile(avg_logprob6, 0.67D)"), 6).as("t67"))
    lp.crossJoin(broadcast(th))
      .select(col("doc_id"), col("avg_logprob6"),
        when(col("avg_logprob6") >= col("t67"), "head")
          .when(col("avg_logprob6") >= col("t33"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Accuracy knob for [[textPerplexityBucketApprox]]: rank error ≤
    * n/accuracy, so at corpus scale the bucket boundary is off by at
    * most 0.01% of documents; at test scale (n < accuracy) the sketch
    * holds every value and the only divergence from the exact twin is
    * interpolation-vs-sample-value at the two thresholds (≤ 1 doc per
    * boundary — PerplexityApproxSpec pins it). */
  private[graft] val PerplexityApproxAccuracy = 10000

  /** The 100 TB form of [[textPerplexityBucket]]: `approx_percentile`
    * (Greenwald–Khanna sketch, mergeable partial aggregation) replaces
    * exact `percentile`, whose final aggregation is holistic — it must
    * collect every value per group, which at corpus scale is the one
    * non-scalable step in the exact twin. Same exact/approx twin
    * policy as `agg_distinct`/`approx_distinct`: the exact twin IS the
    * oracle-checked entry; this one is rows-only by design (sketch
    * internals are engine-specific) with its accuracy bounded against
    * the exact twin in PerplexityApproxSpec. */
  val textPerplexityBucketApprox: Q = (s, dir) => {
    // r20: same lp persist as the exact twin (two references).
    val lp = textBigramLogprob(s, dir).select("doc_id", "avg_logprob6").persist()
    val th = lp.agg(
      round(expr(s"approx_percentile(avg_logprob6, 0.33D, $PerplexityApproxAccuracy)"), 6).as("t33"),
      round(expr(s"approx_percentile(avg_logprob6, 0.67D, $PerplexityApproxAccuracy)"), 6).as("t67"))
    lp.crossJoin(broadcast(th))
      .select(col("doc_id"), col("avg_logprob6"),
        when(col("avg_logprob6") >= col("t67"), "head")
          .when(col("avg_logprob6") >= col("t33"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** EXACT top-percentile selection without a global sort — the
    * QUANTILE member of the screen-then-confirm family (bloom
    * decontamination / CMS heavy hitters / this): select the exact top
    * 1% of documents by length (tie-break doc_id) while sorting only a
    * sketch-bounded candidate slice. Screen: `approx_percentile` at
    * 0.985 with rank error ≤ n/10000 yields a boundary b of true rank
    * ≥ 0.9849n, so {len ≥ b} ⊇ the exact top 1% (whose k-th row sits
    * at rank ≥ 0.99n); the top-k then orders CANDIDATES only (~1.5% of
    * the corpus, more on a tie plateau — which widens the superset,
    * never breaks it). The sketch affects WHICH superset is sorted,
    * never the result — so unlike the rows-only `_approx` twins this
    * entry hash-checks against the exact oracle (screen+confirm ≡
    * exact, a gate theorem like bloom's and CMS's). The superset
    * guarantee is ASSERTED at runtime, so a sketch regression fails
    * loudly instead of silently truncating the selection. At 100 TB:
    * one combined (count, sketch) pass, one filtered scan, top-k over
    * the slice — vs the full-corpus global sort NTILE-style selection
    * would pay. */
  val quantileSelectExact: Q = (s, dir) =>
    quantileTopFraction(
      t(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).cast("long").as("len")),
      "len", "doc_id")

  /** The screen-confirm selection kernel behind [[quantileSelectExact]],
    * extracted so QuantilePlateauSpec can drive it with adversarial
    * distributions (a massive tie plateau straddling the boundary
    * widens the candidate superset — correct by argument, and the spec
    * executes the argument). `frac` = the top fraction selected
    * exactly; `screenP` must satisfy 1 − screenP > frac + rank-error
    * (n/accuracy) for the superset guarantee. */
  private[graft] def quantileTopFraction(data: DataFrame,
      valueCol: String, idCol: String, frac: Double = 0.01,
      screenP: Double = 0.985): DataFrame = {
    val st = data.agg(count(lit(1)).as("n"),
      expr(s"approx_percentile($valueCol, ${screenP}D, 10000)").as("b")).head()
    // an empty input (or an all-null value column) has no percentile
    // boundary: fail with the kernel's own loud contract instead of an
    // opaque NPE from getLong on the null sketch result
    require(st.getLong(0) > 0 && !st.isNullAt(1),
      s"quantile selection needs rows with non-null $valueCol (n=${st.getLong(0)})")
    val (n, b) = (st.getLong(0), st.getLong(1))
    val k = math.max(1L, math.ceil(n * frac).toLong)
    // limit() takes an Int: past ~214 G selected rows .toInt would wrap
    // NEGATIVE and silently corrupt the selection (the round-8 pushdown
    // overflow class) — fail loudly instead; a selection that large
    // should be a filtered write, not a driver-bounded top-k
    require(k <= Int.MaxValue, s"k=$k exceeds the top-k limit; use a filtered write")
    val cands = data.filter(col(valueCol) >= b)
    val nCands = cands.count()
    require(nCands >= k,
      s"quantile screen must be a superset: $nCands candidates < k=$k (n=$n, b=$b)")
    cands.orderBy(col(valueCol).desc, col(idCol)).limit(k.toInt)
  }

  /** Plateau-aware twin of [[quantileTopFraction]] — SAME exact result
    * (the catalog twin shares the exact entry's oracle, so equivalence
    * is a gate theorem), strictly better cost bound: the simple kernel
    * sorts the whole `{v ≥ b}` slice, which a tie plateau straddling
    * the boundary inflates to O(table) (QuantilePlateauSpec's 50%
    * plateau). Here candidates split at the boundary value: `A =
    * {v > b}` is bounded by the screen guarantee REGARDLESS of plateau
    * mass (the plateau sits at b, outside A), so A sorts cheaply; if A
    * alone cannot fill k, the remaining rows all TIE at b and only the
    * (k − |A|) smallest ids are taken from the plateau — a TakeOrdered
    * by the narrow id column, never a value-sort of the plateau. */
  private[graft] def quantileTopFractionPlateauAware(data: DataFrame,
      valueCol: String, idCol: String, frac: Double = 0.01,
      screenP: Double = 0.985): DataFrame = {
    val st = data.agg(count(lit(1)).as("n"),
      expr(s"approx_percentile($valueCol, ${screenP}D, 10000)").as("b")).head()
    require(st.getLong(0) > 0 && !st.isNullAt(1),
      s"quantile selection needs rows with non-null $valueCol (n=${st.getLong(0)})")
    val (n, b) = (st.getLong(0), st.getLong(1))
    val k = math.max(1L, math.ceil(n * frac).toLong)
    require(k <= Int.MaxValue, s"k=$k exceeds the top-k limit; use a filtered write")
    val above = data.filter(col(valueCol) > b)
    val nAbove = above.count()
    if (nAbove >= k)
      above.orderBy(col(valueCol).desc, col(idCol)).limit(k.toInt)
    else {
      val plateau = data.filter(col(valueCol) === b)
      val need = (k - nAbove).toInt
      require(plateau.count() >= need,
        s"screen must be a superset: |A|=$nAbove + plateau < k=$k (n=$n, b=$b)")
      above.orderBy(col(valueCol).desc, col(idCol))
        .unionByName(plateau.orderBy(col(idCol)).limit(need))
    }
  }

  private lazy val quantileSelectOracle: String =
    """WITH d AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS len
                  FROM documents)
       SELECT doc_id, len FROM (
         SELECT doc_id, len,
           row_number() OVER (ORDER BY len DESC, doc_id) AS rk
         FROM d)
       WHERE rk <= (SELECT CAST(ceil(COUNT(*) / 100.0) AS BIGINT) FROM d)"""

  /** GROUPED screen-then-confirm selection — the per-language form of
    * [[quantileTopFraction]] (a real curation stage: keep each
    * language's longest 1%, so low-resource languages are not drowned
    * by the head language's length distribution). Thin catalog wrapper
    * over [[quantileTopFractionByGroup]]; null lengths (null text) are
    * excluded by the kernel before k is counted, so the oracle filters
    * them identically. */
  val quantileSelectByLang: Q = (s, dir) =>
    quantileTopFractionByGroup(
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), length(col("text")).cast("long").as("len")),
      "lang", "len", "doc_id")

  /** The grouped kernel: exact per-group top-⌈n_g·frac⌉ by
    * (value desc, id), composing the two scale mechanisms this family
    * already proved separately — [[stratifiedSample]]'s SALTED
    * TWO-STAGE top-k and [[quantileTopFractionPlateauAware]]'s
    * split-at-the-boundary plateau handling — so that NO window ever
    * runs over a group's candidate slice (the round-9 `weak`: a window
    * partition cannot be split WITHIN a key, and the head language's
    * ≥b slice is linear in corpus size; a boundary plateau makes it
    * O(language) regardless of the screen).
    *
    * Shape: (1) per-group (n, boundary) from ONE grouped
    * (count, approx_percentile) pass, materialized ONCE driver-side
    * (approx_percentile merges summaries in shuffle-fetch order, so a
    * lazily re-evaluated bounds table could give the guard a different
    * boundary than the returned plan) and broadcast back; (2) one
    * corpus pass counts each group's strictly-above slice |A_g| and
    * boundary plateau — the per-group superset guard (|A_g| + plateau
    * ≥ k_g) asserted driver-side like the ungrouped kernel's; (3)
    * stage-1 windows partitioned by (group, id-hash salt) take the
    * local top-k of A_g — the screen bounds |A_g| but a SALT CELL is
    * what bounds any single task's sort — and, only for groups where
    * |A_g| < k_g, the (k_g − |A_g|) smallest ids AT the boundary value
    * (an id-only rank: the plateau is never value-sorted, its mass
    * never enters any window); (4) the stage-2 merge window partitions
    * by group over ≤ salts·k_g survivors — output-sized, independent
    * of corpus and plateau mass — and assigns the final ranks. Every
    * above-row with global rank ≤ k survives stage 1 (cell rank never
    * exceeds group rank) and every selected plateau row has id-rank
    * ≤ need in its cell, so the merge sees the exact top-k and ranks
    * it globally — identical output to the single-window oracle.
    * QuantilePlateauSpec drives the plateau-straddles-one-group shape;
    * PlanShapeSpec pins the salted stage-1 partitioning. */
  private[graft] def quantileTopFractionByGroup(data0: DataFrame,
      grpCol: String, valueCol: String, idCol: String, frac: Double = 0.01,
      screenP: Double = 0.985, salts: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = data0.sparkSession
    import s.implicits._
    // a null value can never rank: exclude it BEFORE n is counted, so
    // k reflects selectable rows and an all-null group selects nothing
    // instead of tripping the superset guard (round-9 ADVICE)
    val data = data0.filter(col(valueCol).isNotNull)
    val boundRows = data.groupBy(grpCol).agg(
      count(lit(1)).as("n"),
      expr(s"approx_percentile($valueCol, ${screenP}D, 10000)").as("b")).collect()
    val boundSeq = boundRows.map { r =>
      val k = math.max(1L, math.ceil(r.getLong(1) * frac).toLong)
      require(k <= Int.MaxValue,
        s"k=$k for group ${r.get(0)} exceeds the top-k limit; use a filtered write")
      (r.getString(0), r.getLong(2), k) // b is non-null: nulls filtered above
    }.toSeq
    val bounds = boundSeq.toDF(grpCol, "b", "k")
    val withB = data.join(broadcast(bounds), Seq(grpCol))
    // one corpus pass for the guard AND the plateau need: per group,
    // the strictly-above count and the boundary-plateau count
    val cc = withB.groupBy(grpCol).agg(
      count(when(col(valueCol) > col("b"), 1)).as("na"),
      count(when(col(valueCol) === col("b"), 1)).as("npl")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val needs = boundSeq.flatMap { case (g, _, k) =>
      val (na, npl) = cc.getOrElse(g, (0L, 0L))
      require(na + npl >= k,
        s"grouped quantile screen must be a superset per group: $g has " +
          s"above=$na + plateau=$npl < k=$k")
      if (na < k) Some((g, k - na)) else None
    }
    val salt = pmod(hash(col(idCol)), lit(salts))
    val w1a = Window.partitionBy(col(grpCol), salt)
      .orderBy(col(valueCol).desc, col(idCol))
    val aboveSurv = withB.filter(col(valueCol) > col("b"))
      .withColumn("r1", row_number().over(w1a).cast("long"))
      .filter(col("r1") <= col("k")).drop("r1")
    val surv =
      if (needs.isEmpty) aboveSurv
      else {
        val needDf = needs.toDF(grpCol, "need")
        val w1p = Window.partitionBy(col(grpCol), salt).orderBy(col(idCol))
        val plateauSurv = withB.filter(col(valueCol) === col("b"))
          .join(broadcast(needDf), Seq(grpCol))
          .withColumn("r1", row_number().over(w1p).cast("long"))
          .filter(col("r1") <= col("need")).drop("r1", "need")
        aboveSurv.unionByName(plateauSurv)
      }
    val w2 = Window.partitionBy(grpCol).orderBy(col(valueCol).desc, col(idCol))
    surv.withColumn("rk", row_number().over(w2).cast("long"))
      .filter(col("rk") <= col("k"))
      .select(col(grpCol), col(idCol), col(valueCol), col("rk"))
  }

  /** The catalog twin: plateau-aware selection over the same document
    * lengths — shares [[quantileSelectExact]]'s oracle verbatim. */
  val quantileSelectPlateau: Q = (s, dir) =>
    quantileTopFractionPlateauAware(
      t(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).cast("long").as("len")),
      "len", "doc_id")

  /** Trigram LM with Stupid Backoff (Brants et al. 2007, "Large
    * Language Models in Machine Translation") scored on a HELD-OUT
    * hash split — the upgrade of [[textBigramLogprob]]'s quality
    * filter that actually exercises backoff: scoring the training
    * corpus itself never meets an unseen n-gram, so eval docs
    * (md5 mod 5 == 0, ~20%) are scored against counts from the other
    * 80% and every backoff level fires. Per trigram:
    * S = c3/c2(w1w2) when seen, else 0.4·c2(w2w3)/c1(w2), else
    * 0.4²·add-1-unigram (always defined). Numeric parity: each ln(S)
    * is micro-rounded to BIGINT (the nb-classify discipline — per-doc
    * sums are order-free across partitions and engines), the final avg
    * is ONE division rounded 6, and the per-level hit counts ride
    * along as exact integers (the observable that shows backoff
    * firing). Plan: the n-gram tables are the LM model — three
    * grouped counts over the train split — and scoring is five
    * equi-joins of the eval trigrams against them; at 100 TB the
    * model tables are bucketed by their n-gram key (or broadcast for
    * pruned vocabularies) and scoring is the same join shape. */
  val textTrigramBackoff: Q = (s, dir) => {
    val d = trigramDocs(t(s, dir, "documents"))
    val (uni, bi, tri) = trigramModel(d.filter(!col("is_eval")))
    val tot = uni.agg(sum(col("c1")).as("n"), count(lit(1)).as("v"))
    trigramScore(trigramEvalGrams(d.filter(col("is_eval"))), uni, bi, tri, tot)
  }

  /** (doc_id, tokens, is_eval) rows for the trigram family — the
    * held-out hash split shared by the inline entry and the persisted
    * index pair below. */
  private[graft] def trigramDocs(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("t"))
      .withColumn("is_eval", expr(
        "pmod(cast(conv(substring(md5(cast(doc_id as string)), 1, 13), 16, 10) as bigint), 5) = 0"))

  /** The LM model: the three n-gram count tables over the train split.
    * These ARE the trainable state — at 100 TB they persist bucketed by
    * their n-gram key ([[writeNgramIndex]]) exactly like the retrieval
    * vocabulary, so scoring runs never re-aggregate the corpus. */
  private[graft] def trigramModel(train: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val uni = train.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val bi = train.filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 1), i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))")).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("c2"))
    val tri = train.filter(size(col("t")) >= 3)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 2), i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2, element_at(t, i + 2) AS w3))")).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"), col("p.w3").as("w3"))
      .agg(count(lit(1)).as("c3"))
    (uni, bi, tri)
  }

  /** Per-document eval trigrams (doc_id, w1, w2, w3). */
  private[graft] def trigramEvalGrams(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ev.filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 2), i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2, element_at(t, i + 2) AS w3))")).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"), col("p.w3"))

  /** The Stupid-Backoff scoring plan over prepared model tables — five
    * equi-joins + the per-document micro-rounded aggregate. Extracted
    * so the inline entry and [[trigramAgainstIndex]] run the SAME
    * scoring code over differently-sourced models (inline aggregates
    * vs persisted bucketed tables): equivalence between the two is
    * then a property of the model tables alone, which BucketingSpec
    * checks row-for-row. */
  private[graft] def trigramScore(g: org.apache.spark.sql.DataFrame,
      uni: org.apache.spark.sql.DataFrame, bi: org.apache.spark.sql.DataFrame,
      tri: org.apache.spark.sql.DataFrame, tot: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val scored = g
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(bi.withColumnRenamed("c2", "c12"), Seq("w1", "w2"), "left")
      .join(bi.select(col("w1").as("w2"), col("w2").as("w3"), col("c2").as("c23")),
        Seq("w2", "w3"), "left")
      .join(uni.select(col("w").as("w2"), col("c1").as("c1w2")), Seq("w2"), "left")
      .join(uni.select(col("w").as("w3"), col("c1").as("c1w3")), Seq("w3"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        expr("CASE WHEN c3 IS NOT NULL THEN 3 WHEN c23 IS NOT NULL THEN 2 ELSE 1 END")
          .as("lvl"),
        expr("""CAST(round(ln(
             CASE WHEN c3 IS NOT NULL THEN c3 / CAST(c12 AS DOUBLE)
                  WHEN c23 IS NOT NULL THEN 0.4D * c23 / CAST(c1w2 AS DOUBLE)
                  ELSE 0.16D * (COALESCE(c1w3, 0) + 1) / CAST(n + v AS DOUBLE)
             END) * 1000000, 0) AS BIGINT)""").as("micro"))
    scored.groupBy("doc_id").agg(
      count(lit(1)).as("n_tri"),
      count(when(col("lvl") === 3, 1)).as("hits3"),
      count(when(col("lvl") === 2, 1)).as("hits2"),
      count(when(col("lvl") === 1, 1)).as("hits1"),
      round(sum(col("micro")).cast("double") /
        (lit(1000000.0) * count(lit(1))), 6).as("avg_sb6"))
  }

  /** Persist the trigram LM as four tables, the three n-gram count
    * tables BUCKETED by their n-gram join key plus the one-row totals —
    * the [[writeVocabIndex]] move for the LM family. At 100 TB the
    * model tables are themselves large (observed n-grams are
    * corpus-bounded) and recomputed identically by every scoring run;
    * persisting them bucketed makes each scoring pass (a) skip the
    * three corpus-wide model aggregations and (b) read the model side
    * of every scoring join in place with NO exchange (BucketingSpec
    * pins the shuffle-free scan; the `bi` table serves BOTH the
    * (w1,w2) context probe and the renamed (w2,w3) backoff probe from
    * the same buckets, since rename preserves the bucket-column
    * lineage). Refresh is a batch job, exactly like the band and
    * vocab indexes. Tables land under `<prefix>_{uni,bi,tri,tot}`. */
  def writeNgramIndex(docs: org.apache.spark.sql.DataFrame, prefix: String,
      buckets: Int = 8): Unit = {
    val (uni, bi, tri) = trigramModel(trigramDocs(docs).filter(!col("is_eval")))
    uni.write.mode("overwrite").bucketBy(buckets, "w").sortBy("w")
      .saveAsTable(s"${prefix}_uni")
    bi.write.mode("overwrite").bucketBy(buckets, "w1", "w2").sortBy("w1", "w2")
      .saveAsTable(s"${prefix}_bi")
    tri.write.mode("overwrite").bucketBy(buckets, "w1", "w2", "w3")
      .sortBy("w1", "w2", "w3").saveAsTable(s"${prefix}_tri")
    docs.sparkSession.table(s"${prefix}_uni")
      .agg(sum(col("c1")).as("n"), count(lit(1)).as("v"))
      .write.mode("overwrite").saveAsTable(s"${prefix}_tot")
  }

  /** Stupid-Backoff scoring probing a persisted [[writeNgramIndex]]
    * model: identical scores to [[textTrigramBackoff]] (same split,
    * same five-join scoring code — [[trigramScore]] is shared) with
    * every model-side join input coming from the bucketed tables
    * instead of inline corpus aggregations. The probed `docs` may be
    * any batch (a new crawl scored against yesterday's LM). */
  def trigramAgainstIndex(s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame, prefix: String): org.apache.spark.sql.DataFrame =
    trigramScore(
      trigramEvalGrams(trigramDocs(docs).filter(col("is_eval"))),
      s.table(s"${prefix}_uni"), s.table(s"${prefix}_bi"),
      s.table(s"${prefix}_tri"), s.table(s"${prefix}_tot"))

  /** The stale-model serving semantics as a driver-gated entry: a NEW
    * batch — the eval-split documents, each carrying one injected
    * out-of-vocabulary token (`zzq<doc_id>`, deterministic on both
    * engines) — scored IN FULL against the train-split model. Unlike
    * [[textTrigramBackoff]] the batch is not re-split (every document
    * scores, the [[trigramScoreNewBatch]] contract) and every document
    * is guaranteed to exercise the wholly-unseen-word floor: its final
    * trigram ends in a token no model table contains, so the unigram
    * level fires with c1(w3) = NULL and the add-1 COALESCE is what the
    * DuckDB hash-match certifies. Model source here is the inline
    * aggregation; equivalence to the persisted bucketed index is
    * BucketingSpec's row-for-row model-table check, and the all-OOV
    * totality bound is TrigramIndexSpec's. */
  val textTrigramStaleBatch: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val d = trigramDocs(docs)
    val (uni, bi, tri) = trigramModel(d.filter(!col("is_eval")))
    val tot = uni.agg(sum(col("c1")).as("n"), count(lit(1)).as("v"))
    val batch = d.filter(col("is_eval"))
      .select(col("doc_id"),
        concat(col("t"),
          array(concat(lit("zzq"), col("doc_id").cast("string")))).as("t"))
    trigramScore(trigramEvalGrams(batch), uni, bi, tri, tot)
  }

  /** Score a NEW batch in full against a stale persisted model — the
    * serving path [[trigramAgainstIndex]]'s eval-split twin does not
    * cover: today's crawl scored by yesterday's LM, so EVERY document
    * scores (no held-out split — the batch is disjoint from training
    * by construction) and vocabulary the model has never seen must
    * degrade gracefully. Staleness semantics are already total in
    * [[trigramScore]]: an unseen trigram backs off to the bigram, an
    * unseen bigram to the add-1 unigram, and a wholly-unseen WORD
    * bottoms out at the +1 floor over (n + v) — every score is defined
    * and finite, which TrigramIndexSpec pins on an
    * all-out-of-vocabulary batch. */
  def trigramScoreNewBatch(s: org.apache.spark.sql.SparkSession,
      batch: org.apache.spark.sql.DataFrame, prefix: String): org.apache.spark.sql.DataFrame =
    trigramScore(
      trigramEvalGrams(batch.select(col("doc_id"), split(col("text"), " ").as("t"))),
      s.table(s"${prefix}_uni"), s.table(s"${prefix}_bi"),
      s.table(s"${prefix}_tri"), s.table(s"${prefix}_tot"))

  /** Number of BPE merge rounds the in-engine trainer runs. */
  private[graft] val BpeRounds = 3

  /** The BPE word-frequency table: lowercased whitespace tokens
    * stripped to [a-z] (so the `( )` symbol delimiters below can never
    * collide with symbol content), weighted by corpus frequency —
    * classic BPE trains on this table, not on documents, which is why
    * the whole trainer scales with VOCABULARY, not corpus: the one
    * corpus-sized job is this groupBy. */
  private def bpeWords(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(split(lower(col("text")), " ")).as("w"))
      // digits transliterate to letters (a no-op on the digit-free
      // fixture, gate-verified) so digit-bearing vocabularies — the
      // generated corpora — keep their distinctions instead of
      // collapsing; remaining non-letters strip as before. r19: the
      // native bpe_norm does both in one byte pass (exact twin of the
      // translate+regexp pair — BpeSpec parity); regex fallback kept.
      .select((if (s.catalog.functionExists("bpe_norm")) expr("bpe_norm(w)")
        else regexp_replace(
          translate(col("w"), "0123456789", "qwertyuiop"), "[^a-z]", "")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Byte-pair-encoding vocabulary induction (Sennrich et al. 2016) —
    * the tokenizer-training operator an LLM data pipeline runs over its
    * own corpus. Symbol sequences are carried as a `(sym)(sym)…`
    * string: plain `replace` of `(l)(r)` → `(lr)` IS the BPE merge rule
    * (left-to-right, non-overlapping — `(a)(a)(a)(a)` → `(aa)(aa)`),
    * the wrapping parens make cross-symbol false matches impossible,
    * and `replace` behaves identically on both engines, so each round
    * is pure column work. Per round: adjacent-pair counts weighted by
    * word frequency (one vocabulary-sized aggregation), the argmax
    * pair (weight desc, then lexicographic — the deterministic
    * tie-break) collected to the driver like a kmeans centroid, and
    * the merge folded into the running seq expression as a literal
    * replace. Driver state = [[BpeRounds]] string pairs; nothing
    * corpus-sized ever leaves the executors. Oracle: the same rounds
    * unrolled as CTEs (the kmeansCtePrefix discipline). */
  /** seq after applying `merges` in order: every char wrapped
    * (`(.)` → `($1)`), then one literal replace per learned merge. */
  private def bpeSeqCol(merges: Seq[(String, String)]): org.apache.spark.sql.Column =
    merges.foldLeft(regexp_replace(col("word"), "(.)", "($1)")) {
      case (acc, (l, r)) =>
        org.apache.spark.sql.functions.replace(acc, lit(s"($l)($r)"), lit(s"($l$r)"))
    }

  private[graft] def bpeTrain(s: SparkSession, dir: String,
      rounds: Int = BpeRounds): (Seq[(String, String, Long)], DataFrame) = {
    // the word table feeds every round plus the final application —
    // persist it so training costs ONE corpus pass, not rounds+1 (the
    // 100 TB form writes this table once; Verify clears caches between
    // entries)
    val words = bpeWords(s, dir).persist()
    var merges = Seq.empty[(String, String, Long)]
    for (_ <- 1 to rounds) {
      val syms = words
        .select(col("cnt"), bpeSeqCol(merges.map(m => (m._1, m._2))).as("seq"))
        .select(col("cnt"),
          split(expr("substring(seq, 2, length(seq) - 2)"), "\\)\\(").as("ss"))
        .filter(size(col("ss")) >= 2)
      val pairs = syms.select(col("cnt"), explode(expr(
          "transform(sequence(1, size(ss) - 1), i -> struct(element_at(ss, i) AS l, element_at(ss, i + 1) AS r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("w"))
      // SATURATION: when every word is one symbol no pairs remain —
      // classical BPE stops here; return the merges learned so far
      // (found by the round-9 probe: a 3-char saturating vocabulary
      // crashed round 3 with an empty collect)
      pairs.orderBy(col("w").desc, col("l"), col("r")).limit(1)
        .collect().headOption match {
        case Some(b) => merges = merges :+ ((b.getString(0), b.getString(1), b.getLong(2)))
        case None => return (merges, words)
      }
    }
    (merges, words)
  }

  /** The trained merge table — the BPE MODEL, one row per round
    * (1-indexed): which pair won and at what corpus weight. 3 rows,
    * but hash-matching them end-to-end validates every distributed
    * round that produced them (the embedding_kmeans precedent: tiny
    * model, heavyweight provenance). */
  val bpeMerges: Q = (s, dir) => {
    val (merges, _) = bpeTrain(s, dir)
    import s.implicits._
    merges.zipWithIndex
      .map { case ((l, r, w), i) => (i + 1L, l, r, w) }
      .toDF("round", "lhs", "rhs", "pair_weight")
  }

  /** Every vocabulary word segmented by the trained merges — the
    * tokenizer APPLIED: in-row literal replaces, vocabulary-sized
    * output, hash-green across the whole table. At 100 TB the same
    * rendered expression tokenizes the corpus itself as a pure map. */
  val bpeSegment: Q = (s, dir) => {
    val (merges, words) = bpeTrain(s, dir)
    words.select(col("word"), col("cnt"),
      bpeSeqCol(merges.map(m => (m._1, m._2))).as("seg"))
  }

  /** The trained tokenizer applied to the CORPUS — the claim
    * "tokenizes 100 TB as a pure map" made a gate entry: per document,
    * whitespace-split, normalize each token like [[bpeWords]], apply
    * the merge chain in-row (the same char-wrap + literal replaces,
    * rendered INSIDE a higher-order transform so no join touches the
    * corpus), and count BPE symbols as occurrences of the `(` symbol
    * delimiter. Output compares whitespace tokens vs BPE tokens per
    * doc — the compression the learned merges buy. Plan: one Project
    * over the documents scan (training's aggregates ran eagerly in
    * [[bpeTrain]]). */
  /** The merge chain as an expr STRING over `v` (a lambda variable or
    * column name) — THE production rendered tokenizer; BpeProbe and
    * BpeSpec call this same builder so their codegen/cost/fixed-point
    * answers cover exactly what the entries run. */
  private[graft] def bpeChainExpr(merges: Seq[(String, String, Long)],
      v: String = "w", preAtomized: Boolean = false): String =
    merges.foldLeft(
      if (preAtomized) v else s"regexp_replace($v, '(.)', '($$1)')") {
      case (acc, (l, r, _)) => s"replace($acc, '($l)($r)', '($l$r)')"
    }

  val bpeTokenCount: Q = (s, dir) => {
    val (merges, _) = bpeTrain(s, dir)
    val atomized = s.catalog.functionExists("bpe_atomize")
    graft.streaming.DocStreams.bpeTokenizeScreen(t(s, dir, "documents"),
      bpeChainExpr(merges, preAtomized = atomized), atomized)
  }

  /** The tokenizer as an INGEST stream — the THIRTEENTH oracle-checked
    * streaming topology (model-scoring class, like the kmeans and
    * PQ-encode twins): the trained merges ride inside the rendered
    * expression, the stream is stateless and join-free, and the entry
    * shares [[bpeTokenCount]]'s oracle verbatim — the gate pins
    * stream == batch == oracle for tokenization too. */
  val bpeTokenCountStreamTwin: Q = (s, dir) => {
    val (merges, _) = bpeTrain(s, dir)
    val sch = s.read.parquet(s"$dir/documents.parquet").schema
    val stream = s.readStream.schema(sch)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val atomized = s.catalog.functionExists("bpe_atomize")
    val scored = graft.streaming.DocStreams.bpeTokenizeScreen(stream,
      bpeChainExpr(merges, preAtomized = atomized), atomized)
    val sink = "graft_bpe_stream_sink"
    s.catalog.dropTempView(sink)
    val q = scored.writeStream.format("memory").queryName(sink)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    s.table(sink)
  }

  /** Oracle mirror of [[bpeTrain]] + [[bpeSeqCol]]: the merge rounds
    * unrolled as CTEs (the kmeansCtePrefix discipline) — per round the
    * weighted pair counts, the (wt DESC, l, r) argmax, and the literal
    * `replace` merge. DuckDB backreference syntax is `\1` where Spark's
    * is `$1`; `replace`'s left-to-right non-overlapping semantics match
    * on both engines, which is what makes the merge rule portable. */
  private lazy val bpeCtePrefix: String = {
    def round(k: Int): String = {
      val prev = s"s${k - 1}"
      s"""p$k AS (
            SELECT ss[i] AS l, ss[i + 1] AS r, CAST(SUM(cnt) AS BIGINT) AS wt
            FROM (SELECT cnt, string_split(substr(seq, 2, len(seq) - 2), ')(') AS ss
                  FROM $prev),
                 unnest(generate_series(1, len(ss) - 1)) u(i)
            WHERE len(ss) >= 2
            GROUP BY 1, 2),
          b$k AS ((SELECT l, r, wt FROM p$k ORDER BY wt DESC, l, r LIMIT 1)
                  UNION ALL
                  SELECT '', '', CAST(0 AS BIGINT) FROM (SELECT 1)
                  WHERE (SELECT COUNT(*) FROM p$k) = 0),
          s$k AS (SELECT word, cnt,
              replace(seq, '(' || l || ')(' || r || ')', '(' || l || r || ')') AS seq
            FROM $prev CROSS JOIN b$k)"""
    }
    // SATURATION GUARD mirror of bpeTrain's early stop: when a round's
    // pair table is empty, b_k carries a sentinel ('', '') whose merge
    // search '()()' can never match a nonempty symbol — the round is a
    // no-op instead of a row-annihilating CROSS JOIN against an empty
    // b_k, and the merges oracle filters sentinels out below
    val s0 = """s0 AS (SELECT word, cnt, regexp_replace(word, '(.)', '(\1)', 'g') AS seq FROM w)"""
    s"""WITH w AS (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
            SELECT regexp_replace(translate(tok, '0123456789', 'qwertyuiop'), '[^a-z]', '', 'g') AS word
            FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents))
          WHERE word <> '' GROUP BY word),
        $s0,
        ${(1 to BpeRounds).map(round).mkString(",\n")}"""
  }

  /** Oracle for [[bpeTokenCount]] and its stream twin: the merge
    * chain applied per document token, counts grouped per doc. */
  private lazy val bpeTokenCountOracle: String = {
    val chain = (1 to BpeRounds).foldLeft(
      """regexp_replace(w, '(.)', '(\1)', 'g')""") { (acc, k) =>
      s"replace($acc, '(' || b$k.l || ')(' || b$k.r || ')', '(' || b$k.l || b$k.r || ')')"
    }
    val crosses = (1 to BpeRounds).map(k => s"CROSS JOIN b$k").mkString(" ")
    s"""$bpeCtePrefix,
       dtok AS (SELECT doc_id,
           regexp_replace(translate(tok, '0123456789', 'qwertyuiop'), '[^a-z]', '', 'g') AS w
         FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
               FROM documents)
         WHERE regexp_replace(translate(tok, '0123456789', 'qwertyuiop'), '[^a-z]', '', 'g') <> ''),
       dseg AS (SELECT doc_id, $chain AS seg FROM dtok $crosses)
       SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ws_tokens,
         CAST(SUM(len(seg) - len(replace(seg, '(', ''))) AS BIGINT) AS n_bpe_tokens
       FROM dseg GROUP BY doc_id"""
  }

  /** Corpus mix rebalancing — the sampling-weight computation a
    * multi-source training mix runs (Pile/Dolma-style): for a UNIFORM
    * target share across languages, each language's resampling weight
    * is target_share / actual_token_share. Two tiny aggregates (per
    * language, then the 1-row total) and a broadcast back — the weights
    * table is what a downstream weighted sampler joins on. share6 and
    * weight6 are single divisions of exactly-counted longs (exact-parity
    * class), rounded to 6. */
  val corpusMixRebalance: Q = (s, dir) => {
    val perLang = t(s, dir, "documents")
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("lang_tokens"))
    val tot = perLang.agg(
      sum(col("lang_tokens")).as("tot_tokens"), count(lit(1)).as("n_langs"))
    perLang.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("lang_tokens"),
        round(col("lang_tokens").cast("double") / col("tot_tokens"), 6).as("share6"),
        round(col("tot_tokens").cast("double") / (col("n_langs") * col("lang_tokens")), 6)
          .as("weight6"))
  }

  /** Temperature-scaled mixing — the multilingual-LLM sampling law
    * (mBERT/XLM-R exponential smoothing, T=2 here): instead of
    * [[corpusMixRebalance]]'s uniform target, the target share is
    * q_l ∝ s_l^(1/T) — low-resource languages are up-sampled
    * sub-proportionally, so the head is tamed without flattening the
    * mix entirely. Numeric-parity discipline for the cross-engine
    * gate: T=2 makes the exponent a `sqrt` (correctly-rounded IEEE on
    * both engines — a general `pow` is NOT and was rejected), each
    * sqrt-share is micro-rounded to a BIGINT (×10⁶ — the
    * text_nb_classify discipline) so the normalizer Z is an ORDER-FREE
    * integer sum, and every emitted ratio is a single division
    * rounded 6. Same two-tiny-aggregates + broadcast shape as the
    * uniform twin — zero corpus shuffles beyond the per-lang count. */
  val corpusMixTemperature: Q = (s, dir) =>
    mixTemperature(t(s, dir, "documents"))

  /** The reusable kernel over any (lang, text) frame — extracted so
    * MixSkewSpec can drive the sub-5e-7-share regime (a language whose
    * round-6 share is 0.0) that the fixture's balanced mix never
    * exercises. */
  private[graft] def mixTemperature(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val perLang = docs
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("lang_tokens"))
    val tot = perLang.agg(sum(col("lang_tokens")).as("tot_tokens"))
    val scaled = perLang.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("lang_tokens"), col("tot_tokens"),
        round(col("lang_tokens").cast("double") / col("tot_tokens"), 6).as("share6"))
      .withColumn("r", round(sqrt(col("share6")) * 1000000d, 0).cast("long"))
    val z = scaled.agg(sum(col("r")).as("z"))
    // weight = tshare / TRUE share, as tshare6 × tot/lang — dividing by
    // the ROUND-6 share6 instead (the pre-round-10 form) turns any
    // language whose true share is below 5e-7 into share6 = 0 and an
    // engine-divergent Infinity/NULL; lang_tokens ≥ 1 always, so this
    // form is finite on every input. Each step is one correctly-rounded
    // IEEE op on identical operands in both engines (the sqrt-not-pow
    // argument), so the hash gate holds without a guard branch.
    scaled.crossJoin(broadcast(z))
      .select(col("lang"), col("n_docs"), col("lang_tokens"), col("share6"),
        round(col("r").cast("double") / col("z"), 6).as("tshare6"),
        round(round(col("r").cast("double") / col("z"), 6)
          * col("tot_tokens") / col("lang_tokens"), 6).as("weight6"))
  }

  /** Base overall sampling rate for the weighted sampler. */
  private[graft] val WeightedSampleRate = 0.25

  /** Weighted deterministic sampling — [[corpusMixRebalance]]'s weights
    * made EXECUTABLE: each language is sampled at
    * `min(1, weight6 × rate)` so the kept subset approaches the uniform
    * target mix at overall rate ≈ [[WeightedSampleRate]]. The keep
    * decision reuses the content-hash discipline of `corpus_sample`
    * (h52 = first 52 md5 bits of the text): keep iff
    * `h52 < floor(p_keep × 2⁵²)` — deterministic across engines, runs,
    * and partition layouts. Exact parity needs no rounding leap of
    * faith: `rate` (0.25) and 2⁵² are powers of two, so the threshold
    * arithmetic on the round-6 weight is EXACT in IEEE double on both
    * engines. Plan: the 5-row threshold table broadcast-joins the scan
    * and the filter is map-side — at 100 TB this is a single pass that
    * reads and writes, with no shuffle at all. */
  val corpusSampleWeighted: Q = (s, dir) => {
    val perLang = t(s, dir, "documents")
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy("lang").agg(sum(col("n_tokens")).as("lang_tokens"))
    val tot = perLang.agg(
      sum(col("lang_tokens")).as("tot_tokens"), count(lit(1)).as("n_langs"))
    val cuts = perLang.crossJoin(broadcast(tot))
      .select(col("lang"),
        floor(least(lit(1.0),
          round(col("tot_tokens").cast("double") / (col("n_langs") * col("lang_tokens")), 6)
            * lit(WeightedSampleRate)) * lit(4503599627370496.0)) // 2^52
          .cast("long").as("h_cut"))
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        expr("cast(conv(substring(md5(text), 1, 13), 16, 10) as bigint)").as("h52"))
      .join(broadcast(cuts), "lang")
      .filter(col("h52") < col("h_cut"))
      .select(col("doc_id"), col("lang"), col("h52"))
  }

  /** Repetition/boilerplate quality signals — the Gopher-rule family a
    * real LLM corpus filter applies (repetitious documents mark
    * boilerplate, scraped templates, or generation loops): duplicate-
    * token fraction (1 − distinct/total), most-common-token fraction,
    * and most-common-bigram fraction. ALL signals are IN-ROW when the
    * extension is present — one native token_tf map pass for the token
    * stats and one native array_tf pass over the doc's own bigram array
    * for the bigram mode (r19, guide §2.4: the per-doc heavy-hitter
    * state is bounded by the document, so it never needed the
    * (doc_id, bigram) shuffle + per-doc re-aggregation + corpus-sized
    * join back the dataflow form paid — the whole query is now one
    * shuffle-free Project over the scan). The dataflow form stays as
    * the extension-absent fallback, identical counts. Every ratio is a
    * single division of exact integer counts — the exact-parity class,
    * so no rounding is needed. */
  val textRepetition: Q = (s, dir) => {
    val base = t(s, dir, "documents")
    if (s.catalog.functionExists("array_tf")) {
      // bigram array of the doc's own tokens; docs with < 2 tokens have
      // no bigrams — their fractions are NULL, matching the dataflow
      // form's left join against an absent biStats row
      base.withColumn("m", expr("token_tf(text)"))
        // tk hoisted to its own column: a split() referenced INSIDE the
        // transform lambda would re-evaluate per element (O(n²) per doc)
        .withColumn("tk", split(col("text"), " "))
        .withColumn("bm", expr(
          """CASE WHEN size(tk) >= 2 THEN
               array_tf(transform(sequence(1, size(tk) - 1),
                 i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1))))
             END"""))
        .select(col("doc_id"),
          expr("aggregate(map_values(m), 0, (a, x) -> a + x)").cast("long").as("n_tokens"),
          size(expr("map_keys(m)")).cast("long").as("n_distinct"),
          expr("array_max(map_values(m))").cast("long").as("top_tf"),
          expr("array_max(map_values(bm))").cast("long").as("top_bi"),
          expr("aggregate(map_values(bm), 0, (a, x) -> a + x)").cast("long").as("n_bigrams"))
        .select(col("doc_id"), col("n_tokens"),
          (lit(1.0) - col("n_distinct").cast("double") / col("n_tokens")).as("dup_token_frac"),
          (col("top_tf").cast("double") / col("n_tokens")).as("top_token_frac"),
          (col("top_bi").cast("double") / col("n_bigrams")).as("top_bigram_frac"))
    } else textRepetitionDataflow(base)
  }

  /** The extension-absent fallback (and the r19 parity witness for the
    * in-row form above): HOF token stats + the shuffled (doc_id, bigram)
    * count + per-doc re-aggregation + left join back. */
  private[graft] def textRepetitionDataflow(base: DataFrame): DataFrame = {
    val tokStats =
      base.withColumn("tk", split(col("text"), " "))
        .select(col("doc_id"),
          size(col("tk")).cast("long").as("n_tokens"),
          size(array_distinct(col("tk"))).cast("long").as("n_distinct"),
          expr("array_max(transform(array_distinct(tk), x -> size(filter(tk, y -> y = x))))")
            .cast("long").as("top_tf"))
    val bigrams = base.withColumn("tk", split(col("text"), " "))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(tk) - 1), i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"))
        .as("bg"))
    val biStats = bigrams.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max(col("c")).as("top_bi"), sum(col("c")).cast("long").as("n_bigrams"))
    tokStats.join(biStats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_tokens")).as("dup_token_frac"),
        (col("top_tf").cast("double") / col("n_tokens")).as("top_token_frac"),
        (col("top_bi").cast("double") / col("n_bigrams")).as("top_bigram_frac"))
  }

  /** Quality-aware cluster election — the curation decision a real
    * training-data job makes AFTER near-dup clustering: within each
    * near-dup cluster keep the highest-quality member (lexical
    * diversity, ties to the smallest doc_id), not blindly the smallest
    * id. Exact-dup election can't do this (identical text ⇒ identical
    * quality), which is exactly why the NEAR-dup clusters are the
    * right granularity for it. One extra equi-join + one window over
    * the clustered subset (which is far smaller than the corpus), on
    * top of the cluster computation itself.
    *
    * Output: one row per cluster — the representative id, the elected
    * best member, its diversity, and the cluster size. */
  val corpusCurationBest: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val clusters = DedupOps.dedupClusterReps(s, dir)
      .select(col("doc_id"), col("cluster_rep").as("cluster"))
    val quality = t(s, dir, "documents")
      .withColumn("tk", split(col("text"), " "))
      .select(col("doc_id"),
        round(size(array_distinct(col("tk"))).cast("double") / size(col("tk")), 6)
          .as("diversity6"))
    val wAll = Window.partitionBy("cluster")
    val wOrd = Window.partitionBy("cluster").orderBy(col("diversity6").desc, col("doc_id"))
    clusters.join(quality, "doc_id")
      .withColumn("n_members", count(lit(1)).over(wAll).cast("long"))
      .withColumn("r", row_number().over(wOrd))
      .filter(col("r") === 1)
      .select(col("cluster"), col("doc_id").as("best_doc"),
        col("diversity6"), col("n_members"))
  }

  /** Hot duplicated 8-gram spans — the contamination/memorization check
    * a training-data pipeline runs: which exact 8-token sequences occur
    * in more than one document, ranked by document spread (the scalable
    * cousin of the suffix-array substring-dedup family: fixed-width
    * spans make it one explode + one groupBy instead of a suffix
    * sort). Deterministic total order (n_docs, n_occur, ngram) so the
    * top-k set is engine-independent. Scale shape: explode is map-side;
    * the groupBy is one shuffle on the span text — at 100 TB you'd
    * group on a span HASH and carry the text only for the survivors,
    * the same narrow-shuffle discipline as the minhash path. */
  val dedupCommonNgrams: Q = (s, dir) =>
    t(s, dir, "documents")
      .withColumn("tk", split(col("text"), " "))
      .filter(size(col("tk")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(tk) - 7), i -> array_join(slice(tk, i, 8), ' '))"))
        .as("ngram"))
      .groupBy("ngram")
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occur"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("n_occur").desc, col("ngram"))
      .limit(20)

  /** Deterministic hash-based sampling: a document is in the p%-sample
    * iff a 52-bit md5-derived value of its CONTENT falls below the
    * cutoff. Unlike `df.sample()` (seeded per-partition RNG — changes
    * under repartitioning) this is reproducible across runs, engines,
    * and cluster layouts, survives re-partitioning, and samples
    * duplicate documents identically — the properties a training-data
    * subsample actually needs. Pure map-side filter: scales linearly,
    * pushes to the scan. */
  def corpusSample(pct: Int): Q = (s, dir) =>
    t(s, dir, "documents")
      .withColumn("bucket",
        pmod(expr("cast(conv(substring(md5(text), 1, 13), 16, 10) as bigint)"), lit(100L)))
      .filter(col("bucket") < pct)
      .select(col("doc_id"), col("source"), col("lang"), col("bucket"))

  private val SamplePct = 10

  /** TF-IDF top terms per document — the classic "what is this document
    * about" signal. Term frequencies are computed IN-ROW (a HOF over the
    * token array), so the only shuffles are the df aggregation, the
    * vocabulary equi-join on the token (the scale shape at 100 TB — the
    * vocabulary is itself large; see [[textRareRatio]]), and the per-doc
    * top-k window (partitioned by doc_id — millions of tiny partitions,
    * no skew). Scores round-6 before the ordering so an ulp of ln()
    * disagreement between engines cannot flip a rank. */
  private[graft] val TfIdfTopK = 3
  val textTfidfTopTerms: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
    val tf = termFreqRows(docs)
    val dfTable = tf.groupBy("tk").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf6").desc, col("tk"))
    tf.join(dfTable, "tk")
      .crossJoin(broadcast(n))
      .withColumn("tfidf6",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= TfIdfTopK)
      .select(col("doc_id"), col("tk"), col("tf"), col("df"), col("tfidf6"))
  }

  /** BM25 ranked retrieval for a fixed query-term set — the relevance
    * scoring a retrieval/quality pipeline runs over the corpus. All
    * corpus statistics (N, Σdl, per-term df) come from ONE aggregation,
    * broadcast to every document; per-document term frequencies are
    * in-row HOFs — so the whole query is one tiny agg + one map-side
    * pass + a top-k sort. Every float step mirrors the oracle
    * operation-for-operation (same literals, same association order),
    * with one round-6 at the end. */
  private[graft] val Bm25K1 = 1.2
  private[graft] val Bm25B = 0.75
  private[graft] val Bm25Terms = Seq("spark", "window", "merge")
  private[graft] val Bm25TopK = 10
  /** Per-document (doc_id, dl, tf_<term>…) columns for a fixed query
    * term list. Natively: ONE token_tf map pass + an O(1) lookup per
    * term — the fix for the three-interpreted-HOF-scans-per-document
    * cost the per-term `size(filter(tk, …))` idiom paid (the same
    * measured win `token_tf` gave tf-idf; NOTES_r4). Fallback when the
    * extension is absent: that HOF idiom, identical counts by
    * construction (token_tf counts every occurrence with
    * split-on-single-space semantics), so the two paths cannot
    * diverge and the shared oracle covers both. */
  private def perDocTermCols(docs: org.apache.spark.sql.DataFrame,
      terms: Seq[String]): org.apache.spark.sql.DataFrame =
    if (docs.sparkSession.catalog.functionExists("token_tf"))
      docs.withColumn("m", expr("token_tf(text)"))
        .select(col("doc_id") +:
          size(split(col("text"), " ")).cast("long").as("dl") +:
          terms.map(q =>
            expr(s"coalesce(m['$q'], 0)").cast("long").as(s"tf_$q")): _*)
    else
      docs.withColumn("tk", split(col("text"), " "))
        .select(col("doc_id") +:
          size(col("tk")).cast("long").as("dl") +:
          terms.map(q =>
            expr(s"size(filter(tk, x -> x = '$q'))").cast("long").as(s"tf_$q")): _*)

  /** Score + rank given per-doc (dl, tf_<term>…) columns crossJoined to
    * a one-row stats frame carrying (n_docs, sum_dl, df_<term>…) —
    * shared by the self-contained catalog query and the vocab-index
    * probe so the float arithmetic can never diverge between them. */
  private def bm25Rank(withStats: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val scored = withStats
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
    val termScore = Bm25Terms.map { q =>
      val tf = col(s"tf_$q").cast("double")
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df_$q") + lit(0.5)) / (col(s"df_$q") + lit(0.5)))
      idf * (tf * lit(Bm25K1 + 1)) /
        (tf + lit(Bm25K1) * (lit(1 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    scored.withColumn("bm25_6", round(termScore, 6))
      .filter(col("bm25_6") > 0)
      .orderBy(col("bm25_6").desc, col("doc_id"))
      .limit(Bm25TopK)
      .select(col("doc_id"), col("bm25_6"))
  }

  val bm25TopDocs: Q = (s, dir) => {
    val perDoc = perDocTermCols(t(s, dir, "documents"), Bm25Terms)
    // df_<term> = docs with tf > 0: identical to the array_contains
    // membership count the previous form aggregated
    val aggs = sum(col("dl")).as("sum_dl") +:
      Bm25Terms.map(q => count(when(col(s"tf_$q") > 0, 1)).as(s"df_$q"))
    val stats = perDoc.agg(count(lit(1)).as("n_docs"), aggs: _*)
    bm25Rank(perDoc.crossJoin(broadcast(stats)))
  }

  /** BM25 probing a persisted [[writeVocabIndex]] table: every corpus
    * statistic BM25 needs is already in the index — per-term df
    * directly, and Σdl = Σ n_total (total token occurrences ARE the
    * summed document lengths) — so the probe touches the corpus only
    * for the documents being scored. Identical scores to
    * [[bm25TopDocs]] over the same corpus (shared [[bm25Rank]]; the
    * spec pins the equality). A term absent from the vocabulary gets
    * df = 0, matching the self-contained aggregation. */
  def bm25AgainstVocab(s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame, vocabTable: String,
      nDocs: Long): org.apache.spark.sql.DataFrame = {
    val vocab = s.table(vocabTable)
    val aggs = sum(col("n_total")).cast("long").as("sum_dl") +:
      Bm25Terms.map(q =>
        coalesce(max(when(col("tk") === q, col("df"))), lit(0L)).as(s"df_$q"))
    val stats = vocab.agg(aggs.head, aggs.tail: _*)
      .withColumn("n_docs", lit(nDocs))
    bm25Rank(perDocTermCols(docs, Bm25Terms).crossJoin(broadcast(stats)))
  }

  /** Fixed-token-budget document chunking with overlap — the
    * context-window preparation step of an embedding/RAG pipeline:
    * every document yields chunks of [[ChunkSize]] tokens starting
    * every [[ChunkStride]] tokens (overlap = size − stride), the
    * trailing chunk short. Entirely IN-ROW (one transform + explode —
    * linear, no shuffle, pushes to the scan); chunks are carried as
    * md5 of the joined tokens so the rows stay narrow through any
    * downstream join. chunk_idx is exact integer arithmetic
    * ((start−1) div stride) — no float anywhere. */
  private[graft] val ChunkSize = 32
  private[graft] val ChunkStride = 24
  val docChunking: Q = (s, dir) =>
    t(s, dir, "documents")
      .withColumn("tk", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(tk), $ChunkStride), st -> struct(st AS start_tok, slice(tk, st, $ChunkSize) AS ck))"))
        .as("c"))
      .select(col("doc_id"),
        expr(s"(c.start_tok - 1) div $ChunkStride").cast("long").as("chunk_idx"),
        col("c.start_tok").cast("long").as("start_tok"),
        size(col("c.ck")).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", col("c.ck"))).as("chunk_md5"))

  /** Sequence packing — assign documents to fixed-token-budget bins
    * (the training-batch packing step): within each (source, shard)
    * cell, documents are ordered deterministically by content hash,
    * the EXCLUSIVE running token sum is computed with one window, and
    * bin = cum div [[PackBudget]]. The shard key (doc_id mod 16) is
    * the scale story: packing needs contiguity only WITHIN a bin, so
    * sharding each source 16 ways keeps every running sum bounded by
    * its cell instead of funneling a 100 TB source through one
    * partition — the same salting argument as
    * [[corpusSampleStratified]], without a second pass because bins
    * don't need global ids. All integer arithmetic (div, not floor). */
  private[graft] val PackBudget = 2048L
  private[graft] val PackShards = 16
  val corpusPackBins: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val base = t(s, dir, "documents")
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("h52",
        expr("cast(conv(substring(md5(text), 1, 13), 16, 10) as bigint)"))
      .withColumn("shard", pmod(col("doc_id"), lit(PackShards)))
    val w = Window.partitionBy("source", "shard").orderBy(col("h52"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = base
      .withColumn("cum_excl", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", expr(s"cum_excl div $PackBudget"))
    val wPos = Window.partitionBy("source", "shard", "bin")
      .orderBy(col("h52"), col("doc_id"))
    ranked
      .withColumn("pos_in_bin", row_number().over(wPos).cast("long"))
      .select(col("doc_id"), col("source"), col("shard"), col("n_tokens"),
        col("bin"), col("pos_in_bin"))
  }

  /** Stratified per-language sample with an EXACT quota, as the salted
    * two-stage top-k: stage 1 takes the quota-smallest content hashes
    * within each (lang, doc_id%16) cell — 16-way parallel, so a 100 TB
    * corpus with 5 languages never funnels a language through one
    * partition — and stage 2 re-ranks the ≤16·K survivors per language.
    * The union of per-salt top-Ks contains the global top-K (a row's
    * rank within its cell never exceeds its global rank), so the result
    * is identical to the single-window form the oracle runs. Ranking on
    * (content-hash, doc_id) makes the sample reproducible across
    * engines, runs, and partitionings — [[corpusSample]]'s determinism
    * argument, with per-stratum exactness. */
  private[graft] val StratQuota = 40

  /** The reusable form over any (doc_id, text, lang) frame — see the
    * [[corpusSampleStratified]] scaladoc for the two-stage argument. */
  private[graft] def stratifiedSample(docs: org.apache.spark.sql.DataFrame,
      quota: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.withColumn("h52",
      expr("cast(conv(substring(md5(text), 1, 13), 16, 10) as bigint)"))
    val w1 = Window.partitionBy(col("lang"), pmod(col("doc_id"), lit(16)))
      .orderBy(col("h52"), col("doc_id"))
    val w2 = Window.partitionBy("lang").orderBy(col("h52"), col("doc_id"))
    base.withColumn("r1", row_number().over(w1)).filter(col("r1") <= quota)
      .withColumn("rk", row_number().over(w2).cast("long"))
      .filter(col("rk") <= quota)
      .select(col("lang"), col("doc_id"), col("h52"), col("rk"))
  }

  val corpusSampleStratified: Q = (s, dir) =>
    stratifiedSample(t(s, dir, "documents"), StratQuota)

  /** Per-document (token, tf) rows, computed IN-ROW (no token-table
    * shuffle): natively via token_tf when registered, else the HOF
    * idiom — identical counts (MinhashSigSpec). */
  private[graft] def termFreqRows(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (docs.sparkSession.catalog.functionExists("token_tf"))
      docs.select(col("doc_id"), explode(expr("token_tf(text)")))
        .select(col("doc_id"), col("key").as("tk"), col("value").cast("long").as("tf"))
    else docs
      .withColumn("tk", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(
        "transform(array_distinct(tk), x -> struct(x AS tk, size(filter(tk, y -> y = x)) AS tf))"))
        .as("p"))
      .select(col("doc_id"), col("p.tk").as("tk"), col("p.tf").cast("long").as("tf"))

  /** Persist the corpus vocabulary statistics (per token: document
    * frequency and total occurrences) as a table BUCKETED by token —
    * the [[graft.ops.DedupOps.writeBandIndex]] move for the retrieval
    * family. TF-IDF, BM25 and LM scoring all join the vocabulary on
    * the token; at 100 TB that vocabulary is itself a large table
    * recomputed identically by every job, so persisting it bucketed
    * makes every subsequent scoring run (a) skip the corpus-wide df
    * aggregation and (b) read the vocab side of the join in place with
    * NO exchange (BucketingSpec pins the shuffle-free scan). Refresh
    * is a batch job, exactly like the band index. */
  def writeVocabIndex(docs: org.apache.spark.sql.DataFrame, table: String,
      buckets: Int = 8): Unit =
    termFreqRows(docs)
      .groupBy("tk")
      .agg(count(lit(1)).as("df"), sum(col("tf")).cast("long").as("n_total"))
      .write.mode("overwrite")
      .bucketBy(buckets, "tk").sortBy("tk")
      .saveAsTable(table)

  /** TF-IDF top terms probing a persisted [[writeVocabIndex]] table:
    * identical scores to [[textTfidfTopTerms]] (same tf rows, same
    * round-6 ln ranking) with the df side coming from the bucketed
    * vocabulary instead of an inline corpus aggregation. `nDocs` is
    * the corpus size the vocabulary was built from — the caller owns
    * it because the probed `docs` may be any subset (a new batch
    * scored against yesterday's vocabulary). */
  def tfidfAgainstVocab(s: org.apache.spark.sql.SparkSession, docs: org.apache.spark.sql.DataFrame,
      vocabTable: String, nDocs: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf6").desc, col("tk"))
    termFreqRows(docs)
      .join(s.table(vocabTable).select("tk", "df"), "tk")
      .withColumn("tfidf6",
        round(col("tf") * log(lit(nDocs).cast("double") / col("df")), 6))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= TfIdfTopK)
      .select(col("doc_id"), col("tk"), col("tf"), col("df"), col("tfidf6"))
  }

  /** Test-set decontamination — the cross-set twin of
    * [[dedupCommonNgrams]]: flag TRAINING documents sharing any exact
    * 8-token span with a HELD-OUT split (here the top 5% of the
    * deterministic content-hash buckets, standing in for a benchmark
    * suite). This is the named "decontamination" step of a real LLM
    * training pipeline: benchmark suites are small, so the held-out
    * n-gram set is BROADCAST and the whole check is one map-side join
    * over the training corpus — no shuffle of the big side, which is
    * what makes it runnable on every training batch. */
  private[graft] val HeldoutBucket = 95
  val dedupDecontaminate: Q = (s, dir) => {
    val grams = t(s, dir, "documents")
      .withColumn("bucket",
        pmod(expr("cast(conv(substring(md5(text), 1, 13), 16, 10) as bigint)"), lit(100L)))
      .withColumn("tk", split(col("text"), " "))
      .filter(size(col("tk")) >= 8)
      .select(col("doc_id"), col("bucket"), explode(expr(
        "transform(sequence(1, size(tk) - 7), i -> array_join(slice(tk, i, 8), ' '))"))
        .as("ngram"))
    val heldout = grams.filter(col("bucket") >= HeldoutBucket)
      .select(col("ngram"), col("doc_id").as("h_id")).distinct()
    grams.filter(col("bucket") < HeldoutBucket)
      .join(broadcast(heldout), "ngram")
      .groupBy("doc_id")
      .agg(countDistinct(col("ngram")).as("n_shared"),
        countDistinct(col("h_id")).as("n_heldout_docs"))
  }

  /** The streaming decontamination screen surfaced into the
    * CORRECTNESS gate — the second stream-twin after
    * [[graft.ops.DedupOps.dedupIncrementalStreamTwin]]: EXECUTES
    * [[graft.streaming.DocStreams.decontaminationScreen]] as a real
    * Structured Streaming query (file-source stream of the training
    * split, broadcast stream-static join against the batch-computed
    * heldout n-gram set, memory sink), then aggregates the per-hit
    * rows to the batch screen's (n_shared, n_heldout_docs) shape. The
    * oracle is IDENTICAL to [[dedupDecontaminate]]'s, so the gate pins
    * stream == batch == oracle for the stateless screen topology too. */
  val dedupDecontaminateStreamTwin: Q = (s, dir) => {
    val bucket = pmod(
      expr("cast(conv(substring(md5(text), 1, 13), 16, 10) as bigint)"), lit(100L))
    val heldout = t(s, dir, "documents")
      .withColumn("bucket", bucket)
      .filter(col("bucket") >= HeldoutBucket)
      .withColumn("tk", split(col("text"), " "))
      .filter(size(col("tk")) >= 8)
      .select(col("doc_id").as("h_id"), explode(expr(
        "transform(sequence(1, size(tk) - 7), i -> array_join(slice(tk, i, 8), ' '))"))
        .as("ngram"))
      .select(col("ngram"), col("h_id")).distinct()
    val sch = s.read.parquet(s"$dir/documents.parquet").schema
    val train = s.readStream.schema(sch)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .withColumn("bucket", bucket)
      .filter(col("bucket") < HeldoutBucket)
      .select(col("doc_id"), col("text"))
    val sink = "graft_decontam_twin_sink"
    s.catalog.dropTempView(sink)
    val q = graft.streaming.DocStreams.decontaminationScreen(train, heldout)
      .writeStream.format("memory").queryName(sink)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    s.table(sink).groupBy("doc_id")
      .agg(countDistinct(col("ngram")).as("n_shared"),
        countDistinct(col("h_id")).as("n_heldout_docs"))
  }

  /** Bloom-filter decontamination — [[dedupDecontaminate]]'s screen
    * rebuilt for the regime where the held-out n-gram set OUTGROWS a
    * broadcast hash set (a full previous-crawl decontamination, or a
    * benchmark battery in the hundreds of millions of spans). Three
    * stages, result provably identical to the exact screen:
    *
    *  1. `graft_bloom_agg` folds the held-out spans into ONE bloom
    *     filter (Spark's own runtime-filter aggregate — mergeable
    *     partial sketches, one fixed-size bitmap over the wire per
    *     partition, the same shuffle contract as `mg_sketch`). The
    *     bitmap is ~10 bits/item versus ~50+ bytes/item for the
    *     broadcast string set — the 40× that keeps a 10⁹-span heldout
    *     broadcastable.
    *  2. The training side filters by `graft_might_contain` against the
    *     bloom as a SCALAR SUBQUERY — evaluated once, shipped to every
    *     executor as a query-scoped constant, screen is pure map-side
    *     (zero shuffle of the training corpus, same as the exact twin).
    *  3. Survivors (true matches + the ε false-positive tail) confirm
    *     against the real held-out spans in an ordinary equi-join on
    *     the span — deliberately NOT broadcast here: in the target
    *     regime the heldout doesn't broadcast, and the join input is
    *     already candidate-bounded by the bloom, so the shuffle is
    *     ε·|training spans| + true hits, not the corpus.
    *
    * Blooms have no false negatives, so stage 3's join restores
    * EXACTNESS — the entry shares [[dedupDecontaminate]]'s oracle
    * verbatim, making "bloom pre-screen + confirm ≡ exact screen" a
    * driver-gate theorem rather than a comment. Degrades to the
    * broadcast-set screen when the extension (which registers the
    * bloom functions) is absent. */
  val dedupDecontaminateBloom: Q = (s, dir) => {
    if (!s.catalog.functionExists("graft_bloom_agg")) dedupDecontaminate(s, dir)
    else {
      val grams = t(s, dir, "documents")
        .withColumn("bucket",
          pmod(expr("cast(conv(substring(md5(text), 1, 13), 16, 10) as bigint)"), lit(100L)))
        .withColumn("tk", split(col("text"), " "))
        .filter(size(col("tk")) >= 8)
        .select(col("doc_id"), col("bucket"), explode(expr(
          "transform(sequence(1, size(tk) - 7), i -> array_join(slice(tk, i, 8), ' '))"))
          .as("ngram"))
      grams.filter(col("bucket") >= HeldoutBucket)
        .select(col("ngram"), col("doc_id").as("h_id")).distinct()
        .createOrReplaceTempView("graft_decontam_heldout")
      grams.filter(col("bucket") < HeldoutBucket)
        .createOrReplaceTempView("graft_decontam_train")
      // 64k expected items / 640k bits ≈ 10 bits per span → ε ≈ 1%;
      // size tracks the heldout, never the corpus
      s.sql(s"""
        WITH cand AS (
          SELECT doc_id, ngram FROM graft_decontam_train
          WHERE graft_might_contain(
            (SELECT graft_bloom_agg(xxhash64(ngram), ${64 * 1024}L, ${640 * 1024}L)
             FROM graft_decontam_heldout),
            xxhash64(ngram)))
        SELECT c.doc_id,
               COUNT(DISTINCT c.ngram) AS n_shared,
               COUNT(DISTINCT h.h_id) AS n_heldout_docs
        FROM cand c JOIN graft_decontam_heldout h ON c.ngram = h.ngram
        GROUP BY c.doc_id""")
    }
  }

  /** Supervised Naive Bayes text classification — the deterministic
    * cousin of the fastText-style quality/language classifiers real
    * curation pipelines train (CCNet's LM filter, GPT-3-style quality
    * screens): a linear model over token counts, trained and applied
    * entirely in-engine.
    *
    * Supervision is PLANTED IN-QUERY (the `embedding_lsh_recall`
    * pattern — no fixture change, both engines derive the identical
    * ground truth): the content hash labels each document pos/neg
    * (bit 0) and appends two class-specific marker tokens (4 per
    * class, chosen by hash bits 2-5) to the text; every natural token
    * is class-independent noise on this corpus, so a WORKING NB must
    * learn exactly the markers and generalize to held-out docs
    * (NbClassifySpec pins test accuracy ≥ 0.95 vs the 0.5 base rate —
    * a broken count join, smoothing, or scoring sum collapses it).
    * The train/test split keys on hash bits ≥ 6, independent of both
    * the label bit and the marker bits.
    *
    * Numerics — one step STRICTER than the round-6 ln discipline: each
    * token's add-1-smoothed log-likelihood ratio is rounded to 1e-6
    * and stored as an INTEGER (`lr_micro`), so the per-doc score is an
    * exact BIGINT sum — order-free across partitions and engines by
    * construction (the integer-cents trick applied to log-probs),
    * where a double Σln would depend on partial-agg order in the last
    * ulp. Ties (score_micro = 0) break to 'neg'.
    *
    * Scale shape: token counts and the weight table join on the token
    * (the vocabulary equi-join — tf-idf's shape); the 1-row totals
    * broadcast; scoring is a left join + integer partial agg. Nothing
    * new to audit at 100 TB — this entry exists to prove the TRAINED
    * LINEAR MODEL family runs in-engine with gate-grade determinism
    * AND measurable generalization. */
  private[graft] val NbTestMod = 5 // (h >> 6) % 5 == 0 → test (~20%)
  val textNbClassify: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
      .withColumn("h", expr("cast(conv(substring(md5(text), 1, 13), 16, 10) as bigint)"))
      .withColumn("actual", when(pmod(col("h"), lit(2L)) === 0L, "pos").otherwise("neg"))
      .withColumn("is_test",
        when(pmod(expr("h div 64"), lit(NbTestMod.toLong)) === 0L, 1L).otherwise(0L))
      .withColumn("mk1", expr(
        """CASE WHEN h % 2 = 0
             THEN element_at(array('zqa','zqb','zqc','zqd'), CAST(h div 4 % 4 AS INT) + 1)
             ELSE element_at(array('zna','znb','znc','znd'), CAST(h div 4 % 4 AS INT) + 1)
           END"""))
      .withColumn("mk2", expr(
        """CASE WHEN h % 2 = 0
             THEN element_at(array('zqa','zqb','zqc','zqd'), CAST(h div 16 % 4 AS INT) + 1)
             ELSE element_at(array('zna','znb','znc','znd'), CAST(h div 16 % 4 AS INT) + 1)
           END"""))
      .withColumn("text2", concat_ws(" ", col("text"), col("mk1"), col("mk2")))
    val toks = docs.select(col("doc_id"), col("is_test"), col("actual"),
      explode(split(col("text2"), " ")).as("tk"))
    val train = toks.filter(col("is_test") === 0L)
    val counts = train.groupBy("tk").agg(
      sum(when(col("actual") === "pos", 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("actual") === "pos", 0L).otherwise(1L)).as("n_neg"))
    val trainDocs = docs.filter(col("is_test") === 0L)
    val totals = counts.agg(
        sum(col("n_pos")).as("tot_pos"), sum(col("n_neg")).as("tot_neg"),
        count(lit(1)).as("v"))
      .crossJoin(broadcast(trainDocs.agg(
        sum(when(col("actual") === "pos", 1L).otherwise(0L)).as("d_pos"),
        sum(when(col("actual") === "pos", 0L).otherwise(1L)).as("d_neg"))))
    // token weights: integer micro log-likelihood ratios (add-1)
    val lr = counts.crossJoin(broadcast(totals))
      .select(col("tk"),
        expr("""CAST(round((ln((n_pos + 1) / CAST(tot_pos + v AS DOUBLE))
                 - ln((n_neg + 1) / CAST(tot_neg + v AS DOUBLE))) * 1000000, 0) AS BIGINT)""")
          .as("lr_micro"))
    val t0 = totals.head()
    val (totPos, totNeg, v, dPos, dNeg) =
      (t0.getLong(0), t0.getLong(1), t0.getLong(2), t0.getLong(3), t0.getLong(4))
    // unseen-token weight and class prior as integer micro constants —
    // computed driver-side from the same 1-row totals (exact longs in,
    // two ln calls, round-6×1e6 out: the kmeans literal channel).
    // HALF_UP (away from zero), matching Spark's and DuckDB's round()
    // on the ratio path — math.round floors negatives at .5 and would
    // diverge on an exact boundary
    def microHalfUp(x: Double): Long =
      new java.math.BigDecimal(x * 1e6)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    val lr0Micro = microHalfUp(
      math.log(1.0 / (totPos + v).toDouble) - math.log(1.0 / (totNeg + v).toDouble))
    val priorMicro = microHalfUp(
      math.log(dPos.toDouble) - math.log(dNeg.toDouble))
    toks.join(lr, Seq("tk"), "left")
      .na.fill(Map("lr_micro" -> lr0Micro))
      .groupBy(col("doc_id"), col("is_test"), col("actual"))
      .agg((sum(col("lr_micro")) + lit(priorMicro)).as("score_micro"))
      .select(col("doc_id"), col("is_test"), col("score_micro"),
        when(col("score_micro") > 0, "pos").otherwise("neg").as("pred"),
        col("actual"),
        when((col("score_micro") > 0) === (col("actual") === "pos"), 1L)
          .otherwise(0L).as("correct"))
  }

  /** Bigram collocation mining by pointwise mutual information —
    * phrase extraction for vocabulary/tokenizer work:
    * pmi = ln((n_ab/T) / ((n_a/U)·(n_b/U))) with the unigram and
    * bigram totals from two tiny broadcast aggregates. Count tables
    * join on the token (the vocabulary shape, as in
    * [[textTfidfTopTerms]]); the ranking rounds to 6 BEFORE ordering
    * with a (w1, w2) tiebreak so the top-k set is engine-independent. */
  private[graft] val PmiMinCount = 5
  private[graft] val PmiTopK = 20
  val textBigramPmi: Q = (s, dir) => {
    val docs = t(s, dir, "documents").withColumn("tk", split(col("text"), " "))
    val bi = docs.filter(size(col("tk")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(tk) - 1), i -> struct(element_at(tk, i) AS w1, element_at(tk, i + 1) AS w2))"))
        .as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
    val uni = docs.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n_w"))
    val totals = bi.agg(sum(col("n_ab")).as("t_bi"))
      .crossJoin(uni.agg(sum(col("n_w")).as("t_uni")))
    bi.filter(col("n_ab") >= PmiMinCount)
      // the unigram table is vocabulary-sized (distinct tokens, not
      // token occurrences) — broadcast it like every other vocab join
      // here, so the count-filtered bigram stream never shuffles
      .join(broadcast(
        uni.withColumnRenamed("w", "w1").withColumnRenamed("n_w", "n_a")), "w1")
      .join(broadcast(
        uni.withColumnRenamed("w", "w2").withColumnRenamed("n_w", "n_b")), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("pmi6", round(log(
        (col("n_ab").cast("double") / col("t_bi")) /
          ((col("n_a").cast("double") / col("t_uni")) *
            (col("n_b").cast("double") / col("t_uni")))), 6))
      .orderBy(col("pmi6").desc, col("w1"), col("w2"))
      .limit(PmiTopK)
      .select(col("w1"), col("w2"), col("n_ab"), col("pmi6"))
  }

  /** Per-document average bigram log-likelihood under the corpus's own
    * bigram LM — the perplexity-style quality filter (the KenLM role in
    * real pipelines): low-probability token sequences mark gibberish /
    * shuffled text, high ones boilerplate. p(w2|w1) = n_ab / n_a with
    * counts over bigram INSTANCES (every doc bigram has count ≥ 1 since
    * the LM is trained on the same corpus — no smoothing needed). Scale
    * shape: in-row bigram explode, two vocabulary-sized equi-joins
    * (bigram and first-word count tables), one per-doc aggregation.
    * The per-instance ln is a single division then ln (exact-parity
    * class); the per-doc SUM is accumulated floats → round-6, per the
    * standing numeric discipline. */
  val textBigramLogprob: Q = (s, dir) => {
    val big = t(s, dir, "documents")
      .withColumn("tk", split(col("text"), " "))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(tk) - 1), i -> struct(element_at(tk, i) AS w1, element_at(tk, i + 1) AS w2))"))
        .as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    // r19 (guide §2.3): n_a = Σ_w2 n_ab — both count the same bigram
    // rows grouped by w1, so the context count re-aggregates the
    // (vocabulary-sized) bigram table instead of paying a third
    // corpus-sized Generate pass.
    // r20 (VERDICT item 2): the r19 claim that ab's exchange would be
    // REUSED for the re-aggregation was measured FALSE — the executed
    // plan (StageReuseProbe, walking QueryStageExec leaves) showed the
    // ab subtree computed twice (3 corpus Generates, 0 ReusedExchange:
    // AQE's stage cache did not unify the two canonically-distinct agg
    // subtrees). The in-query persist makes the sharing explicit: ab is
    // VOCABULARY-sized (the whole point of the r19 derivation), so
    // caching it is a few counters per distinct bigram, and the query
    // drops to its 2-corpus-Generate floor (count pass + probe pass).
    // Plan evidence: plans/r20/text_bigram_logprob_{before,after}.txt
    // (3 Generates + 4 exchanges -> 2 Generates, ab subtree once).
    // r20 A/B record (interleaved same-JVM medians at sf0.1): the
    // pre-r19 third-Generate shape probes ~0.1 s FASTER locally
    // (bigram 0.98 vs 1.09, perplexity 1.07 vs 1.27) because its three
    // corpus passes run as parallel branches while the persist
    // serializes behind the IMR build. Kept anyway: at 100 TB a third
    // full corpus Generate pass dwarfs a vocabulary-sized cache build,
    // and 2 corpus passes is this query's floor. PlanShapeSpec pins
    // the single-derivation structure.
    val ab = big.groupBy("w1", "w2").agg(count(lit(1)).as("n_ab")).persist()
    val fst = ab.groupBy("w1").agg(sum(col("n_ab")).as("n_a"))
    big.join(ab, Seq("w1", "w2")).join(fst, Seq("w1"))
      .withColumn("lp", log(col("n_ab").cast("double") / col("n_a")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("lp")) / count(lit(1)), 6).as("avg_logprob6"))
  }

  /** Heavy-hitter parameters: an item qualifies iff
    * cnt·HhThreshold ≥ N (i.e. frequency ≥ 1/32 of the stream);
    * HhSketchK is the Misra–Gries counter budget. HhSketchK ≥
    * HhThreshold is the correctness coupling: MG guarantees every item
    * with frequency > N/(HhSketchK+1) survives the sketch, so with
    * 64 ≥ 32 every qualifying item is provably in the candidate set
    * and the recounted result is exact.
    *
    * The fixture vocabulary is 31 near-uniform tokens — no natural
    * frequency skew (same fixture gap text_pii_scrub had), so the item
    * stream is DERIVED in-query, identically on both engines, from
    * each (token, doc) occurrence's md5: u = h52 mod 1024; u < 512
    * folds into 8 hot items (~6.25% of the stream each — all heavy
    * hitters), u ≥ 512 stays a ~512-item rare tail (~0.05% each —
    * none qualify, and their cardinality is what forces the sketch to
    * actually shed state). The derivation is the harness; the operator
    * under test is the heavy-hitter plan below it. */
  val HhThreshold = 32
  val HhSketchK = 64

  private[graft] def hhItems(s: SparkSession, dir: String): DataFrame = {
    val occ = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tk"))
    // r20 (VERDICT item 5, guide §1.2 per-task work): the md5-derived
    // item used to cost, per token occurrence and per PASS (both HH
    // entries run two corpus passes), a concat + 32-char hex render +
    // substring + base-16 parse (conv) + base-10 re-render + cast +
    // conditional string concat. `hh_item` streams the digest over the
    // same bytes and reads the item from a precomputed table —
    // bit-exact (HhItemSpec pins the parity against the SQL form,
    // which stays as the extension-absent fallback). Both branches end
    // in the same projection, so callers see one schema either way.
    val items =
      if (s.catalog.functionExists("hh_item"))
        occ.withColumn("item", expr("hh_item(tk, doc_id)"))
      else occ
        .withColumn("u", pmod(expr(
          "cast(conv(substring(md5(concat(tk, ':', cast(doc_id as string))), 1, 13), 16, 10) as bigint)"),
          lit(1024L)))
        .withColumn("item",
          when(col("u") < 512, concat(lit("hot_"), expr("cast(u div 64 as string)")))
            .otherwise(concat(lit("rare_"), col("u").cast("string"))))
    items.select("doc_id", "tk", "item")
  }

  /** Exact heavy hitters: full groupBy + 1-row-total broadcast compare.
    * Correct at any scale, but the shuffle carries the entire distinct
    * item vocabulary — unbounded on a web corpus (typos, URLs, ids).
    * The MG twin below is the bounded-state scale path. */
  val textHeavyHitters: Q = (s, dir) => {
    val items = hhItems(s, dir)
    val total = items.agg(count(lit(1)).as("n"))
    items.groupBy("item").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * HhThreshold >= col("n"))
      .select("item", "cnt", "n")
  }

  /** Misra–Gries two-pass heavy hitters — the 100 TB form. Pass 1:
    * `mg_sketch(item, 64)` (native TypedImperativeAggregate,
    * [[graft.functions.MgSketch]]) keeps exactly 64 counters per
    * partition and ships ONE ≤64-entry summary per partition to the
    * merge — candidate-set memory and shuffle are O(k), independent of
    * vocabulary size; the same aggregation carries the stream length N
    * (one pass, not two), and the ≤64-entry result row is collected to
    * the driver (the kmeans-centroid pattern). Pass 2: exact recount of
    * candidates only (the corpus side map-filters against the ≤64-item
    * literal IN-set before any shuffle) + the same threshold filter. Because MG candidates
    * provably include every item above N/(k+1) ≤ N/HhThreshold, the
    * output is byte-identical to the exact twin — same oracle —
    * even though the intermediate candidate set depends on
    * partitioning. Degrades to the unbounded distinct-candidate form
    * when the extension is absent. */
  val textHeavyHittersMg: Q = (s, dir) => {
    val items = hhItems(s, dir)
    if (s.catalog.functionExists("mg_sketch")) {
      // r19 (guide §2.3/§2.4): the sketch row is DRIVER-sized (≤
      // HhSketchK entries + one long), so pass 1 collects it — the
      // kmeans-centroid pattern — computing the stream length N in the
      // SAME aggregation instead of a third corpus pass, and pass 2
      // screens map-side against the ≤64-item literal IN-set instead
      // of a broadcast join (same semantics, no join, no second
      // scan for the old separate `total` aggregate). Two corpus
      // passes — the two-pass algorithm's floor. Output unchanged:
      // recount + threshold make the result independent of the
      // partitioning-dependent intermediate candidate set.
      // NOTE (eager-construction contract, ADVICE r19): this head()
      // runs the full pass-1 corpus aggregation AT DataFrame-
      // CONSTRUCTION time (inside Bench's timed window — the
      // kmeans-centroid pattern); callers building the query only to
      // inspect its plan pay that scan, and construction can throw.
      val row = items
        .agg(expr(s"mg_sketch(item, $HhSketchK)").as("sk"), count(lit(1)).as("n"))
        .select(map_keys(col("sk")).as("cand"), col("n")).head()
      // defensive: mg_sketch.eval returns an empty map today, but a
      // NULL sketch must degrade to "no candidates", not throw
      val cand = Option(row.getSeq[String](0)).getOrElse(Nil)
      val n = row.getLong(1)
      val screen = if (cand.isEmpty) lit(false) else col("item").isin(cand: _*)
      items.filter(screen)
        .groupBy("item").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * HhThreshold >= n)
        .select(col("item"), col("cnt"), lit(n).as("n"))
    } else {
      val cand = items.select("item").distinct()
      val total = items.agg(count(lit(1)).as("n"))
      items.join(broadcast(cand), Seq("item"))
        .groupBy("item").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(total))
        .filter(col("cnt") * HhThreshold >= col("n"))
        .select("item", "cnt", "n")
    }
  }

  /** Count-min-sketch two-pass heavy hitters — the third member of the
    * mergeable-sketch family (MG counters / bloom bitmap / CMS grid),
    * and the variant that generalizes past heavy hitters to ANY
    * frequency-threshold predicate (MG only answers "top-k-ish"; a CMS
    * answers "estimated count of x" for arbitrary x). Pass 1: Spark's
    * BUILT-IN `count_min_sketch` aggregate folds every occurrence into
    * one eps=0.001 grid (~e/eps × ⌈ln(1/0.01)⌉ cells; partial grids
    * merge cell-wise — one ~150 KB summary per partition over the
    * wire, vocabulary-independent, the same shuffle contract as
    * `mg_sketch`). Pass 2: the occurrence stream screens MAP-SIDE
    * against the grid as a scalar-subquery constant
    * ([[graft.functions.CmsEstimate]] — `graft_might_contain`'s
    * hosting), so the recount shuffle carries only candidate items'
    * occurrences; the exact recount + threshold restores exactness.
    *
    * The theorem: CMS cells only ever overcount, so
    * estimate(x) ≥ count(x) unconditionally — every true heavy hitter
    * passes the screen (no false negatives), and the screen predicate
    * is per-ITEM deterministic, so candidates keep ALL their
    * occurrences and recounts are full counts. Shares the exact twin's
    * oracle verbatim: "CMS screen + confirm ≡ exact" is a driver-gate
    * theorem, independent of the eps/confidence knobs. Degrades to the
    * exact plan when the extension is absent. */
  val textHeavyHittersCms: Q = (s, dir) => {
    if (!s.catalog.functionExists("graft_cms_estimate")) textHeavyHitters(s, dir)
    else {
      hhItems(s, dir).select("item")
        .createOrReplaceTempView("graft_hh_cms_items")
      s.sql(s"""
        WITH sk AS (
          SELECT count_min_sketch(xxhash64(item), CAST(0.001 AS DOUBLE),
                                  CAST(0.99 AS DOUBLE), 42) AS s,
                 COUNT(*) AS n
          FROM graft_hh_cms_items),
        cand AS (
          SELECT item FROM graft_hh_cms_items
          WHERE graft_cms_estimate((SELECT s FROM sk), xxhash64(item))
                  * $HhThreshold >= (SELECT n FROM sk))
        SELECT item, COUNT(*) AS cnt, (SELECT n FROM sk) AS n
        FROM cand GROUP BY item
        HAVING COUNT(*) * $HhThreshold >= (SELECT n FROM sk)""")
    }
  }

  /** Built-in sketch twin: Spark 4's `approx_top_k` (Apache
    * DataSketches frequent-items) over the same derived stream — the
    * builtin-first rule demonstrated on the one sketch Spark 4 ships
    * natively. Rows-only by design, like `approx_distinct` (sketch
    * estimates aren't portable to DuckDB); MgSketchSpec bounds it
    * against the exact twin instead. `mg_sketch` is not redundant
    * with this builtin: the two-pass EXACT plan needs MG's explicit
    * inclusion theorem (every item above N/(k+1) survives) to prove
    * recount-equivalence, while the builtin returns top-k estimates,
    * not recount-able candidates with lower-bound semantics. */
  val textHeavyHittersApprox: Q = (s, dir) =>
    hhItems(s, dir)
      .agg(expr("approx_top_k(item, 20)").as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.item").as("item"), col("e.count").as("cnt_est"))

  val queries: Seq[(String, Q)] = Seq(
    "text_token_stats" -> textTokenStats,
    "text_quality" -> textQuality,
    "text_langid" -> textLangid,
    "text_langid_confusion" -> textLangidConfusion,
    "text_fingerprint" -> textFingerprint,
    "text_line_filter_c4" -> textLineFilterC4,
    "text_pii_scrub" -> textPiiScrub,
    "token_regex_count" -> tokenRegexCount,
    "token_doc_freq_salted" -> tokenDocFreqSalted,
    "corpus_curation" -> corpusCuration,
    "text_repetition" -> textRepetition,
    "text_rare_ratio" -> textRareRatio,
    "corpus_importance_dsir" -> corpusImportanceDsir,
    "text_perplexity_bucket" -> textPerplexityBucket,
    "text_perplexity_bucket_approx" -> textPerplexityBucketApprox,
    "quantile_select_exact" -> quantileSelectExact,
    "quantile_select_plateau" -> quantileSelectPlateau,
    "quantile_select_by_lang" -> quantileSelectByLang,
    "corpus_mix_rebalance" -> corpusMixRebalance,
    "corpus_mix_temperature" -> corpusMixTemperature,
    "bpe_merges" -> bpeMerges,
    "bpe_segment" -> bpeSegment,
    "bpe_token_count" -> bpeTokenCount,
    "text_trigram_backoff" -> textTrigramBackoff,
    "text_trigram_stale_batch" -> textTrigramStaleBatch,
    "bpe_token_count_stream_twin" -> bpeTokenCountStreamTwin,
    "corpus_sample_weighted" -> corpusSampleWeighted,
    "corpus_curation_best" -> corpusCurationBest,
    "dedup_common_ngrams" -> dedupCommonNgrams,
    "corpus_sample" -> corpusSample(SamplePct),
    "doc_chunking" -> docChunking,
    "corpus_pack_bins" -> corpusPackBins,
    "text_tfidf_top_terms" -> textTfidfTopTerms,
    "bm25_topk" -> bm25TopDocs,
    "corpus_sample_stratified" -> corpusSampleStratified,
    "dedup_decontaminate" -> dedupDecontaminate,
    "dedup_decontaminate_stream_twin" -> dedupDecontaminateStreamTwin,
    "dedup_decontaminate_bloom" -> dedupDecontaminateBloom,
    "text_nb_classify" -> textNbClassify,
    "text_bigram_pmi" -> textBigramPmi,
    "text_bigram_logprob" -> textBigramLogprob,
    "text_heavy_hitters" -> textHeavyHitters,
    "text_heavy_hitters_mg" -> textHeavyHittersMg,
    "text_heavy_hitters_cms" -> textHeavyHittersCms,
    "text_heavy_hitters_approx" -> textHeavyHittersApprox)

  /** Shared oracle for both heavy-hitter twins — the MG pass is an
    * internal-plan difference with a provably identical result. */
  private def hhOracleSql: String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
             FROM documents),
         it AS (SELECT CASE WHEN u < 512 THEN 'hot_' || CAST(u // 64 AS VARCHAR)
                       ELSE 'rare_' || CAST(u AS VARCHAR) END AS item
                FROM (SELECT CAST(('0x' || substr(md5(tk || ':' ||
                        CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) % 1024 AS u
                      FROM tok)),
         nn AS (SELECT COUNT(*) AS n FROM it)
       SELECT item, COUNT(*) AS cnt, n
       FROM it, nn GROUP BY item, n HAVING COUNT(*) * $HhThreshold >= n"""

  /** BM25 oracle — generated from the same constants as the Spark side
    * so the term list and every float literal stay in lock-step. */
  private def bm25OracleSql: String = {
    val dfAggs = Bm25Terms.map(q =>
      s"COUNT(CASE WHEN list_contains(tk, '$q') THEN 1 END) AS df_$q").mkString(",\n             ")
    val terms = Bm25Terms.map { q =>
      val tf = s"CAST(len(list_filter(d.tk, x -> x = '$q')) AS DOUBLE)"
      val idf = s"ln(1.0 + (s.n_docs - s.df_$q + 0.5) / (s.df_$q + 0.5))"
      s"$idf * ($tf * ${Bm25K1 + 1}) / ($tf + $Bm25K1 * (${1 - Bm25B} + $Bm25B * d.dl / s.avgdl))"
    }.mkString("\n             + ")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
         s AS (SELECT COUNT(*) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
             $dfAggs
           FROM d)
         SELECT doc_id, bm25_6 FROM (
           SELECT d.doc_id,
             round($terms, 6) AS bm25_6
           FROM d CROSS JOIN s)
         WHERE bm25_6 > 0 ORDER BY bm25_6 DESC, doc_id LIMIT $Bm25TopK"""
  }

  /** Shared by `dedup_decontaminate` and its stream twin — one oracle
    * text, two execution paths (batch aggregate vs streaming screen). */
  private val decontaminateOracleSql: String =
    s"""WITH g AS (
         SELECT doc_id,
           CAST(('0x' || substr(md5(text), 1, 13)) AS BIGINT) % 100 AS bucket,
           array_to_string(t[i:i+7], ' ') AS ngram
         FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
              unnest(generate_series(1, len(t) - 7)) u(i)
         WHERE len(t) >= 8),
       h AS (SELECT DISTINCT ngram, doc_id AS h_id FROM g
             WHERE bucket >= $HeldoutBucket)
       SELECT g.doc_id, COUNT(DISTINCT g.ngram) AS n_shared,
         COUNT(DISTINCT h.h_id) AS n_heldout_docs
       FROM g JOIN h ON g.ngram = h.ngram
       WHERE g.bucket < $HeldoutBucket GROUP BY g.doc_id"""

  /** Shared by `text_langid` and the confusion-matrix derivation. */
  private val langidOracleSql: String =
    """SELECT doc_id, lang AS labeled_lang,
       CAST(len(list_filter(t, x -> x = 'the' OR x = 'a')) AS BIGINT) AS n_en,
       CAST(len(list_filter(t, x -> x = 'der' OR x = 'die')) AS BIGINT) AS n_de,
       CAST(len(list_filter(t, x -> x = 'le' OR x = 'la')) AS BIGINT) AS n_fr,
       CASE
         WHEN len(list_filter(t, x -> x = 'the' OR x = 'a'))
                >= len(list_filter(t, x -> x = 'der' OR x = 'die'))
          AND len(list_filter(t, x -> x = 'the' OR x = 'a'))
                >= len(list_filter(t, x -> x = 'le' OR x = 'la'))
          AND len(list_filter(t, x -> x = 'the' OR x = 'a')) > 0 THEN 'en'
         WHEN len(list_filter(t, x -> x = 'der' OR x = 'die'))
                >= len(list_filter(t, x -> x = 'le' OR x = 'la'))
          AND len(list_filter(t, x -> x = 'der' OR x = 'die')) > 0 THEN 'de'
         WHEN len(list_filter(t, x -> x = 'le' OR x = 'la')) > 0 THEN 'fr'
         ELSE 'und' END AS pred_lang
       FROM (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents)"""

  val oracles: Seq[(String, String)] = Seq(
    "text_token_stats" ->
      """SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
         CAST(length(text) AS BIGINT) AS n_chars_calc,
         CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS DOUBLE)
           / len(string_split(text, ' ')) AS avg_tok_len
         FROM documents""",
    "text_quality" ->
      """SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(t, x -> x = 'the' OR x = 'a' OR x = 'of')) AS BIGINT) AS n_stop,
         CAST(len(list_filter(t, x -> x = 'the' OR x = 'a' OR x = 'of')) AS DOUBLE)
           / len(t) AS stop_ratio,
         CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS diversity,
         CASE WHEN len(t) >= 20 AND len(t) <= 80 THEN 1 ELSE 0 END AS len_ok
         FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)""",
    "text_langid" -> langidOracleSql,
    "text_langid_confusion" ->
      s"""WITH pred AS ($langidOracleSql),
          cells AS (SELECT labeled_lang, pred_lang, COUNT(*) AS n
                    FROM pred GROUP BY 1, 2),
          totals AS (SELECT labeled_lang, COUNT(*) AS n_labeled
                     FROM pred GROUP BY 1)
          SELECT c.labeled_lang, c.pred_lang, c.n,
            round(CAST(c.n AS DOUBLE) / t.n_labeled, 6) AS recall6
          FROM cells c JOIN totals t ON c.labeled_lang = t.labeled_lang""",
    "text_line_filter_c4" ->
      """SELECT doc_id,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(kept) AS BIGINT) AS n_kept,
         md5(array_to_string(kept, chr(10))) AS clean_md5
         FROM (
           SELECT doc_id, lines,
             list_filter(lines, l -> len(string_split(l, ' ')) >= 5) AS kept
           FROM (
             SELECT doc_id,
               string_split(replace(text, ' the ', chr(10) || 'the '), chr(10)) AS lines
             FROM documents))""",
    "text_pii_scrub" ->
      s"""SELECT doc_id,
          CAST(len(regexp_extract_all(aug, '$EmailRe')) AS BIGINT) AS n_emails,
          CAST(len(regexp_extract_all(aug, '$PhoneRe')) AS BIGINT) AS n_phones,
          md5(regexp_replace(regexp_replace(aug, '$EmailRe', '<EMAIL>', 'g'),
            '$PhoneRe', '<PHONE>', 'g')) AS scrub_md5
          FROM (
            SELECT doc_id,
              text || ' Contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ||
              CASE WHEN doc_id % 3 = 0
                   THEN ' or admin' || CAST(doc_id AS VARCHAR) || '@mail.test'
                   ELSE '' END ||
              ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
            FROM documents)""",
    "text_fingerprint" ->
"""SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
         MIN(doc_id) AS rep_id, COUNT(*) AS n
         FROM documents GROUP BY 1""",
    "token_regex_count" ->
      """SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_alpha,
         CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num,
         CAST(len(regexp_extract_all(text, '[a-z]{5,}')) AS BIGINT) AS n_long
         FROM documents""",
    "token_doc_freq_salted" ->
      """SELECT tk, COUNT(DISTINCT doc_id) AS df FROM (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents)
         GROUP BY tk""",
    "corpus_curation" ->
      """WITH x AS (
           SELECT doc_id, md5(text) AS fp, t,
             CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(t, x -> x = 'the' OR x = 'a' OR x = 'of')) AS DOUBLE)
               / len(t) AS stop_ratio,
             CASE WHEN len(t) BETWEEN 20 AND 80 THEN 1 ELSE 0 END AS len_ok,
             CASE
               WHEN len(list_filter(t, x -> x = 'the' OR x = 'a'))
                      >= len(list_filter(t, x -> x = 'der' OR x = 'die'))
                AND len(list_filter(t, x -> x = 'the' OR x = 'a'))
                      >= len(list_filter(t, x -> x = 'le' OR x = 'la'))
                AND len(list_filter(t, x -> x = 'the' OR x = 'a')) > 0 THEN 'en'
               WHEN len(list_filter(t, x -> x = 'der' OR x = 'die'))
                      >= len(list_filter(t, x -> x = 'le' OR x = 'la'))
                AND len(list_filter(t, x -> x = 'der' OR x = 'die')) > 0 THEN 'de'
               WHEN len(list_filter(t, x -> x = 'le' OR x = 'la')) > 0 THEN 'fr'
               ELSE 'und' END AS pred_lang
           FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)),
         r AS (SELECT fp, MIN(doc_id) AS rep FROM x GROUP BY fp)
         SELECT x.doc_id, x.pred_lang, x.n_tokens, x.stop_ratio, x.len_ok,
           CASE WHEN x.doc_id = r.rep THEN 1 ELSE 0 END AS is_rep,
           CASE WHEN x.doc_id = r.rep AND x.len_ok = 1
                 AND x.pred_lang <> 'und' AND x.stop_ratio <= 0.5
                THEN 1 ELSE 0 END AS keep
         FROM x JOIN r ON x.fp = r.fp""",
    "text_repetition" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         tf AS (SELECT doc_id, tk, COUNT(*) AS c FROM (
                  SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents)
                GROUP BY doc_id, tk),
         ts AS (SELECT doc_id, SUM(c) AS n_tokens, COUNT(*) AS n_distinct,
                  MAX(c) AS top_tf FROM tf GROUP BY doc_id),
         bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
                FROM tok, unnest(generate_series(1, len(t) - 1)) u(i)
                WHERE len(t) >= 2),
         bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg),
         bs AS (SELECT doc_id, MAX(c) AS top_bi, SUM(c) AS n_bigrams
                FROM bc GROUP BY doc_id)
         SELECT ts.doc_id, CAST(ts.n_tokens AS BIGINT) AS n_tokens,
           1.0 - CAST(ts.n_distinct AS DOUBLE) / ts.n_tokens AS dup_token_frac,
           CAST(ts.top_tf AS DOUBLE) / ts.n_tokens AS top_token_frac,
           CAST(bs.top_bi AS DOUBLE) / bs.n_bigrams AS top_bigram_frac
         FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id""",
    "text_rare_ratio" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tk
           FROM documents),
         dft AS (SELECT tk, COUNT(*) AS df FROM toks GROUP BY tk)
         SELECT t.doc_id, COUNT(*) AS n_distinct,
           COUNT(CASE WHEN d.df <= 2 THEN 1 END) AS n_rare,
           CAST(COUNT(CASE WHEN d.df <= 2 THEN 1 END) AS DOUBLE) / COUNT(*) AS rare_ratio
         FROM toks t JOIN dft d ON t.tk = d.tk
         GROUP BY t.doc_id""",
    "corpus_importance_dsir" ->
      s"""WITH toks AS (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
            FROM documents),
          vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_all,
                      CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
                    FROM toks GROUP BY w),
          tot AS (SELECT CAST(SUM(n_all) AS BIGINT) AS t_all,
                    CAST(SUM(n_en) AS BIGINT) AS t_en,
                    CAST(COUNT(*) AS BIGINT) AS vsz
                  FROM vocab),
          wt AS (SELECT w,
                   ln((CAST(n_en + 1 AS DOUBLE) / (t_en + vsz))
                      / (CAST(n_all + 1 AS DOUBLE) / (t_all + vsz))) AS lw
                 FROM vocab CROSS JOIN tot)
          SELECT doc_id, COUNT(*) AS n_tokens, round(SUM(lw), 6) AS dsir6
          FROM toks JOIN wt ON toks.w = wt.w
          GROUP BY doc_id
          ORDER BY dsir6 DESC, doc_id LIMIT $DsirTopK""",
    "text_perplexity_bucket" ->
      """WITH lp AS (
           SELECT doc_id, avg_logprob6 FROM (
             WITH big AS (
               SELECT doc_id, t[i] AS w1, t[i+1] AS w2
               FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
                    unnest(generate_series(1, len(t) - 1)) u(i)
               WHERE len(t) >= 2),
             ab AS (SELECT w1, w2, COUNT(*) AS n_ab FROM big GROUP BY 1, 2),
             fst AS (SELECT w1, COUNT(*) AS n_a FROM big GROUP BY 1)
             SELECT b.doc_id,
               round(SUM(ln(CAST(a.n_ab AS DOUBLE) / f.n_a)) / COUNT(*), 6) AS avg_logprob6
             FROM big b JOIN ab a ON b.w1 = a.w1 AND b.w2 = a.w2
                  JOIN fst f ON b.w1 = f.w1
             GROUP BY b.doc_id)),
         th AS (SELECT round(quantile_cont(avg_logprob6, 0.33), 6) AS t33,
                  round(quantile_cont(avg_logprob6, 0.67), 6) AS t67
                FROM lp)
         SELECT doc_id, avg_logprob6,
           CASE WHEN avg_logprob6 >= t67 THEN 'head'
                WHEN avg_logprob6 >= t33 THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM lp CROSS JOIN th""",
    // exact top-1% ground truth: the oracle pays the full sort the
    // entry's sketch screen avoids — identical output is the theorem
    "quantile_select_exact" -> quantileSelectOracle,
    // the plateau-aware twin shares the SAME oracle — split-at-boundary
    // selection ≡ slice-sort selection is itself a gate theorem
    "quantile_select_plateau" -> quantileSelectOracle,
    // grouped ground truth: the per-language full rank the screened
    // entry avoids computing over non-candidates
    "quantile_select_by_lang" ->
      """WITH d AS (SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS len
                    FROM documents WHERE text IS NOT NULL),
         kk AS (SELECT lang, CAST(ceil(COUNT(*) / 100.0) AS BIGINT) AS k
                FROM d GROUP BY lang),
         r AS (SELECT lang, doc_id, len,
                 row_number() OVER (PARTITION BY lang ORDER BY len DESC, doc_id) AS rk
               FROM d)
         SELECT r.lang, doc_id, len, CAST(rk AS BIGINT) AS rk
         FROM r JOIN kk ON r.lang = kk.lang
         WHERE rk <= kk.k""",
    "corpus_mix_rebalance" ->
      """WITH per AS (SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS lang_tokens
           FROM documents GROUP BY lang),
         tot AS (SELECT CAST(SUM(lang_tokens) AS BIGINT) AS tot_tokens,
                   CAST(COUNT(*) AS BIGINT) AS n_langs
                 FROM per)
         SELECT lang, n_docs, lang_tokens,
           round(CAST(lang_tokens AS DOUBLE) / tot_tokens, 6) AS share6,
           round(CAST(tot_tokens AS DOUBLE) / (n_langs * lang_tokens), 6) AS weight6
         FROM per CROSS JOIN tot""",
    "text_trigram_backoff" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) % 5 = 0 AS is_eval
           FROM documents),
         train AS (SELECT * FROM d WHERE NOT is_eval),
         ev AS (SELECT * FROM d WHERE is_eval),
         uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
                 FROM (SELECT unnest(t) AS w FROM train) GROUP BY w),
         tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS v FROM uni),
         bi AS (SELECT t[i] AS w1, t[i+1] AS w2, CAST(COUNT(*) AS BIGINT) AS c2
                FROM train, unnest(generate_series(1, len(t) - 1)) u(i)
                WHERE len(t) >= 2 GROUP BY 1, 2),
         tri AS (SELECT t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3, CAST(COUNT(*) AS BIGINT) AS c3
                 FROM train, unnest(generate_series(1, len(t) - 2)) u(i)
                 WHERE len(t) >= 3 GROUP BY 1, 2, 3),
         g AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
               FROM ev, unnest(generate_series(1, len(t) - 2)) u(i)
               WHERE len(t) >= 3),
         sc AS (SELECT doc_id,
             CASE WHEN tr.c3 IS NOT NULL THEN 3
                  WHEN b23.c2 IS NOT NULL THEN 2 ELSE 1 END AS lvl,
             CAST(round(ln(
               CASE WHEN tr.c3 IS NOT NULL THEN tr.c3 / CAST(b12.c2 AS DOUBLE)
                    WHEN b23.c2 IS NOT NULL THEN 0.4 * b23.c2 / CAST(u2.c1 AS DOUBLE)
                    ELSE 0.16 * (COALESCE(u3.c1, 0) + 1) / CAST(tot.n + tot.v AS DOUBLE)
               END) * 1000000, 0) AS BIGINT) AS micro
           FROM g
           LEFT JOIN tri tr ON g.w1 = tr.w1 AND g.w2 = tr.w2 AND g.w3 = tr.w3
           LEFT JOIN bi b12 ON g.w1 = b12.w1 AND g.w2 = b12.w2
           LEFT JOIN bi b23 ON g.w2 = b23.w1 AND g.w3 = b23.w2
           LEFT JOIN uni u2 ON g.w2 = u2.w
           LEFT JOIN uni u3 ON g.w3 = u3.w
           CROSS JOIN tot)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri,
           CAST(COUNT(CASE WHEN lvl = 3 THEN 1 END) AS BIGINT) AS hits3,
           CAST(COUNT(CASE WHEN lvl = 2 THEN 1 END) AS BIGINT) AS hits2,
           CAST(COUNT(CASE WHEN lvl = 1 THEN 1 END) AS BIGINT) AS hits1,
           round(CAST(SUM(micro) AS DOUBLE) / (1000000.0 * COUNT(*)), 6) AS avg_sb6
         FROM sc GROUP BY doc_id""",
    // same model CTEs as text_trigram_backoff; the batch is the eval
    // split in FULL (no re-split) with one appended OOV token per doc,
    // so the unigram add-1 floor (COALESCE over a NULL c1) fires for
    // every document — the stale-model serving semantics, hash-gated
    "text_trigram_stale_batch" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) % 5 = 0 AS is_eval
           FROM documents),
         train AS (SELECT * FROM d WHERE NOT is_eval),
         ev AS (SELECT doc_id, t || ['zzq' || CAST(doc_id AS VARCHAR)] AS t
                FROM d WHERE is_eval),
         uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
                 FROM (SELECT unnest(t) AS w FROM train) GROUP BY w),
         tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS v FROM uni),
         bi AS (SELECT t[i] AS w1, t[i+1] AS w2, CAST(COUNT(*) AS BIGINT) AS c2
                FROM train, unnest(generate_series(1, len(t) - 1)) u(i)
                WHERE len(t) >= 2 GROUP BY 1, 2),
         tri AS (SELECT t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3, CAST(COUNT(*) AS BIGINT) AS c3
                 FROM train, unnest(generate_series(1, len(t) - 2)) u(i)
                 WHERE len(t) >= 3 GROUP BY 1, 2, 3),
         g AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
               FROM ev, unnest(generate_series(1, len(t) - 2)) u(i)
               WHERE len(t) >= 3),
         sc AS (SELECT doc_id,
             CASE WHEN tr.c3 IS NOT NULL THEN 3
                  WHEN b23.c2 IS NOT NULL THEN 2 ELSE 1 END AS lvl,
             CAST(round(ln(
               CASE WHEN tr.c3 IS NOT NULL THEN tr.c3 / CAST(b12.c2 AS DOUBLE)
                    WHEN b23.c2 IS NOT NULL THEN 0.4 * b23.c2 / CAST(u2.c1 AS DOUBLE)
                    ELSE 0.16 * (COALESCE(u3.c1, 0) + 1) / CAST(tot.n + tot.v AS DOUBLE)
               END) * 1000000, 0) AS BIGINT) AS micro
           FROM g
           LEFT JOIN tri tr ON g.w1 = tr.w1 AND g.w2 = tr.w2 AND g.w3 = tr.w3
           LEFT JOIN bi b12 ON g.w1 = b12.w1 AND g.w2 = b12.w2
           LEFT JOIN bi b23 ON g.w2 = b23.w1 AND g.w3 = b23.w2
           LEFT JOIN uni u2 ON g.w2 = u2.w
           LEFT JOIN uni u3 ON g.w3 = u3.w
           CROSS JOIN tot)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri,
           CAST(COUNT(CASE WHEN lvl = 3 THEN 1 END) AS BIGINT) AS hits3,
           CAST(COUNT(CASE WHEN lvl = 2 THEN 1 END) AS BIGINT) AS hits2,
           CAST(COUNT(CASE WHEN lvl = 1 THEN 1 END) AS BIGINT) AS hits1,
           round(CAST(SUM(micro) AS DOUBLE) / (1000000.0 * COUNT(*)), 6) AS avg_sb6
         FROM sc GROUP BY doc_id""",
    "bpe_merges" -> s"""$bpeCtePrefix
         SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS round, l AS lhs, r AS rhs, wt AS pair_weight FROM b1
           UNION ALL
           SELECT CAST(2 AS BIGINT), l, r, wt FROM b2
           UNION ALL
           SELECT CAST(3 AS BIGINT), l, r, wt FROM b3)
         WHERE lhs <> ''""",
    "bpe_segment" -> s"""$bpeCtePrefix
         SELECT word, cnt, seq AS seg FROM s$BpeRounds""",
    "bpe_token_count" -> bpeTokenCountOracle,
    // the ingest stream computes the SAME per-doc counts through the
    // stateless model-scoring topology — one oracle text, two paths
    "bpe_token_count_stream_twin" -> bpeTokenCountOracle,
    // T=2 exponential smoothing: sqrt is correctly-rounded IEEE on
    // both engines; the micro-rounded BIGINT r makes Z an order-free
    // integer sum (the nb-classify discipline)
    "corpus_mix_temperature" ->
      """WITH per AS (SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS lang_tokens
           FROM documents GROUP BY lang),
         tot AS (SELECT CAST(SUM(lang_tokens) AS BIGINT) AS tot_tokens FROM per),
         sc AS (SELECT lang, n_docs, lang_tokens, tot_tokens,
             round(CAST(lang_tokens AS DOUBLE) / tot_tokens, 6) AS share6,
             CAST(round(sqrt(round(CAST(lang_tokens AS DOUBLE) / tot_tokens, 6)) * 1000000, 0) AS BIGINT) AS r
           FROM per CROSS JOIN tot),
         zz AS (SELECT CAST(SUM(r) AS BIGINT) AS z FROM sc)
         SELECT lang, n_docs, lang_tokens, share6,
           round(CAST(r AS DOUBLE) / z, 6) AS tshare6,
           round(round(CAST(r AS DOUBLE) / z, 6) * tot_tokens / lang_tokens, 6) AS weight6
         FROM sc CROSS JOIN zz""",
    "corpus_sample_weighted" ->
      s"""WITH per AS (SELECT lang,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS lang_tokens
           FROM documents GROUP BY lang),
         tot AS (SELECT CAST(SUM(lang_tokens) AS BIGINT) AS tot_tokens,
                   CAST(COUNT(*) AS BIGINT) AS n_langs
                 FROM per),
         cuts AS (SELECT lang,
             CAST(floor(least(1.0,
               round(CAST(tot_tokens AS DOUBLE) / (n_langs * lang_tokens), 6)
                 * $WeightedSampleRate) * 4503599627370496.0) AS BIGINT) AS h_cut
           FROM per CROSS JOIN tot)
         SELECT d.doc_id, d.lang, d.h52
         FROM (SELECT doc_id, lang,
                 CAST(('0x' || substr(md5(text), 1, 13)) AS BIGINT) AS h52
               FROM documents) d
         JOIN cuts ON d.lang = cuts.lang
         WHERE d.h52 < cuts.h_cut""",
    "corpus_curation_best" ->
      s"""${DedupOps.clusterCtePrefix},
         clusters AS (SELECT doc AS doc_id, MIN(lab) AS cluster FROM reach GROUP BY doc),
         q AS (SELECT doc_id,
                 round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6) AS diversity6
               FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
         ranked AS (
           SELECT c.cluster, c.doc_id, q.diversity6,
             row_number() OVER (PARTITION BY c.cluster
                                ORDER BY q.diversity6 DESC, c.doc_id) AS r,
             COUNT(*) OVER (PARTITION BY c.cluster) AS n_members
           FROM clusters c JOIN q ON c.doc_id = q.doc_id)
         SELECT cluster, doc_id AS best_doc, diversity6,
           CAST(n_members AS BIGINT) AS n_members
         FROM ranked WHERE r = 1""",
    "dedup_common_ngrams" ->
      """SELECT ngram, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occur
         FROM (
           SELECT doc_id, array_to_string(t[i:i+7], ' ') AS ngram
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
                unnest(generate_series(1, len(t) - 7)) u(i)
           WHERE len(t) >= 8)
         GROUP BY ngram HAVING COUNT(DISTINCT doc_id) >= 2
         ORDER BY n_docs DESC, n_occur DESC, ngram LIMIT 20""",
    "corpus_sample" ->
      s"""SELECT doc_id, source, lang,
           CAST(('0x' || substr(md5(text), 1, 13)) AS BIGINT) % 100 AS bucket
         FROM documents
         WHERE CAST(('0x' || substr(md5(text), 1, 13)) AS BIGINT) % 100 < $SamplePct""",
    "doc_chunking" ->
      s"""SELECT doc_id,
           CAST((st - 1) // $ChunkStride AS BIGINT) AS chunk_idx,
           CAST(st AS BIGINT) AS start_tok,
           CAST(len(t[st:st+${ChunkSize - 1}]) AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(t[st:st+${ChunkSize - 1}], ' ')) AS chunk_md5
         FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              unnest(generate_series(1, len(t), $ChunkStride)) u(st)""",
    "corpus_pack_bins" ->
      s"""WITH base AS (
           SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(('0x' || substr(md5(text), 1, 13)) AS BIGINT) AS h52,
             doc_id % $PackShards AS shard
           FROM documents),
         c AS (SELECT *, COALESCE(SUM(n_tokens) OVER (
                 PARTITION BY source, shard ORDER BY h52, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl
               FROM base)
         SELECT doc_id, source, CAST(shard AS BIGINT) AS shard, n_tokens,
           CAST(cum_excl // $PackBudget AS BIGINT) AS bin,
           CAST(row_number() OVER (
             PARTITION BY source, shard, cum_excl // $PackBudget
             ORDER BY h52, doc_id) AS BIGINT) AS pos_in_bin
         FROM c""",
    "text_tfidf_top_terms" ->
      s"""WITH tf AS (
           SELECT doc_id, tk, COUNT(*) AS tf FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents)
           GROUP BY doc_id, tk),
         dft AS (SELECT tk, COUNT(*) AS df FROM tf GROUP BY tk),
         n AS (SELECT COUNT(*) AS n_docs FROM documents)
         SELECT doc_id, tk, tf, df, tfidf6 FROM (
           SELECT t.doc_id, t.tk, t.tf, d.df,
             round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6) AS tfidf6,
             row_number() OVER (PARTITION BY t.doc_id
               ORDER BY round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6) DESC, t.tk) AS r
           FROM tf t JOIN dft d ON t.tk = d.tk CROSS JOIN n)
         WHERE r <= $TfIdfTopK""",
    "bm25_topk" -> bm25OracleSql,
    "dedup_decontaminate" -> decontaminateOracleSql,
    // the stream twin computes the SAME result through the streaming
    // screen — one oracle text, two execution paths
    "dedup_decontaminate_stream_twin" -> decontaminateOracleSql,
    // the bloom pre-screen + exact confirm join MUST equal the exact
    // screen (no false negatives; confirm removes the FP tail) — one
    // oracle text, three execution paths
    "dedup_decontaminate_bloom" -> decontaminateOracleSql,
    "text_nb_classify" ->
      s"""WITH d0 AS (SELECT doc_id, text,
              CAST(('0x' || substr(md5(text), 1, 13)) AS BIGINT) AS h
            FROM documents),
          d AS (SELECT doc_id,
              CASE WHEN h % 2 = 0 THEN 'pos' ELSE 'neg' END AS actual,
              CAST(CASE WHEN (h // 64) % $NbTestMod = 0 THEN 1 ELSE 0 END AS BIGINT)
                AS is_test,
              text || ' ' ||
              (CASE WHEN h % 2 = 0
                 THEN ['zqa','zqb','zqc','zqd'][CAST(h // 4 % 4 AS INT) + 1]
                 ELSE ['zna','znb','znc','znd'][CAST(h // 4 % 4 AS INT) + 1] END)
              || ' ' ||
              (CASE WHEN h % 2 = 0
                 THEN ['zqa','zqb','zqc','zqd'][CAST(h // 16 % 4 AS INT) + 1]
                 ELSE ['zna','znb','znc','znd'][CAST(h // 16 % 4 AS INT) + 1] END)
                AS text2
            FROM d0),
          toks AS (SELECT doc_id, is_test, actual,
              unnest(string_split(text2, ' ')) AS tk FROM d),
          counts AS (SELECT tk,
              SUM(CASE WHEN actual = 'pos' THEN 1 ELSE 0 END) AS n_pos,
              SUM(CASE WHEN actual = 'pos' THEN 0 ELSE 1 END) AS n_neg
            FROM toks WHERE is_test = 0 GROUP BY tk),
          tot AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS tot_pos,
              CAST(SUM(n_neg) AS BIGINT) AS tot_neg, COUNT(*) AS v FROM counts),
          dt AS (SELECT SUM(CASE WHEN actual = 'pos' THEN 1 ELSE 0 END) AS d_pos,
              SUM(CASE WHEN actual = 'pos' THEN 0 ELSE 1 END) AS d_neg
            FROM d WHERE is_test = 0),
          lr AS (SELECT tk,
              CAST(round((ln((n_pos + 1) / CAST(tot_pos + v AS DOUBLE))
                - ln((n_neg + 1) / CAST(tot_neg + v AS DOUBLE))) * 1000000, 0) AS BIGINT)
                AS lr_micro
            FROM counts CROSS JOIN tot),
          consts AS (SELECT
              CAST(round((ln(1.0 / (tot_pos + v)) - ln(1.0 / (tot_neg + v)))
                * 1000000, 0) AS BIGINT) AS lr0,
              (SELECT CAST(round((ln(CAST(d_pos AS DOUBLE)) - ln(CAST(d_neg AS DOUBLE)))
                * 1000000, 0) AS BIGINT) FROM dt) AS prior
            FROM tot),
          scored AS (SELECT t.doc_id, t.is_test, t.actual,
              CAST(SUM(COALESCE(l.lr_micro, c.lr0)) + MAX(c.prior) AS BIGINT)
                AS score_micro
            FROM toks t CROSS JOIN consts c LEFT JOIN lr l ON l.tk = t.tk
            GROUP BY t.doc_id, t.is_test, t.actual)
          SELECT doc_id, is_test, score_micro,
            CASE WHEN score_micro > 0 THEN 'pos' ELSE 'neg' END AS pred,
            actual,
            CAST(CASE WHEN (score_micro > 0) = (actual = 'pos') THEN 1 ELSE 0 END AS BIGINT)
              AS correct
          FROM scored""",
    "text_bigram_pmi" ->
      s"""WITH bi AS (
           SELECT t[i] AS w1, t[i+1] AS w2, COUNT(*) AS n_ab
           FROM (SELECT string_split(text, ' ') AS t FROM documents),
                unnest(generate_series(1, len(t) - 1)) u(i)
           WHERE len(t) >= 2 GROUP BY 1, 2),
         uni AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         unic AS (SELECT w, COUNT(*) AS n_w FROM uni GROUP BY w),
         tot AS (SELECT (SELECT SUM(n_ab) FROM bi) AS t_bi,
                        (SELECT SUM(n_w) FROM unic) AS t_uni)
         SELECT b.w1, b.w2, b.n_ab,
           round(ln((CAST(b.n_ab AS DOUBLE) / t.t_bi) /
             ((CAST(a.n_w AS DOUBLE) / t.t_uni) * (CAST(c.n_w AS DOUBLE) / t.t_uni))), 6)
             AS pmi6
         FROM bi b JOIN unic a ON b.w1 = a.w JOIN unic c ON b.w2 = c.w
              CROSS JOIN tot t
         WHERE b.n_ab >= $PmiMinCount
         ORDER BY pmi6 DESC, b.w1, b.w2 LIMIT $PmiTopK""",
    "text_bigram_logprob" ->
      """WITH big AS (
           SELECT doc_id, t[i] AS w1, t[i+1] AS w2
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
                unnest(generate_series(1, len(t) - 1)) u(i)
           WHERE len(t) >= 2),
         ab AS (SELECT w1, w2, COUNT(*) AS n_ab FROM big GROUP BY 1, 2),
         fst AS (SELECT w1, COUNT(*) AS n_a FROM big GROUP BY 1)
         SELECT b.doc_id, COUNT(*) AS n_bigrams,
           round(SUM(ln(CAST(a.n_ab AS DOUBLE) / f.n_a)) / COUNT(*), 6) AS avg_logprob6
         FROM big b JOIN ab a ON b.w1 = a.w1 AND b.w2 = a.w2
              JOIN fst f ON b.w1 = f.w1
         GROUP BY b.doc_id""",
    "corpus_sample_stratified" ->
      s"""SELECT lang, doc_id, h52, rk FROM (
           SELECT lang, doc_id, h52,
             CAST(row_number() OVER (PARTITION BY lang ORDER BY h52, doc_id) AS BIGINT) AS rk
           FROM (SELECT lang, doc_id,
                   CAST(('0x' || substr(md5(text), 1, 13)) AS BIGINT) AS h52
                 FROM documents))
         WHERE rk <= $StratQuota""",
    "text_heavy_hitters" -> hhOracleSql,
    "text_heavy_hitters_mg" -> hhOracleSql,
    "text_heavy_hitters_cms" -> hhOracleSql)
}
