package graft.operators.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Tokenize

/** Text-analysis operators for training-data pipelines: quality
  * scoring, language ID, token counting, fingerprinting. All
  * expression-level (codegen'd), one scan, no shuffle except the final
  * presentation sort — the shape that holds at 100 TB.
  */
object TextAnalysis {

  private val stopwords = Seq("the", "a", "of", "and", "to")

  /** Quality scoring: length/stopword/diversity ratios and a composite
    * score. All ratios are exact IEEE divisions of integers, rounded
    * for cross-engine comparison.
    *
    * Shape: explode tokens once → one codegen'd hash-aggregate per doc
    * (higher-order array functions are interpreted per row and Catalyst
    * re-inlines the token array per reference — measured 20 s vs 3 s at
    * sf0.1). One shuffle on doc_id. */
  def quality(documents: DataFrame): DataFrame = {
    // explode_outer + count(w): a zero-token document must still get a
    // quality row (n_words = 0, ratios NULL, score 0) — plain explode
    // silently drops exactly the documents that should score lowest
    val perDoc = graft.core.Tables.spread(documents)
      .select(col("doc_id"), length(col("text")).cast("long").as("char_len"),
        explode_outer(Tokenize.tokensNullable(col("text"))).as("w"))
      .groupBy(col("doc_id"))
      .agg(
        count(col("w")).as("n_words"),
        sum(when(col("w").isin(stopwords: _*), 1L).otherwise(0L)).as("stop_ct"),
        countDistinct(col("w")).as("uniq_ct"),
        first(col("char_len")).as("char_len"))
    perDoc.select(
        col("doc_id"),
        col("n_words"),
        round(col("stop_ct") / col("n_words"), 4).as("stop_ratio"),
        round(col("uniq_ct") / col("n_words"), 4).as("uniq_ratio"),
        round(col("char_len").cast("double") / col("n_words"), 4)
          .as("avg_token_span"),
        when(col("n_words") === 0, 0.0).otherwise(
          round(least(col("n_words") / lit(200.0), lit(1.0)) *
            (col("uniq_ct") / col("n_words")), 4)).as("quality_score"))
      .orderBy("doc_id")
  }

  /** Language ID by stopword-marker voting (n-gram heuristic):
    * the lang with the most marker hits wins; ties resolve in fixed
    * priority order en > es > fr > de; no hits → 'und'. */
  def langId(documents: DataFrame): DataFrame = {
    def hits(markers: Seq[String]) =
      sum(when(col("w").isin(markers: _*), 1L).otherwise(0L))
    graft.core.Tables.spread(documents)
      // explode_outer: zero-token docs classify as 'und', not vanish
      .select(col("doc_id"), col("lang"),
        explode_outer(Tokenize.tokensNullable(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(hits(Seq("the", "and", "of")).as("en_ct"),
        hits(Seq("el", "la", "los", "y")).as("es_ct"),
        hits(Seq("le", "et", "les")).as("fr_ct"),
        hits(Seq("der", "und", "die")).as("de_ct"))
      .withColumn("pred_lang",
        when(col("en_ct") >= col("es_ct") && col("en_ct") >= col("fr_ct") &&
          col("en_ct") >= col("de_ct") && col("en_ct") > 0, "en")
          .when(col("es_ct") >= col("fr_ct") && col("es_ct") >= col("de_ct") &&
            col("es_ct") > 0, "es")
          .when(col("fr_ct") >= col("de_ct") && col("fr_ct") > 0, "fr")
          .when(col("de_ct") > 0, "de")
          .otherwise("und"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("doc_ct"))
      .orderBy("lang", "pred_lang")
  }

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs / digit runs / single symbols). `regexp_count` counts
    * matches without materializing a match array per document
    * (`regexp_extract_all` + `size` allocated every match first —
    * measured ~2× slower at sf0.1); non-empty whitespace tokens are
    * exactly the `\S+` runs. */
  def tokenCounts(documents: DataFrame): DataFrame =
    graft.core.Tables.spread(documents)
      .select(
        col("doc_id"),
        regexp_count(col("text"), lit("\\S+")).cast("long").as("ws_tokens"),
        regexp_count(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).cast("long")
          .as("bpe_ish_tokens"),
        length(col("text")).cast("long").as("char_len"))
      .orderBy("doc_id")

  /** Winnowing fingerprints (the rolling-hash scheme used for local
    * plagiarism/near-dup detection): hash every `k`-char gram, take the
    * min over each window of `w` consecutive gram hashes, keep the
    * distinct minima per document. Computed by the native one-pass
    * `WinnowMinima` expression — the relational form below explodes a
    * row per character through a sort + sliding window and was the
    * bench's heaviest query (measured 3.6 s → 1.3 s at sf0.1). Both
    * forms are bit-identical (parity spec) and match the unchanged
    * DuckDB oracle (gram hash = first 8 hex digits of md5). */
  def winnowFingerprints(documents: DataFrame, k: Int = 8, w: Int = 8): DataFrame =
    graft.core.Tables.spread(documents)
      .select(col("doc_id"),
        graft.functions.TextExprs.winnow_minima(col("text"), k, w).as("wf"))
      .select(col("doc_id"),
        size(array_distinct(col("wf"))).cast("long").as("fp_ct"),
        array_min(col("wf")).as("fp_min"),
        array_max(col("wf")).as("fp_max"))
      .orderBy("doc_id")

  /** The fully relational twin (posexplode + rows-window min) — kept as
    * the cross-engine reference implementation the parity spec checks
    * the native expression against. */
  def winnowFingerprintsRelational(documents: DataFrame, k: Int = 8,
                                   w: Int = 8): DataFrame = {
    val docs = graft.core.Tables.spread(documents)
      .select(col("doc_id"), lower(col("text")).as("t"))
    val grams = docs
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), greatest(length(col("t")) - (k - 1), lit(1))))
          .as("pos"))
      .select(col("doc_id"), col("pos"),
        conv(substring(md5(expr(s"substring(t, pos, $k)")), 1, 8),
          16, 10).cast("long").as("h"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(0, w - 1)
    grams
      .withColumn("wmin", min(col("h")).over(byDoc))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("wmin")).as("fp_ct"),
        min(col("wmin")).as("fp_min"),
        max(col("wmin")).as("fp_max"))
      .orderBy("doc_id")
  }

  /** Repetition signals (Gopher-style quality filters, Rae et al. 2021
    * §A1.1, public literature): the fraction of the document covered by
    * its most frequent word bigram, and the fraction of trigram
    * positions whose trigram repeats. Documents dominated by boilerplate
    * or generation loops score high and get `repetition_flag` (the
    * published 0.20 top-n-gram / 0.15 dup-n-gram thresholds, adapted
    * from characters to tokens — the corpus has no line structure).
    *
    * Shape: ONE exchange. The position window forces
    * HashPartitioning(doc_id); every later window — per-(doc, gram)
    * counts, the top-bigram rank — and the final per-doc aggregate
    * cluster on supersets of doc_id, so Spark reuses the same
    * partitioning end-to-end (PlanSpec asserts a single exchange). */
  def repetition(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val posW = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val biW = Window.partitionBy(col("doc_id"), col("bigram"))
    val triW = Window.partitionBy(col("doc_id"), col("trigram"))
    val toks = graft.core.Tables.spread(documents)
      .select(col("doc_id"),
        posexplode_outer(Tokenize.tokensNullable(col("text"))).as(Seq("pos", "w")))
      .withColumn("w2", lead(col("w"), 1).over(posW))
      .withColumn("w3", lead(col("w"), 2).over(posW))
      .withColumn("bigram",
        when(col("w2").isNotNull, concat_ws(" ", col("w"), col("w2"))))
      .withColumn("trigram",
        when(col("w3").isNotNull,
          concat_ws(" ", col("w"), col("w2"), col("w3"))))
    val counted = toks
      .withColumn("bi_ct", when(col("bigram").isNotNull, count(lit(1)).over(biW)))
      .withColumn("tri_ct", when(col("trigram").isNotNull, count(lit(1)).over(triW)))
      .withColumn("rn", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("bi_ct").desc_nulls_last, col("bigram").asc_nulls_last,
          col("pos"))))
    // when-guarded: ANSI mode rejects the zero divisor outright, and a
    // zero-token doc must yield NULL fracs, not an error or Infinity
    val topFrac = when(col("n_tokens") > 0,
      col("top_bigram_ct") * 2.0 / col("n_tokens"))
    val dupFrac = when(col("tri_pos") > 0,
      col("dup_tri_pos") / col("tri_pos").cast("double"))
    counted.groupBy(col("doc_id"))
      .agg(
        count(col("w")).as("n_tokens"),
        max(when(col("rn") === 1, col("bigram"))).as("top_bigram"),
        max(when(col("rn") === 1, col("bi_ct"))).as("top_bigram_ct"),
        sum(when(col("tri_ct") > 1, 1L).otherwise(0L)).as("dup_tri_pos"),
        count(col("trigram")).as("tri_pos"))
      .select(col("doc_id"), col("n_tokens"), col("top_bigram"),
        col("top_bigram_ct"),
        when(col("n_tokens") > 1, round(topFrac, 4)).as("top_bigram_frac"),
        round(dupFrac, 4).as("dup_trigram_frac"),
        (coalesce(topFrac, lit(0.0)) > 0.2 ||
          coalesce(dupFrac, lit(0.0)) > 0.15).as("repetition_flag"))
      .orderBy("doc_id")
  }

  /** Content signals for filtering pipelines: URL/email mention counts
    * and digit/uppercase character ratios — the boilerplate/spam
    * indicators CCNet-style cleaning thresholds on. Patterns restrict
    * to the regex subset Java and RE2 agree on (no lookarounds), so
    * the DuckDB oracle replays them verbatim. The synthetic corpus
    * carries no URLs, so a deterministic injection (every 5th doc gets
    * a URL, every 7th an email, keyed off doc_id) exercises both
    * branches — same spirit as the dedup twin fixtures. */
  def contentSignals(documents: DataFrame): DataFrame = {
    val augmented = graft.core.Tables.spread(documents)
      .select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" see https://ex.org/p/"), col("doc_id"),
              lit(" and http://a.io"))).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" mail bot"), col("doc_id"), lit("@spam.example")))
            .otherwise(lit(""))).as("t"))
    augmented.select(
        col("doc_id"),
        regexp_count(col("t"), lit("https?://[a-z0-9./]+")).as("url_ct"),
        regexp_count(col("t"), lit("[a-z0-9.]+@[a-z0-9.]+")).as("email_ct"),
        length(col("t")).as("n_chars"),
        length(regexp_replace(col("t"), "[^0-9]", "")).as("digit_chars"),
        length(regexp_replace(col("t"), "[^A-Z]", "")).as("upper_chars"))
      .select(col("doc_id"), col("url_ct"), col("email_ct"),
        // when-guarded like repetition(): ANSI rejects a zero divisor,
        // and an empty doc must yield NULL ratios, not a query failure
        when(col("n_chars") > 0,
          round(col("digit_chars") / col("n_chars").cast("double"), 4))
          .as("digit_ratio"),
        when(col("n_chars") > 0,
          round(col("upper_chars") / col("n_chars").cast("double"), 4))
          .as("upper_ratio"))
      .orderBy("doc_id")
  }

  /** Redaction — the scrub twin of `contentSignals`: URLs and email
    * mentions replaced with typed placeholders before text ships to
    * training. Same injection fixture and Java/RE2-common patterns, so
    * DuckDB replays the rewrite verbatim; `redaction_ct` counts the
    * replaced spans so the pipeline can report scrub volume. */
  def redact(documents: DataFrame): DataFrame = {
    val injected = concat(col("text"),
      when(col("doc_id") % 5 === 0,
        concat(lit(" see https://ex.org/p/"), col("doc_id"),
          lit(" and http://a.io"))).otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        concat(lit(" mail bot"), col("doc_id"), lit("@spam.example")))
        .otherwise(lit("")))
    val urlPat = "https?://[a-z0-9./]+"
    val mailPat = "[a-z0-9.]+@[a-z0-9.]+"
    graft.core.Tables.spread(documents)
      .select(col("doc_id"), injected.as("t"))
      .select(col("doc_id"),
        regexp_replace(regexp_replace(col("t"), urlPat, "<URL>"),
          mailPat, "<EMAIL>").as("text_redacted"),
        (regexp_count(col("t"), lit(urlPat)) +
          regexp_count(col("t"), lit(mailPat))).as("redaction_ct"))
      .orderBy("doc_id")
  }

  /** C4-style line-level boilerplate dedup (the "discard repeated
    * lines" pass of Raffel et al. 2020 §2.2 and RefinedWeb's line-wise
    * filtering): a line whose exact text occurs at least `minRepeat`
    * times across the WHOLE corpus is dropped from every document, and
    * each document is rebuilt from its surviving lines in original
    * order. Emits the rebuilt text plus per-doc removal counts so the
    * pipeline can report scrub volume; a document whose every line is
    * boilerplate survives as an empty string (the caller's gate drops
    * it — dropping here would silently change corpus row counts).
    *
    * Shape at 100 TB: TWO corpus scans total — one builds the
    * over-threshold line set (explode → line-keyed hash-aggregate),
    * one streams every (doc, pos, line) through a LEFT join against
    * that set and a single doc_id hash-aggregate that rebuilds the
    * text and counts removals in the same pass (keeping a membership
    * FLAG instead of anti-joining means no third scan for per-doc
    * line totals and no per-doc rejoin). The boilerplate side carries
    * NO broadcast hint: its size is corpus-dependent (every duplicated
    * paragraph lands in it, not just headers/footers), so Catalyst
    * auto-broadcasts while it fits and degrades to a shuffle join
    * beyond — same posture as the fact-scaled join sides elsewhere. At
    * 100 TB the line-keyed exchanges would carry `xxhash64(line)`
    * instead of the raw strings (64-bit keys vs ~100-byte lines); the
    * exact-string form is kept here because DuckDB replays it
    * verbatim, and the swap is a two-line key change. */
  /** The corpus's over-threshold line set — the "index" half of line
    * dedup, exposed so the streaming probe can broadcast it. */
  def boilerLines(documents: DataFrame, minRepeat: Int = 2): DataFrame =
    graft.core.Tables.spread(documents)
      .select(explode(split(col("text"), "\n")).as("line"))
      .groupBy("line")
      .agg(count(lit(1)).as("line_ct"))
      .filter(col("line_ct") >= minRepeat)
      .select("line")

  def lineDedup(documents: DataFrame, minRepeat: Int = 2): DataFrame = {
    val lines = graft.core.Tables.spread(documents)
      .select(col("doc_id"), posexplode(split(col("text"), "\n")))
      .toDF("doc_id", "pos", "line")
    val boiler = boilerLines(documents, minRepeat)
      .withColumn("bflag", lit(1))
    // collect_list skips nulls, so flagged lines vanish from the
    // rebuild while still counting into n_lines/n_lines_removed —
    // an all-boilerplate doc keeps its row with clean_text = ''
    lines.join(boiler, Seq("line"), "left")
      .groupBy("doc_id")
      .agg(
        array_join(
          transform(array_sort(collect_list(
            when(col("bflag").isNull, struct(col("pos"), col("line"))))),
            s => s.getField("line")), "\n").as("clean_text"),
        count(lit(1)).as("n_lines"),
        count(col("bflag")).as("n_lines_removed"))
      .orderBy("doc_id")
  }

  /** Exact-substring dedup at n-token granularity — the word-level
    * analog of Lee et al. 2022's suffix-array substring dedup ("one
    * epoch of a memorized 50-token span is enough"): every n-token
    * span whose exact text occurs at least `minRepeat` times anywhere
    * in the corpus (other documents OR elsewhere in the same one)
    * marks its n covering token positions, and each document is
    * rebuilt from the uncovered tokens in original order. Overlapping
    * duplicated spans merge through the coverage max, so a long
    * verbatim repeat is excised once, not per-gram. Documents shorter
    * than n tokens carry no gram and survive whole; a fully-duplicated
    * document survives as an empty string (caller's gate drops it —
    * same contract as [[lineDedup]]).
    *
    * Shape at 100 TB: tokens explode once, one doc_id window computes
    * all n lead()s (a single exchange+sort), the gram-keyed
    * hash-aggregate builds the over-threshold set (map-side combine),
    * and a LEFT join back marks start flags; coverage max and the
    * rebuild share the second doc_id exchange. The dup side carries no
    * broadcast hint (corpus-dependent size — Catalyst broadcasts while
    * it fits, shuffles beyond). As with lineDedup the gram exchanges
    * would carry xxhash64(gram) at scale; raw strings kept so DuckDB
    * replays verbatim. */
  private def spanGrams(documents: DataFrame, n: Int): DataFrame = {
    require(n >= 2, s"span length must be >= 2 tokens, got $n")
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val toks = graft.core.Tables.spread(documents)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "pos", "tok")
    // concat_ws skips nulls: a tail position would emit a SHORT gram
    // that could alias a genuine full-length gram elsewhere, so grams
    // are only valid where the (n-1)-th lead still exists
    toks.select(
      col("doc_id"), col("pos"), col("tok"),
      concat_ws(" ", col("tok") +:
        (1 until n).map(k => lead(col("tok"), k).over(byDoc)): _*).as("gram"),
      lead(col("tok"), n - 1).over(byDoc).isNotNull.as("valid"))
  }

  /** The corpus's over-threshold n-token gram set — the "index" half
    * of span dedup, exposed so the streaming probe can broadcast it. */
  def dupSpans(documents: DataFrame, n: Int = 10,
               minRepeat: Int = 2): DataFrame =
    spanGrams(documents, n).filter(col("valid"))
      .groupBy("gram").agg(count(lit(1)).as("gram_ct"))
      .filter(col("gram_ct") >= minRepeat)
      .select("gram")

  def spanDedup(documents: DataFrame, n: Int = 10,
                minRepeat: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = spanGrams(documents, n)
    val dup = dupSpans(documents, n, minRepeat)
      .withColumn("dflag", lit(1))
    val marked = grams.join(dup, Seq("gram"), "left")
      .select(col("doc_id"), col("pos"), col("tok"),
        when(col("valid") && col("dflag").isNotNull, 1).otherwise(0)
          .as("dstart"))
    // pos is dense per doc, so ROWS [pos-n+1, pos] is exactly the set
    // of starts whose span covers pos
    val cover = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(-(n - 1), Window.currentRow)
    marked.withColumn("cov", max(col("dstart")).over(cover))
      .groupBy("doc_id")
      .agg(
        array_join(
          transform(array_sort(collect_list(
            when(col("cov") === 0, struct(col("pos"), col("tok"))))),
            s => s.getField("tok")), " ").as("clean_text"),
        count(lit(1)).as("n_tokens"),
        sum(col("cov")).cast("long").as("n_tokens_removed"),
        sum(col("dstart")).cast("long").as("n_dup_spans"))
      .orderBy("doc_id")
  }

  /** Exact token-count percentiles per language — corpus length
    * profiling (sequence-length budgeting for training). Exact
    * `percentile` (continuous interpolation, matches DuckDB's
    * `quantile_cont`) is the verifiable form; at 100 TB the one-line
    * swap is `approx_percentile` (t-digest) with the same call shape,
    * trading exactness for a single pass without the per-group sort. */
  def tokenPercentiles(documents: DataFrame): DataFrame =
    graft.core.Tables.spread(documents)
      .select(col("lang"), size(Tokenize.tokens(col("text"))).as("n_tokens"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("doc_ct"),
        round(expr("percentile(n_tokens, 0.5)"), 4).as("p50"),
        round(expr("percentile(n_tokens, 0.9)"), 4).as("p90"),
        round(expr("percentile(n_tokens, 0.99)"), 4).as("p99"),
        max(col("n_tokens")).cast("long").as("max_tokens"))
      .orderBy("lang")

  /** The 100 TB percentile swap as a RUNNABLE variant, not a comment:
    * `approx_percentile` (t-digest, one pass, no per-group sort) in the
    * exact form's call shape. `accuracy` is the t-digest knob
    * (1/accuracy relative error bound); the exact twin above stays the
    * oracle-verified form, and `LlmOpsSpec` bounds the drift between
    * the two so flipping the flag is a measured decision. */
  def tokenPercentilesApprox(documents: DataFrame,
                             accuracy: Int = 10000): DataFrame =
    graft.core.Tables.spread(documents)
      .select(col("lang"), size(Tokenize.tokens(col("text"))).as("n_tokens"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("doc_ct"),
        expr(s"approx_percentile(n_tokens, 0.5, $accuracy)").cast("double").as("p50"),
        expr(s"approx_percentile(n_tokens, 0.9, $accuracy)").cast("double").as("p90"),
        expr(s"approx_percentile(n_tokens, 0.99, $accuracy)").cast("double").as("p99"),
        max(col("n_tokens")).cast("long").as("max_tokens"))
      .orderBy("lang")

  /** DSIR-style importance scoring (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS'23 — public
    * literature): score every document by how target-like its hashed
    * unigram distribution is. Token features hash into `nBuckets` md5
    * buckets; the per-bucket weight is the smoothed log-likelihood
    * ratio `ln(p_target(b) / p_corpus(b))` (add-one smoothing over the
    * bucket vocabulary), and a document scores the MEAN weight of its
    * tokens — positive means "looks like the target slice".
    *
    * Shape at 100 TB: the weight table is bounded by `nBuckets` rows
    * regardless of corpus size (that is the whole point of hashed
    * features) and broadcasts back for the scoring join; the corpus is
    * token-exploded twice (once to build the distribution, once to
    * score). A single-scan variant would cache the exploded frame —
    * at 100 TB the double scan is usually cheaper than materializing
    * the token table; weigh against storage bandwidth. Per-bucket
    * weights round to 6 dp BEFORE the per-doc mean (4 dp) so
    * cross-engine `ln` ulps and summation order cannot flip the
    * comparison (the [[Similarity.embeddingStats]] precedent). */
  /** Engine-portable hashed-feature bucket: first 4 md5 hex chars mod
    * `nBuckets` (65536 is a multiple of the 4096 default, so buckets
    * are exactly uniform). PARITY-CRITICAL triple: the DuckDB oracles
    * and the streaming probes' JVM twin (`StreamingDedup.md5Bucket`)
    * replicate this expression bit-for-bit — change all three
    * together or batch/stream/oracle agreement silently breaks. */
  private[graft] def md5Bucket(c: Column, nBuckets: Int): Column =
    conv(substring(md5(c), 1, 4), 16, 10).cast("long") % nBuckets

  /** Model-based quality filter — the fastText-shaped linear
    * classifier over hashed token features behind CommonCrawl-style
    * quality filtering (Joulin et al., EACL 2017 shape; CCNet/GPT-3
    * data papers use exactly this scorer): score = mean over tokens of
    * `w[h(token) mod dim]`, keep = score >= threshold. The weights
    * here are a deterministic stand-in derived from the bucket id —
    * an integer in [-1000, 1000] scaled by 1e-3 — so the DuckDB
    * oracle replays them exactly; production swaps the weight
    * expression for a broadcast-joined trained table of `dim` rows
    * (the [[importanceScores]] join shape). Integer weight sums are
    * exact and order-free, so the one rounded division at the end is
    * the only FP step (the cross-engine discipline all scorers here
    * follow).
    *
    * Shape at 100 TB: one token explode → one doc_id hash-aggregate
    * (partial→final, single exchange); no joins, no higher-order
    * array functions in the hot path. */
  def classifierScore(documents: DataFrame, dim: Int = 4096,
                      threshold: Double = 0.0): DataFrame = {
    // weight of bucket b: md5("w:" + b) → [-1000, 1000]. The weight is
    // a pure function of the bucket id, so the table is computed ONCE
    // driver-side with the identical integer pipeline (first 4 md5 hex
    // chars → int % 2001 − 1000, value-exact — the oracle replay is
    // unchanged) and referenced as a dim-sized literal, instead of a
    // second per-token md5 in the hot path (r10; the per-token
    // md5Bucket hash itself is the feature function and stays).
    val wTable: Seq[Long] = (0 until dim).map { b =>
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(s"w:$b".getBytes("UTF-8"))
      val hex4 = f"${digest(0) & 0xff}%02x${digest(1) & 0xff}%02x"
      (java.lang.Long.parseLong(hex4, 16) % 2001L) - 1000L
    }
    // the null-token guard must be EXPLICIT: `element_at` over a
    // literal array of non-null elements declares itself non-nullable
    // regardless of the index's nullability, so a NULL index (the
    // padded row of a zero-token doc) reads a garbage slot instead of
    // propagating NULL (observed on Spark 4.1.2: the empty doc scored
    // as one ''-token). `w` is nullable here (tokensNullable), so the
    // isNotNull is not folded away.
    val wInt = when(col("w").isNotNull,
      element_at(typedlit(wTable), md5Bucket(col("w"), dim).cast("int") + 1))
    graft.core.Tables.spread(documents)
      // explode_outer: a zero-token doc must still get a verdict row
      .select(col("doc_id"),
        explode_outer(Tokenize.tokensNullable(col("text"))).as("w"))
      .withColumn("w_i", wInt) // null token (empty doc) → null weight
      .groupBy("doc_id")
      .agg(count(col("w_i")).as("n_tokens"), sum(col("w_i")).as("s"))
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        when(col("n_tokens") > 0,
          round((col("s") / lit(1000.0)) / col("n_tokens"), 6))
          .as("quality_score"))
      .withColumn("keep",
        coalesce(col("quality_score") >= lit(threshold), lit(false)))
      .orderBy("doc_id")
  }

  private def dsirToks(documents: DataFrame, targetPred: Column,
                       nBuckets: Int): DataFrame =
    graft.core.Tables.spread(documents)
      // explode_outer: a zero-token doc must still score (0.0), not vanish
      .select(col("doc_id"), targetPred.as("is_target"),
        explode_outer(Tokenize.tokensNullable(col("text"))).as("w"))
      .withColumn("b", md5Bucket(col("w"), nBuckets))

  /** The DSIR bucket-weight table (b → 6-dp LLR weight) on its own —
    * ≤ `nBuckets` rows by construction, the broadcast side of batch
    * scoring and the static index of the streaming probe. */
  def importanceWeights(documents: DataFrame,
                        targetPred: Column = col("lang") === "en",
                        nBuckets: Int = 4096): DataFrame = {
    val dist = dsirToks(documents, targetPred, nBuckets)
      .filter(col("w").isNotNull).groupBy("b")
      .agg(count(lit(1)).as("q_ct"),
        sum(when(col("is_target"), 1L).otherwise(0L)).as("t_ct"))
    val totals = dist.agg(sum(col("q_ct")).as("q_tot"), sum(col("t_ct")).as("t_tot"))
    dist.crossJoin(broadcast(totals))
      .select(col("b"), round(log(
        ((col("t_ct") + 1).cast("double") / (col("t_tot") + nBuckets)) /
          ((col("q_ct") + 1).cast("double") / (col("q_tot") + nBuckets))), 6)
        .as("w_b"))
  }

  def importanceScores(documents: DataFrame,
                       targetPred: Column = col("lang") === "en",
                       nBuckets: Int = 4096): DataFrame = {
    val toks = dsirToks(documents, targetPred, nBuckets)
    val weights = importanceWeights(documents, targetPred, nBuckets)
    toks.join(broadcast(weights), Seq("b"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(col("w")).as("n_tokens"), sum(col("w_b")).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        when(col("n_tokens") === 0, 0.0)
          .otherwise(round(col("s") / col("n_tokens"), 4)).as("dsir_score"))
      .orderBy("doc_id")
  }

  /** CCNet-style n-gram LM perplexity (Wenzek et al., LREC'20 —
    * public literature; CCNet scores with a KenLM 5-gram, this is the
    * same signal from an add-one-smoothed hashed-BIGRAM model): train
    * on the target slice, score every document by mean bigram log-prob
    * and perplexity — low ppl means "reads like the target", the
    * classic quality cut between prose and boilerplate/gibberish.
    *
    * Model: buckets from the same md5 hash as [[importanceScores]];
    * `P(b2|b1) = (c12+1)/(c1+nBuckets)` where `c1` counts b1 AS
    * CONTEXT (so the distribution normalizes); unseen bigrams back off
    * to `(0+1)/(c1+nBuckets)`. Log-probs round to 6 dp in the model
    * table before any per-doc sum (the cross-engine `ln` discipline).
    *
    * Shape at 100 TB: the unigram context table is ≤ nBuckets rows;
    * the bigram table is bounded by the DISTINCT bigrams of the target
    * slice — curated target sets broadcast (the decontamination
    * contract); drop the broadcast hints and let the scoring join
    * shuffle when training on an uncurated slice. Scoring is one
    * corpus token-explode + window-lead pass (one doc_id exchange),
    * plus two target-slice passes to train. */
  /** The per-doc hashed-bigram stream feeding [[lmPerplexity]] —
    * (doc_id, is_target, b1, b2) per adjacent token pair. */
  private def lmBigrams(documents: DataFrame, targetPred: Column,
                        nBuckets: Int): DataFrame = {
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    graft.core.Tables.spread(documents)
      .select(col("doc_id"), targetPred.as("is_target"),
        posexplode(Tokenize.tokens(col("text"))).as(Seq("pos", "w")))
      .withColumn("b1", md5Bucket(col("w"), nBuckets))
      .withColumn("b2", lead(col("b1"), 1).over(byPos))
      .filter(col("b2").isNotNull)
      .select(col("doc_id"), col("is_target"), col("b1"), col("b2"))
  }

  /** The trained LM on its own: (bigram model (b1, b2, logp),
    * unigram context table (b1, c1)) — the batch scoring sides and the
    * static index of the streaming probe. Sizes are bounded by the
    * TARGET slice (uni ≤ nBuckets rows; model ≤ the slice's distinct
    * bigrams). */
  def lmModel(documents: DataFrame,
              targetPred: Column = col("lang") === "en",
              nBuckets: Int = 4096): (DataFrame, DataFrame) = {
    val bi = lmBigrams(documents, targetPred, nBuckets)
    val uni = bi.filter(col("is_target"))
      .groupBy("b1").agg(count(lit(1)).as("c1"))
    val model = bi.filter(col("is_target"))
      .groupBy("b1", "b2").agg(count(lit(1)).as("c12"))
      .join(uni, "b1")
      .select(col("b1"), col("b2"), round(log(
        (col("c12") + 1).cast("double") / (col("c1") + nBuckets)), 6)
        .as("logp"))
    (model, uni)
  }

  def lmPerplexity(documents: DataFrame,
                   targetPred: Column = col("lang") === "en",
                   nBuckets: Int = 4096): DataFrame = {
    val bi = lmBigrams(documents, targetPred, nBuckets)
    val (model, uni) = lmModel(documents, targetPred, nBuckets)
    val scored = bi
      .join(broadcast(model), Seq("b1", "b2"), "left_outer")
      .join(broadcast(uni), Seq("b1"), "left_outer")
      .withColumn("lp", coalesce(col("logp"),
        round(log(lit(1.0) / (coalesce(col("c1"), lit(0L)) + nBuckets)), 6)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("s"))
    documents.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(coalesce(col("n_bigrams"), lit(0L)) === 0, 0.0)
          .otherwise(round(col("s") / col("n_bigrams"), 4)).as("avg_logp"),
        when(coalesce(col("n_bigrams"), lit(0L)) === 0, 0.0)
          .otherwise(round(exp(-col("s") / col("n_bigrams")), 4)).as("ppl"))
      .orderBy("doc_id")
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): per
    * language, split the corpus into head/middle/tail at the 33rd and
    * 66th perplexity percentiles — the standard quality-tiered
    * sampling input (train mostly on head, sample middle, drop or
    * down-weight tail). Thresholds are exact interpolated
    * `percentile` (the same cross-engine family `tokenPercentiles`
    * pins against `quantile_cont`); per-lang cut rows broadcast back,
    * so the corpus side never re-shuffles. At 100 TB the documented
    * swap is `approx_percentile`, same call shape. */
  def pplBuckets(documents: DataFrame): DataFrame = {
    val scored = pplScored(documents)
    scored.join(broadcast(pplCuts(scored)), "lang")
      .select(col("doc_id"), col("lang"), col("ppl"),
        when(col("ppl") <= col("p33"), "head")
          .when(col("ppl") <= col("p66"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  private def pplScored(documents: DataFrame): DataFrame =
    graft.core.Tables.spread(documents)
      .select(col("doc_id"), col("lang"))
      .join(lmPerplexity(documents).select(col("doc_id"), col("ppl")),
        "doc_id")

  /** The per-language 33/66 cut table — exposed so the streaming tier
    * router (`StreamingDedup.pplRouteProbe`) can ship the batch cuts. */
  def pplCuts(scored: DataFrame): DataFrame =
    scored.groupBy(col("lang"))
      .agg(expr("percentile(ppl, 0.33)").as("p33"),
        expr("percentile(ppl, 0.66)").as("p66"))

  /** `pplCuts` over raw documents (scores them first). */
  def pplCutsOf(documents: DataFrame): DataFrame = pplCuts(pplScored(documents))

  /** Surgical decontamination — strip the LEAKED SPANS instead of
    * dropping whole documents (`DedupOps.decontaminate`'s blunt
    * complement): every corpus n-gram that appears verbatim in the
    * benchmark marks its n token positions; overlapping marks merge;
    * the document is rebuilt from unmarked tokens. Same cover-window
    * machinery as `spanDedup` with the dup set replaced by the
    * benchmark gram set (broadcast — eval suites are tiny; the Bloom
    * pre-screen composes here the same way it does in
    * `contaminationReportBloom` when the suite outgrows broadcast). */
  def decontaminateStrip(corpus: DataFrame, benchmark: DataFrame,
                         n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val benchGrams = broadcast(spanGrams(benchmark, n)
      .filter(col("valid")).select(col("gram")).distinct()
      .withColumn("bflag", lit(1)))
    val marked = spanGrams(corpus, n).join(benchGrams, Seq("gram"), "left")
      .select(col("doc_id"), col("pos"), col("tok"),
        when(col("valid") && col("bflag").isNotNull, 1).otherwise(0)
          .as("bstart"))
    val cover = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(-(n - 1), Window.currentRow)
    marked.withColumn("cov", max(col("bstart")).over(cover))
      .groupBy("doc_id")
      .agg(
        array_join(
          transform(array_sort(collect_list(
            when(col("cov") === 0, struct(col("pos"), col("tok"))))),
            s => s.getField("tok")), " ").as("clean_text"),
        count(lit(1)).as("n_tokens"),
        sum(col("cov")).cast("long").as("n_tokens_removed"),
        sum(col("bstart")).cast("long").as("n_leak_spans"))
      .orderBy("doc_id")
  }

  /** TF-IDF top terms: the per-document keyword extraction every text
    * stack ships — term frequency × corpus inverse document frequency,
    * top `k` terms per doc with stable (score desc, term) ranking.
    * IDF rounds to 6 dp before the product (the cross-engine `ln`
    * discipline); the TF side never leaves the doc_id exchange.
    *
    * Shape at 100 TB: the doc-frequency table is vocab-sized, so its
    * join is a SHUFFLE join on the term key by design (vocabularies
    * outgrow broadcast; Catalyst still broadcasts while it fits); the
    * corpus count rides a 1-row broadcast. */
  def tfidfTopTerms(documents: DataFrame, k: Int = 3): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
    val toks = graft.core.Tables.spread(documents)
      .select(col("doc_id"), explode(Tokenize.tokens(col("text"))).as("w"))
    val tf = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("ct"))
      .withColumn("len", sum(col("ct")).over(byDoc))
    val docFreq = toks.distinct().groupBy("w").agg(count(lit(1)).as("df"))
    val total = documents.agg(count(lit(1)).as("n_docs"))
    tf.join(docFreq, "w")
      .crossJoin(broadcast(total))
      .withColumn("idf",
        round(log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("tfidf",
        round((col("ct").cast("double") / col("len")) * col("idf"), 6))
      .withColumn("rank", row_number().over(byDoc
        .orderBy(col("tfidf").desc, col("w"))))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("w").as("term"),
        col("rank").cast("int").as("rank"), col("tfidf"))
      .orderBy("doc_id", "rank")
  }

  /** Context-window chunking: split long documents into overlapping
    * `maxTokens`-token chunks (stride = maxTokens − overlap) — the
    * preprocessing step that turns documents into model-sized
    * segments. Everything is per-row array expressions (sequence →
    * slice → join), codegen'd, no shuffle except the presentation
    * sort; a doc at or under the budget yields exactly one chunk,
    * zero-token docs yield none (they were gated out upstream). */
  def chunkSplit(documents: DataFrame, maxTokens: Int = 64,
                 overlap: Int = 8): DataFrame = {
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap must sit inside the chunk, got $overlap/$maxTokens")
    val stride = maxTokens - overlap
    val t = Tokenize.tokens(col("text"))
    val nChunks = when(size(t) <= maxTokens, least(size(t), lit(1)))
      .otherwise(ceil((size(t) - maxTokens).cast("double") / stride)
        .cast("int") + 1)
    graft.core.Tables.spread(documents)
      .select(col("doc_id"), t.as("t"), nChunks.as("n"))
      // Spark's sequence(0, -1) DESCENDS — a zero-chunk doc must be
      // filtered out, not handed an inverted range
      .filter(col("n") > 0)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), col("n") - 1), i => struct(
          i.cast("long").as("chunk_id"),
          slice(col("t"), i * stride + 1, lit(maxTokens)).as("ct")))).as("c"))
      .select(col("doc_id"), col("c.chunk_id").as("chunk_id"),
        size(col("c.ct")).cast("long").as("n_tokens"),
        array_join(col("c.ct"), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Compression-ratio quality signal: deflate each document (JDK
    * zlib, fixed level) and report compressed/raw byte ratio — highly
    * repetitive or templated text compresses far below prose, the
    * cheap corpus-agnostic repetition signal large corpus builds run
    * alongside the n-gram ones (Gopher reports it; RefinedWeb filters
    * on it). Typed `mapPartitions` at the codec boundary — the
    * `Multimodal.decode` contract: the JDK codec isn't expressible as
    * Catalyst expressions, everything around it stays relational.
    * Not DuckDB-expressible → rows-only check + invariants spec
    * (deterministic per JVM; ratios ordered repetitive < prose). */
  def compressionRatio(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        // one native zlib context per partition, reset per row; end()
        // at task completion — zlib state is off-heap, and waiting for
        // finalization leaks native memory on long-lived executors
        val d = new java.util.zip.Deflater(6)
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => d.end()))
        it.map { case (id, text) =>
          val raw = Option(text).getOrElse("").getBytes("UTF-8")
          d.reset()
          d.setInput(raw); d.finish()
          // zlib worst case ≈ raw + 5 B per 16 KiB block + header
          val buf = new Array[Byte](raw.length + raw.length / 1000 + 128)
          var n = 0
          while (!d.finished()) n += d.deflate(buf, n, buf.length - n)
          val ratio =
            if (raw.length == 0) 0.0
            else BigDecimal(n.toDouble / raw.length)
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          (id, raw.length.toLong, n.toLong, ratio)
        }
      }
      .toDF("doc_id", "raw_bytes", "deflate_bytes", "compression_ratio")
      .orderBy("doc_id")
  }

  /** The FULL selection verdict — [[qualityGate]] extended with the
    * model-based signals: after the surface rules, a document must
    * look target-like (DSIR score above `minDsir`) and read like the
    * target (LM perplexity below `maxPpl`). First-failing-rule
    * priority: gate reasons → off_target → high_ppl → ok. Five
    * doc_id-keyed joins over independently-oracled kernels — the same
    * one-exchange-class composition contract as the gate. */
  def selectionVerdict(documents: DataFrame,
                       minDsir: Double = -0.17,
                       maxPpl: Double = 340.0): DataFrame = {
    val g = qualityGate(documents)
      .select(col("doc_id"), col("reason").as("gate_reason"))
    val d = importanceScores(documents).select(col("doc_id"), col("dsir_score"))
    val p = lmPerplexity(documents).select(col("doc_id"), col("ppl"))
    val reason = when(col("gate_reason") =!= "ok", col("gate_reason"))
      .when(col("dsir_score") < minDsir, "off_target")
      .when(col("ppl") > maxPpl, "high_ppl")
      .otherwise("ok")
    g.join(d, "doc_id").join(p, "doc_id")
      .select(col("doc_id"), reason.as("reason"), (reason === "ok").as("keep"))
      .orderBy("doc_id")
  }

  /** The capstone filter composition — what a corpus build actually
    * runs: quality, repetition, and content signals joined on doc_id
    * into one keep/drop verdict with the FIRST failing rule as the
    * reason (priority: too_short → low_quality → repetitive →
    * digit_heavy → ok). Each input kernel is independently
    * oracle-verified; this query verifies the composition and the
    * rule order. Three doc_id-keyed joins — same-key partitioning
    * reused, no extra exchange class at scale. The corpus IS scanned
    * once per kernel (three text passes): the composition trades that
    * for three independently-verified kernels with no duplicated
    * logic; if gating dominates a build, the documented optimization
    * is a fused single-pass aggregate computing all three stat sets
    * from one tokenize — same outputs, one scan. */
  def qualityGate(documents: DataFrame,
                  minWords: Long = 20L, minScore: Double = 0.1,
                  maxDigitRatio: Double = 0.3): DataFrame = {
    val q = quality(documents)
      .select(col("doc_id"), col("n_words"), col("quality_score"))
    val r = repetition(documents)
      .select(col("doc_id"), col("repetition_flag"))
    val s = contentSignals(documents)
      .select(col("doc_id"), col("digit_ratio"))
    val reason =
      when(col("n_words") < minWords, "too_short")
        .when(col("quality_score") < minScore, "low_quality")
        .when(col("repetition_flag"), "repetitive")
        .when(coalesce(col("digit_ratio"), lit(0.0)) > maxDigitRatio,
          "digit_heavy")
        .otherwise("ok")
    q.join(r, "doc_id").join(s, "doc_id")
      .select(col("doc_id"), reason.as("reason"),
        (reason === "ok").as("keep"))
      .orderBy("doc_id")
  }

  /** The whole training-corpus build as ONE pipeline — the capstone of
    * capstones: quality gate (keep only 'ok' docs) → exact content
    * dedup (min-doc_id canonical per md5 group) → fixed-budget
    * sequence packing of the survivors. Every stage is independently
    * oracle-verified (`llm_quality_gate`, `llm_dedup_exact`,
    * `llm_sequence_packing`); this query verifies their COMPOSITION
    * end-to-end against one DuckDB replay. Exact dedup stands in for
    * the LSH spine so the chain stays SQL-expressible; the LSH form of
    * the same chain is measured in SCALE.md §"Dedup / LSH family"
    * (full-spine soak). All three joins are doc_id-keyed — one partitioning
    * class; the dedup aggregate is the only content-keyed exchange. */
  def corpusBuild(documents: DataFrame, seqLen: Int = 2048): DataFrame = {
    val keep = qualityGate(documents).filter(col("keep")).select("doc_id")
    val kept = documents.join(keep, "doc_id")
    val canonical = DedupOps.exact(kept)
      .select(col("canonical_doc_id").as("doc_id"))
    Sampling.sequencePacking(kept.join(canonical, "doc_id"), seqLen)
  }

  /** Document fingerprinting: content hash + prefix key for sharded
    * storage (rolling-hash family; md5 keeps the oracle exact). */
  def fingerprint(documents: DataFrame): DataFrame =
    graft.core.Tables.spread(documents)
      .select(
        col("doc_id"),
        md5(lower(col("text"))).as("fp"),
        substring(md5(lower(col("text"))), 1, 4).as("shard_key"),
        length(col("text")).cast("long").as("char_len"))
      .orderBy("doc_id")
}
