package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for LLM training-data pipelines, over the
  * `documents` table. Everything is `functions._` / SQL-expression
  * arithmetic (whole-stage codegen, no UDFs), so at 100 TB the cost is
  * one parquet scan + map-side projection per operator — no shuffle at
  * all except the final presentation sort.
  */
object TextAnalysis {

  /** The engine's tokenizer — the native [[graft.functions.AlnumTokens]]
    * single-scan kernel (always registered by [[graft.Tables]]);
    * [[toksSqlExpr]] keeps the regexp form as the spec cross-check.
    */
  val toksExpr = "graft_alnum_tokens(text)"

  /** Reference SQL form of [[toksExpr]] (spec cross-check only). */
  val toksSqlExpr = "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"

  /** text_tokens — whitespace/alnum token counts + a BPE-ish estimate
    * (chars/4, the common heuristic for byte-pair encoders).
    */
  def tokens(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("t", expr(toksExpr))
      .select(col("doc_id"),
        expr("cast(size(t) as bigint)").as("n_tokens"),
        expr("cast(size(array_distinct(t)) as bigint)").as("n_distinct"),
        // whitespace tokenization (vs the alnum-run tokens of t)
        expr("cast(size(regexp_extract_all(text, '[^\\\\s]+', 0)) as bigint)").as("n_ws_tokens"),
        length(col("text")).cast("long").as("len_chars"),
        expr("(length(text) + 3) div 4").cast("long").as("bpe_est"))
      .orderBy("doc_id")

  private def countMatches(pattern: String): org.apache.spark.sql.Column =
    expr(s"cast(size(regexp_extract_all(text, '$pattern', 0)) as bigint)")

  /** text_quality — length / punctuation / uppercase / whitespace
    * ratios and a deterministic composite score.
    */
  def quality(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n"),
        countMatches("[A-Za-z]").as("alpha"),
        countMatches("[0-9]").as("digit"),
        countMatches("[.,;:!?]").as("punct"),
        countMatches("[A-Z]").as("upper"),
        countMatches(" ").as("spaces"),
        expr(s"cast(size(regexp_extract_all(lower(text), '${sparkPat(stopwordPat)}', 0)) as bigint)").as("stops"),
        expr(s"cast(size($toksExpr) as bigint)").as("n_tokens"))
      // n > 0 guards: empty documents are routine in scraped corpora
      // and ANSI mode (Spark 4 default) turns x/0 into a runtime error
      .withColumn("alpha_ratio",
        when(col("n") > 0, col("alpha") / col("n")).otherwise(lit(0.0)))
      .withColumn("punct_ratio",
        when(col("n") > 0, col("punct") / col("n")).otherwise(lit(0.0)))
      .withColumn("upper_ratio",
        when(col("n") > 0, col("upper") / col("n")).otherwise(lit(0.0)))
      .withColumn("stop_ratio",
        when(col("n_tokens") > 0, col("stops") / col("n_tokens")).otherwise(lit(0.0)))
      .withColumn("score",
        col("alpha_ratio") * 0.5 + (lit(1.0) - col("punct_ratio")) * 0.2
          + (lit(1.0) - col("upper_ratio")) * 0.2 + col("stop_ratio") * 0.1)
      .select("doc_id", "n", "alpha", "digit", "punct", "upper", "spaces",
        "stops", "n_tokens", "alpha_ratio", "punct_ratio", "upper_ratio",
        "stop_ratio", "score")
      .orderBy("doc_id")

  /** Marker word regexes per language, in raw form (shared verbatim
    * with the DuckDB oracle; Spark SQL literals need backslashes
    * doubled — see [[sparkPat]]).
    */
  val markers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|to|is)\\b",
    "de" -> "\\b(der|die|das|und|ist)\\b",
    "fr" -> "\\b(le|la|les|et|est)\\b",
    "es" -> "\\b(el|los|las|y|es)\\b")

  /** CJK block regex, raw form. */
  val cjkPat = "[\\x{4e00}-\\x{9fff}]"

  /** English stopword markers for the quality stop-ratio, raw form. */
  val stopwordPat = "\\b(the|and|of|to|is|in|a|that|it|for)\\b"

  private def sparkPat(raw: String) = raw.replace("\\", "\\\\")

  /** text_langid — stopword-marker vote + CJK detection, argmax with a
    * fixed tie order. (A real pipeline would use fastText-style n-gram
    * models; the Spark plumbing — pure scan-side scoring — is the
    * same.)
    */
  def langid(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables(spark, dir, "documents")
      .select(Seq(col("doc_id")) ++ markers.map { case (l, pat) =>
        expr(s"cast(size(regexp_extract_all(lower(text), '${sparkPat(pat)}', 0)) as bigint)").as(s"s_$l")
      } :+ expr(s"cast(size(regexp_extract_all(text, '${sparkPat(cjkPat)}', 0)) as bigint)").as("s_zh"): _*)
    scored
      .withColumn("guess",
        when(col("s_zh") > 0, "zh")
          .when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") && col("s_en") >= col("s_es"), "en")
          .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_es"), "de")
          .when(col("s_fr") >= col("s_es"), "fr")
          .otherwise("es"))
      .orderBy("doc_id")
  }

  /** text_fingerprint — (a) md5 of the normalized token stream and
    * (b) a 31-ary rolling polynomial hash folded left over per-token
    * md5-derived ints — exact integer math shared with the oracle.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "documents")
      .withColumn("t", expr(toksExpr))
      .select(col("doc_id"),
        expr("md5(array_join(t, ' '))").as("fp_md5"),
        expr("""aggregate(t, cast(0 as bigint),
                 (h, s) -> (h * 31 + graft_md5_prefix(s)) % 2147483647)""")
          .as("fp_roll"),
        expr("cast(size(t) as bigint)").as("n_tokens"))
      .orderBy("doc_id")
  }

  /** text_ngrams — corpus-wide top word-3-grams (explode + count +
    * deterministic top-k). One shuffle on the shingle key with
    * map-side combine; at scale the final top-k is a tiny second
    * shuffle of per-partition winners.
    */
  def topNgrams(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("t", expr(toksExpr)) // tokenize ONCE; grams() only
      // indexes the materialized array, never re-runs the regex
      .select(explode(expr(grams(3))).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram"))
      .limit(50)

  /** Filter-rule thresholds, shared verbatim with the oracle. All
    * rules are pure integer comparisons (ratio `a/n < r` written as
    * `a·k < n·m`), so there is no float boundary to drift on.
    */
  val MinChars = 100
  val MinTokens = 20
  val MaxTokenLen = 40

  /** text_filter — quality-rule document filtering with per-rule
    * fail flags, a composite keep bit, and a joined fail-reason
    * string — the gate step of a training-data pipeline (drop short /
    * non-text / repetitive / degenerate docs). Pure scan-side
    * codegen'd arithmetic: at 100 TB this is one parquet pass, the
    * keep bit is pushdown-friendly for everything downstream.
    */
  def filterDocs(spark: SparkSession, dir: String): DataFrame =
    filterDocsDf(Tables(spark, dir, "documents"))

  /** Appends the rule flag columns (`f_*`, `n_fail`, `keep`) to any
    * docs-shaped frame — the reusable stage behind [[filterDocsDf]]
    * and [[Pipeline.clean]] (which fuses it with masking into one
    * scan).
    */
  def withRuleFlags(documents: DataFrame): DataFrame =
    documents
      .withColumn("t", expr(toksExpr))
      .withColumn("n", length(col("text")).cast("long"))
      .withColumn("alpha", countMatches("[A-Za-z]"))
      .withColumn("digit", countMatches("[0-9]"))
      .withColumn("nt", expr("cast(size(t) as bigint)"))
      .withColumn("nd", expr("cast(size(array_distinct(t)) as bigint)"))
      .withColumn("n_long",
        expr(s"cast(size(filter(t, x -> length(x) > $MaxTokenLen)) as bigint)"))
      .withColumn("f_short", (col("n") < MinChars).cast("long"))
      .withColumn("f_few_tokens", (col("nt") < MinTokens).cast("long"))
      .withColumn("f_low_alpha", (col("alpha") * 2 < col("n")).cast("long"))
      .withColumn("f_high_digit", (col("digit") * 5 > col("n")).cast("long"))
      .withColumn("f_repetitive", (col("nd") * 2 < col("nt")).cast("long"))
      .withColumn("f_long_token", (col("n_long") > 0).cast("long"))
      .withColumn("n_fail",
        col("f_short") + col("f_few_tokens") + col("f_low_alpha")
          + col("f_high_digit") + col("f_repetitive") + col("f_long_token"))
      .withColumn("keep", (col("n_fail") === 0).cast("long"))

  def filterDocsDf(documents: DataFrame): DataFrame =
    withRuleFlags(documents)
      .withColumn("reasons", expr(
        """concat_ws(',', filter(array(
          |  CASE WHEN f_short = 1 THEN 'short' ELSE '' END,
          |  CASE WHEN f_few_tokens = 1 THEN 'few_tokens' ELSE '' END,
          |  CASE WHEN f_low_alpha = 1 THEN 'low_alpha' ELSE '' END,
          |  CASE WHEN f_high_digit = 1 THEN 'high_digit' ELSE '' END,
          |  CASE WHEN f_repetitive = 1 THEN 'repetitive' ELSE '' END,
          |  CASE WHEN f_long_token = 1 THEN 'long_token' ELSE '' END), x -> x != ''))""".stripMargin))
      .select("doc_id", "f_short", "f_few_tokens", "f_low_alpha",
        "f_high_digit", "f_repetitive", "f_long_token", "n_fail", "keep", "reasons")
      .orderBy("doc_id")

  /** PII regexes, raw (RE2-compatible — no lookahead; shared verbatim
    * with the oracle). Masking order is email → IPv4 → phone; counts
    * are taken on each stage's input so they agree with what was
    * actually replaced.
    */
  val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipPat = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val phonePat = "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b"

  /** text_pii_mask — regex PII redaction (emails, IPv4, US-style
    * phone numbers) with per-kind replacement counts and a checksum
    * of the masked text. Scan-side only; the real-pipeline shape
    * (sequential regexp_replace chain, global) at any scale.
    */
  def piiMask(spark: SparkSession, dir: String): DataFrame =
    piiMaskDf(Tables(spark, dir, "documents"))

  /** Appends the mask chain (`n_email`, `n_ip`, `n_phone`, `masked`)
    * to any docs-shaped frame — reusable stage behind [[piiMaskDf]]
    * and [[Pipeline.clean]]. (The intermediate m1/m2 columns are
    * non-cheap expressions referenced twice, which CollapseProject
    * deliberately does not inline — each replace runs once.)
    */
  def withMasked(documents: DataFrame): DataFrame =
    documents
      .withColumn("n_email",
        expr(s"cast(size(regexp_extract_all(text, '${sparkPat(emailPat)}', 0)) as bigint)"))
      .withColumn("m1", expr(s"regexp_replace(text, '${sparkPat(emailPat)}', '<EMAIL>')"))
      .withColumn("n_ip",
        expr(s"cast(size(regexp_extract_all(m1, '${sparkPat(ipPat)}', 0)) as bigint)"))
      .withColumn("m2", expr(s"regexp_replace(m1, '${sparkPat(ipPat)}', '<IP>')"))
      .withColumn("n_phone",
        expr(s"cast(size(regexp_extract_all(m2, '${sparkPat(phonePat)}', 0)) as bigint)"))
      .withColumn("masked", expr(s"regexp_replace(m2, '${sparkPat(phonePat)}', '<PHONE>')"))

  def piiMaskDf(documents: DataFrame): DataFrame =
    withMasked(documents)
      .select(col("doc_id"), col("n_email"), col("n_ip"), col("n_phone"),
        length(col("masked")).cast("long").as("masked_len"),
        md5(col("masked")).as("masked_md5"))
      .orderBy("doc_id")

  /** Non-distinct word-n-gram array over token column `t` — the ONE
    * n-gram builder shared by [[topNgrams]], [[repNgram]] and
    * [[Dedup.shinglesExpr]] (three hand-maintained copies would
    * silently desynchronize the tokenizer/empty-array conventions).
    * Emits the native [[graft.functions.TokenNgrams]] kernel (always
    * registered by [[graft.Tables]]); [[gramsSql]] keeps the
    * interpreted-lambda SQL form as the spec-side cross-check.
    */
  def grams(n: Int): String = s"graft_token_ngrams(t, $n)"

  /** Reference SQL form of [[grams]] (spec cross-check only). */
  def gramsSql(n: Int): String =
    s"""CASE WHEN size(t) >= $n THEN
          transform(sequence(1, size(t) - ${n - 1}),
            i -> concat_ws(' ', ${(0 until n).map(j => s"element_at(t, i + $j)").mkString(", ")}))
        ELSE array_remove(array(''), '') END"""

  /** text_rep_ngram — within-document repetition: how much of the
    * 2-gram / 3-gram stream is duplicate occurrences (the
    * boilerplate / looping-generation signal quality pipelines gate
    * on). dup_k = #grams − #distinct grams; repK_milli =
    * ⌊1000·dup∕total⌋ — exact integer math, scan-side only.
    */
  def repNgram(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("t", expr(toksExpr))
      .withColumn("g2", expr(grams(2)))
      .withColumn("g3", expr(grams(3)))
      .select(col("doc_id"),
        expr("cast(size(g2) as bigint)").as("n_2grams"),
        expr("cast(size(g2) - size(array_distinct(g2)) as bigint)").as("dup_2grams"),
        expr("cast(size(g3) as bigint)").as("n_3grams"),
        expr("cast(size(g3) - size(array_distinct(g3)) as bigint)").as("dup_3grams"))
      .withColumn("rep2_milli",
        when(col("n_2grams") > 0, expr("dup_2grams * 1000 div n_2grams")).otherwise(0L))
      .withColumn("rep3_milli",
        when(col("n_3grams") > 0, expr("dup_3grams * 1000 div n_3grams")).otherwise(0L))
      .orderBy("doc_id")

  /** Vocabulary size for [[vocab]] / [[encode]] — deliberately smaller
    * than the corpus's distinct-token count so the OOV path is
    * exercised by the oracle gate, not just by specs.
    */
  val VocabN = 20

  /** text_vocab — corpus vocabulary: top-[[VocabN]] tokens by
    * frequency, id = frequency rank (count desc, token tiebreak) — the
    * deterministic vocab-build step before tokenize-to-ids. One
    * explode + count shuffle with map-side combine; the global top-k
    * is orderBy+limit (per-partition winners, tiny final merge), then
    * ranks assigned on the bounded [[VocabN]]-row frame.
    */
  def vocab(spark: SparkSession, dir: String): DataFrame = {
    // repartition: the single-file table scans as 1-2 partitions,
    // which would serialize the tokenize/explode work
    val counts = Tables(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("t", expr(toksExpr))
      .select(explode(col("t")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(VocabN)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("tok"))
    counts.withColumn("vocab_id", row_number().over(w).cast("long"))
      .select("vocab_id", "tok", "cnt")
      .orderBy("vocab_id")
  }

  /** text_encode — tokenize-to-ids under the [[vocab]]: every token
    * maps to its vocab id (0 = OOV), summarized per document as
    * order-independent integer aggregates (token count, OOV count,
    * Σ pos·id checksum). The vocab is broadcast (bounded by
    * [[VocabN]]); the encode pass is one scan + one per-doc
    * aggregation.
    */
  def encode(spark: SparkSession, dir: String): DataFrame = {
    val v = vocab(spark, dir).select(col("tok"), col("vocab_id"))
    val docs = Tables(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
    val summarized = docs
      .withColumn("t", expr(toksExpr))
      .select(col("doc_id"), posexplode(col("t")).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("tok"))
      .join(broadcast(v), Seq("tok"), "left")
      .withColumn("vid", coalesce(col("vocab_id"), lit(0L)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum((col("vid") === 0L).cast("long")).as("n_oov"),
        sum(col("pos") * col("vid")).as("enc_chk"))
    // zero-token docs must still appear (n_tokens = 0), not silently
    // vanish from the per-doc summary — explode drops them, the left
    // join restores them
    docs.select(col("doc_id"))
      .join(summarized, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(col("enc_chk"), lit(0L)).as("enc_chk"))
      .orderBy("doc_id")
  }

  /** Minimum kept-segment length for [[lineDedup]]. */
  val MinSegChars = 20

  /** Tokens per segment for [[lineDedup]]. */
  val SegTokens = 8

  /** text_line_dedup — CROSS-document segment repetition (the
    * boilerplate/license-header signal; [[repNgram]] is the
    * within-doc counterpart): segment each doc into aligned
    * [[SegTokens]]-token chunks (this corpus carries no sentence
    * punctuation — chunking is the tokenizer-level segmentation; a
    * newline-structured corpus would split on lines with the same
    * plumbing) and count how many of a doc's distinct segments also
    * appear in at least one other document, as exact integers.
    * explode_outer keeps zero-segment docs in the per-doc summary;
    * one count shuffle builds the global segment index — the
    * reusable artifact a pipeline persists.
    */
  def lineDedup(spark: SparkSession, dir: String): DataFrame = {
    val segsExpr =
      s"""CASE WHEN size(t) >= $SegTokens THEN
            filter(transform(sequence(0, size(t) div $SegTokens - 1),
              i -> concat_ws(' ', slice(t, i * $SegTokens + 1, $SegTokens))),
              x -> length(x) >= $MinSegChars)
          ELSE array_remove(array(''), '') END"""
    val base = Tables(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("t", expr(toksExpr))
      .withColumn("segs", expr(s"array_distinct($segsExpr)"))
      .select(col("doc_id"), expr("cast(size(segs) as bigint)").as("n_segs"),
        explode_outer(col("segs")).as("seg"))
    // distinct within doc, so count(*) per segment = #docs containing it
    val counts = base.filter(col("seg").isNotNull)
      .groupBy("seg").agg(count(lit(1)).as("n_docs"))
    base.join(counts, Seq("seg"), "left")
      .groupBy("doc_id")
      .agg(max(col("n_segs")).as("n_segs"),
        sum(coalesce((col("n_docs") >= 2).cast("long"), lit(0L))).as("n_shared"))
      .withColumn("shared_milli",
        when(col("n_segs") > 0, expr("n_shared * 1000 div n_segs")).otherwise(0L))
      .orderBy("doc_id")
  }

  /** Top terms kept per document by [[tfidf]]. */
  val TfidfK = 5

  /** text_tfidf — rarity-weighted top terms per document: tf·idf with
    * the log-free rational surrogate score tf·N∕(df·len) in micro
    * units (keeps the whole chain in one float expression written
    * identically in both engines — `floor(1e6·tf·N/df/len)`; the
    * inputs are exact bigints, determinism comes from the identical
    * IEEE op order, the precedent of q8/q14). Exact tf/df/len/N ride
    * along for downstream re-weighting.
    *
    * Shape at 100 TB: ONE tokenize+explode; tf = one (doc,tok)
    * shuffle; doc length reuses the tf frame through a doc-keyed
    * window (no rescan); df reuses it through a tok-keyed aggregate
    * (tf rows are already distinct (doc,tok) — df is a count, not a
    * count-distinct). The df join is unhinted: token cardinality
    * scales with the corpus, AQE picks the join side. Top-k per doc
    * is the WindowGroupLimit-pruned row_number pattern.
    */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
    val n = docs.count() // parquet-metadata-cheap corpus size
    val tf = docs
      .withColumn("t", expr(toksExpr))
      .select(col("doc_id"), explode(col("t")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfTbl = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val wd = Window.partitionBy("doc_id")
    val wr = Window.partitionBy("doc_id").orderBy(col("score_u").desc, col("tok"))
    tf.join(dfTbl, Seq("tok"))
      .withColumn("n_tokens", sum(col("tf")).over(wd))
      .withColumn("score_u",
        floor(lit(1000000.0) * col("tf") * lit(n) / col("df") / col("n_tokens"))
          .cast("long"))
      .withColumn("rk", row_number().over(wr).cast("long"))
      .filter(col("rk") <= TfidfK)
      .select("doc_id", "rk", "tok", "tf", "df", "n_tokens", "score_u")
      .orderBy("doc_id", "rk")
  }

  /** Collocations reported by [[pmi]] and its minimum pair count. */
  val PmiK = 50
  val PmiMinCount = 5

  /** text_pmi — top collocations (adjacent token pairs) by the
    * log-free PMI surrogate r = c_xy·N₁²∕(N₂·c_x·c_y) in micro units
    * (the ratio inside the log — same ranking, exact bigint inputs,
    * one identical IEEE chain both engines; the [[tfidf]] rule). Pairs
    * below [[PmiMinCount]] are dropped — the classic guard against
    * hapax pairs maximizing the ratio.
    *
    * Shape: ONE tokenize pass feeds both the unigram and the
    * adjacent-pair (shared [[grams]]) counts; the pair→unigram
    * decorate joins are unhinted (token cardinality scales — AQE);
    * final top-k is orderBy+limit over the thresholded pair frame.
    */
  def pmi(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("t", expr(toksExpr))
    val uni = base.select(explode(col("t")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c1"))
    val pairs = base.select(explode(expr(grams(2))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= PmiMinCount)
    val totals = uni.agg(sum(col("c1")).as("n1"))
      .crossJoin(pairs.agg(sum(col("c_xy")).as("n2")))
    pairs
      .withColumn("x", expr("split(pair, ' ')[0]"))
      .withColumn("y", expr("split(pair, ' ')[1]"))
      .join(uni.select(col("tok").as("x"), col("c1").as("c_x")), Seq("x"))
      .join(uni.select(col("tok").as("y"), col("c1").as("c_y")), Seq("y"))
      .crossJoin(broadcast(totals))
      .withColumn("pmi_u",
        floor(lit(1000000.0) * col("c_xy") * col("n1") * col("n1")
          / col("n2") / col("c_x") / col("c_y")).cast("long"))
      .select("pair", "c_xy", "c_x", "c_y", "pmi_u")
      .orderBy(col("pmi_u").desc, col("pair"))
      .limit(PmiK)
  }

  /** Dimensions of the [[hashEmbed]] feature space. */
  val HashDims = 64

  /** text_hash_embed — the feature-hashing trick: each document
    * becomes a [[HashDims]]-dim hashed bag-of-words, token t
    * contributing ±1 (sign from a second hash, the standard variance
    * killer) to dimension md5(t) mod d. Emitted long-form
    * (doc_id, dim, wt) with exact integer weights, zero-sum dims
    * dropped on both sides — the deterministic featurizer a pipeline
    * uses when a learned embedding is too expensive.
    *
    * At 100 TB: one tokenize+explode and ONE (doc, dim) groupBy with
    * map-side combine (≤ d combined rows per doc); no vocabulary, no
    * broadcast, no second pass — the whole point of hashing features.
    */
  def hashEmbed(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("t", expr(toksExpr))
      .select(col("doc_id"), explode(col("t")).as("tok"))
      .select(col("doc_id"),
        expr(s"graft_md5_prefix(tok) % $HashDims").as("dim"),
        expr("if(graft_md5_prefix(concat('s:', tok)) % 2 = 0, 1L, -1L)").as("sign"))
      .groupBy("doc_id", "dim")
      .agg(sum(col("sign")).as("wt"))
      .filter(col("wt") =!= 0)
      .orderBy("doc_id", "dim")
  }

  /** Tokens per packed training context window for [[pack]]. */
  val WinTokens = 512

  /** text_pack — sequence packing: documents are concatenated in
    * doc_id order into an unbroken token stream and cut into
    * fixed-[[WinTokens]] context windows (the concat-and-chunk step
    * that turns a cleaned corpus into training sequences). Emits each
    * document's absolute token offset and the window span it lands in.
    *
    * The global token offset is a prefix sum computed at scale with
    * the classic two-level scan: bucket documents by `doc_id div edge`
    * (edge ≈ √n so both levels stay ≈√n-sized), aggregate per-bucket
    * token totals (tiny frame), turn those into bucket base offsets
    * with a window over the ≈√n-row frame, then broadcast the offsets
    * back and finish with a window PARTITIONED by bucket — no
    * single-partition window ever sees the full corpus.
    */
  def pack(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .withColumn("t", expr(toksExpr))
      .select(col("doc_id"), expr("cast(size(t) as bigint)").as("n_tokens"))
    // corpus size for the √n bucket edge (parquet-metadata-cheap count)
    val n = docs.count()
    val edge = math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong)
    packDf(docs, edge)
  }

  /** The packing core over a `(doc_id, n_tokens)` frame; `edge` is the
    * bucket width of the two-level prefix sum — results are identical
    * for any edge ≥ 1 (spec-asserted), only the level sizes change.
    */
  def packDf(docs: DataFrame, edge: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = docs.withColumn("bkt", expr(s"doc_id div $edge"))
    val bucketTotals = b.groupBy("bkt").agg(sum(col("n_tokens")).as("bkt_tokens"))
    // ≈√n rows: a one-partition window here is the tiny level, not the corpus
    val wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketTotals
      .withColumn("bkt_off", coalesce(sum(col("bkt_tokens")).over(wb), lit(0L)))
      .select("bkt", "bkt_off")
    val ww = Window.partitionBy("bkt").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    b.join(broadcast(offsets), Seq("bkt"))
      .withColumn("start_tok", col("bkt_off") + coalesce(sum(col("n_tokens")).over(ww), lit(0L)))
      .withColumn("first_win", expr(s"start_tok div $WinTokens"))
      // zero-token docs sit AT their offset but span no window
      .withColumn("last_win",
        when(col("n_tokens") > 0, expr(s"(start_tok + n_tokens - 1) div $WinTokens"))
          .otherwise(col("first_win")))
      .withColumn("n_wins",
        when(col("n_tokens") > 0, col("last_win") - col("first_win") + 1).otherwise(0L))
      .select("doc_id", "n_tokens", "start_tok", "first_win", "last_win", "n_wins")
      .orderBy("doc_id")
  }

  /** Character-bigram array of the raw text (guarded: <2 chars → []). */
  /** Reference SQL form of the bigram stream (kept as the spec-side
    * cross-check for [[graft.functions.CharBigrams]]; the engine path
    * uses the packed-long kernel).
    */
  val charBigramsExpr: String =
    """CASE WHEN length(text) >= 2 THEN
         transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))
       ELSE array_remove(array(''), '') END"""

  /** text_charlm — character-bigram language-model scoring, the
    * KenLM-style perplexity gate of quality pipelines re-expressed
    * without logs so it stays exact-integer end-to-end: train
    * P(c₂|c₁) = count(c₁c₂)/count(c₁·) over the whole corpus (the
    * conditional as a micro-prob, `(10⁶·c₂) div c₁` — integer
    * division, no float crosses the engine boundary), then score each
    * document by the mean micro-prob of its bigram stream. Documents
    * full of corpus-typical character transitions score high;
    * boilerplate/garbage with rare transitions scores low — rank
    * order matches mean log-prob whenever the per-doc bigram
    * distributions are comparable, and the gate thresholds on rank.
    *
    * At 100 TB: the model is bounded by the charset² domain (two
    * map-side-combined HashAggregates into a tiny frame), scoring is
    * the exploded bigram stream ⋈ the broadcast model with a
    * map-side-PARTIAL doc_id aggregation — the shuffle carries only
    * per-partition per-doc partials, never the bigram stream, and
    * the whole scoring path stays inside whole-stage codegen. (A
    * zero-join variant folding each document's bigram array through
    * a broadcast 1-row MAP measured 2.6× slower: higher-order
    * function lambdas run interpreted per element, outside codegen —
    * the codegen'd join + partial agg wins.)
    *
    * The bigram stream itself is the native
    * [[graft.functions.CharBigrams]] kernel: each bigram is ONE long
    * (`(cp₁ << 21) | cp₂`, injective over code points) instead of a
    * 2-char UTF8String, so the corpus-dominating explode emits
    * primitive longs, the model groupBy hashes 8-byte keys, and the
    * conditioning context is `shiftright(bg, 21)`. The prior
    * `transform(sequence(…), i -> substring(text,i,2))` form ran the
    * lambda interpreted per element and allocated a string per bigram
    * on BOTH corpus passes — the packed kernel is 5.3× faster at
    * sf0.1 (3.57 → 0.67 s) and 19× at sf1.0 (36.2 → 1.9 s), turning
    * the worst ratio in the §6.0 growth table (10.1×, exactly-linear)
    * into a 2.8× fixed-cost-dominated one.
    */
  /** Per-doc char-bigram LM scores with zero-bigram defaults — the
    * shared front of [[charLm]] (the score report) and
    * [[ccnetBuckets]] (the CCNet head/middle/tail split).
    */
  private[ops] def charLmScores(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(expr("graft_char_bigrams(text)")).as("bg"))
    val c2 = docs.groupBy("bg").agg(count(lit(1)).as("c2"))
    val model = c2
      .withColumn("p", expr("shiftright(bg, 21)"))
      .withColumn("c1", sum(col("c2")).over(Window.partitionBy("p")))
      .withColumn("p_u", expr("(1000000 * c2) div c1"))
      .select("bg", "p_u")
    val scored = docs.join(broadcast(model), Seq("bg"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), expr("sum(p_u) div count(1)").as("lm_u"))
    Tables(spark, dir, "documents").select("doc_id", "source")
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm_u"), lit(0L)).as("lm_u"))
  }

  def charLm(spark: SparkSession, dir: String): DataFrame =
    charLmScores(spark, dir)
      .select("doc_id", "n_bigrams", "lm_u")
      .orderBy("doc_id")

  /** text_ccnet_buckets — the CCNet move: rank every document WITHIN
    * its source by LM score and split head (top 10%) / middle (next
    * 40%) / tail — the quality-tiering that lets a pipeline keep
    * head+middle and drop (or downweight) the tail without a learned
    * classifier. Boundaries are pure integer comparisons on the
    * per-source rank (10·rk ≤ n → head, 2·rk ≤ n → middle), ties
    * broken by doc_id, so the split is exact and reproducible.
    *
    * Scale shape: scoring is the shared charLm chain (corpus bigram
    * pass ⋈ broadcast bounded model); the ranking is one
    * source-partitioned window sort — exactly CCNet's per-language
    * shard sort — and the report aggregates to (source, bucket).
    */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val s = charLmScores(spark, dir)
    val w = Window.partitionBy("source").orderBy(col("lm_u").desc, col("doc_id"))
    val n = Window.partitionBy("source")
    s.withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(n))
      .withColumn("bucket",
        when(col("rk") * 10 <= col("n"), "head")
          .when(col("rk") * 2 <= col("n"), "middle")
          .otherwise("tail"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        min("lm_u").as("min_lm_u"), max("lm_u").as("max_lm_u"),
        sum("doc_id").as("id_chk"))
      .orderBy("source", "bucket")
  }

  /** text_vocab_growth — the Heaps-law vocabulary-growth curve: per
    * id-range decile of the corpus, cumulative token occurrences vs
    * cumulative DISTINCT vocabulary (plus the new-types count) — the
    * how-much-new-data-still-adds-words audit that decides whether
    * another crawl increment is worth tokenizer retraining. Deciles
    * are VALUE-RANGE deciles of the ingest id axis
    * (`(doc_id·10) div (max_id+1)`) — exact-RANK deciles of a unique
    * id column would need a global sort of the corpus; the id axis is
    * the ingest order anyway. Two map-side-combined corpus passes
    * (token first-occurrence min, per-decile occurrence counts); the
    * cumulative read runs on the 10-row decile frame.
    */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val mx = docs.agg(max(col("doc_id")).as("mx"))
    val toks = docs.select(col("doc_id"), explode(expr(toksExpr)).as("tok"))
      .crossJoin(broadcast(mx))
      .withColumn("dec", expr("(doc_id * 10) div (mx + 1)"))
    val occ = toks.groupBy("dec").agg(count(lit(1)).as("n_occ"))
    val firsts = toks.groupBy("tok").agg(min(col("dec")).as("first_dec"))
      .groupBy(col("first_dec").as("dec")).agg(count(lit(1)).as("n_new"))
    val w = Window.orderBy("dec") // 10-row frame: the single partition is the point
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    occ.join(firsts, Seq("dec"), "left")
      .select(col("dec"), col("n_occ"), coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("cum_tokens", sum("n_occ").over(w))
      .withColumn("cum_vocab", sum("n_new").over(w))
      .select(col("dec"), col("cum_tokens"), col("cum_vocab"), col("n_new"))
      .orderBy("dec")
  }

  /** [[nbClassify]] parameters: vocabulary cap (the model stays a
    * bounded, broadcastable V×C frame no matter the corpus size) and
    * the deterministic 80/20 train/heldout hash split.
    */
  val NbVocabN = 256
  val NbTrainPct = 80L

  /** text_nb_classify — multinomial Naive-Bayes-STYLE source
    * classifier (the quality/domain tagger of data pipelines), kept
    * exact-integer end-to-end with the same log-free surrogate as
    * [[charLm]]: instead of summing log-probabilities the score sums
    * add-one-smoothed conditional MICRO-probabilities
    * `(10⁶·(cnt+1)) div (tot+V)` per token occurrence — a monotone
    * per-token transform of the NB likelihood, deterministic on both
    * engines because no float ever crosses the boundary. Train on the
    * hash-80% split: top-[[NbVocabN]] vocabulary (count desc, token
    * tiebreak), class-conditional counts ONLY over that vocab slice.
    * Score the heldout 20%: explode tokens ⋈ the broadcast V×C model
    * (OOV tokens drop — they carry no class evidence under a capped
    * vocab), sum per (doc, class), argmax with class-name tiebreak.
    *
    * At 100 TB: the model is bounded (V×C rows) so the scoring join
    * is always a broadcast; both corpus passes (vocab count, scoring)
    * are map-side-combined aggregations; nothing scales quadratically.
    */
  def nbClassify(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .withColumn("is_train",
        expr(s"graft_md5_prefix(concat('nb:', cast(doc_id as string))) % 100 < $NbTrainPct"))
    val toks = docs.select(col("doc_id"), col("source"), col("is_train"),
      explode(expr(toksExpr)).as("tok"))
    val trainToks = toks.filter(col("is_train"))
    val vocab = trainToks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(NbVocabN).select("tok")
    val classes = trainToks.select(col("source").as("cls")).distinct()
    val cc = trainToks.join(broadcast(vocab), Seq("tok"))
      .groupBy(col("source").as("cls"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val tot = cc.groupBy("cls").agg(sum("cnt").as("tot"))
    // the V×C grid is a deliberate bounded cross (≤ NbVocabN × classes
    // rows — Catalyst constant-folds any synthetic equi-key away, so
    // it always plans as a broadcast nested loop; the plan audit
    // allows exactly this one BNLJ and pins that both its inputs stay
    // aggregate-bounded)
    val model = broadcast(vocab).crossJoin(classes)
      .join(cc, Seq("tok", "cls"), "left")
      .join(tot, Seq("cls"))
      .select(col("tok"), col("cls"),
        expr(s"(1000000 * (coalesce(cnt, 0) + 1)) div (tot + $NbVocabN)").as("p_u"))
    val scores = toks.filter(!col("is_train"))
      .join(broadcast(model), Seq("tok"))
      .groupBy(col("doc_id"), col("cls"))
      .agg(sum(col("p_u")).as("score_u"), count(lit(1)).as("n_hits"))
    val best = scores.withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score_u").desc, col("cls"))))
      .filter(col("rn") === 1)
    docs.filter(!col("is_train")).select(col("doc_id"), col("source"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("cls"), lit("")).as("pred"),
        coalesce(col("score_u"), lit(0L)).as("score_u"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .orderBy("doc_id")
  }

  /** Word-histogram size for [[bpe]] — the bounded training domain. */
  val BpeWords = 64

  /** Merge rounds for [[bpe]] — the ordered merge list IS the trained
    * artifact (a BPE tokenizer's merges.txt).
    */
  val BpeRounds = 8

  /** text_bpe — BPE tokenizer training (Sennrich et al. 2016, the
    * word-histogram formulation production trainers use): ONE corpus
    * scan builds the top-[[BpeWords]] word histogram (count desc, word
    * tiebreak — the [[vocab]] rule), then [[BpeRounds]] merge rounds
    * run entirely on that bounded frame: each round counts adjacent
    * symbol pairs weighted by word frequency, picks the best pair
    * (count desc, pair asc) and merges its occurrences. Output is the
    * ordered merge table.
    *
    * Merge semantics: a round applies `replace(seq, ' a b ', ' ab ')`
    * on the space-delimited symbol string — the left-to-right
    * non-overlapping replace BOTH engines define identically. For
    * self-pairs (a = b) over odd-length runs this differs from
    * canonical greedy BPE only in WHICH occurrences merge
    * (' a a a a a ' merges (1,2)(4,5), greedy merges (1,2)(3,4)); the
    * deviation is deterministic, and unreachable for the a ≠ b merges
    * real corpora overwhelmingly produce.
    *
    * Scale shape: the corpus contributes one tokenize + count shuffle
    * (map-side combined) + a top-k; every merge round is two bounded
    * aggregations over ≤ [[BpeWords]] rows with a 1-row broadcast
    * best, localCheckpoint'd per round so the final plan is
    * R-independent — the corpus-pass-then-bounded-train shape of
    * [[graft.ops.Similarity.ivfKmeans]]. A 100 TB corpus changes only
    * the histogram pass.
    */
  /** ' a b c ' space-delimited character sequence of a word column. */
  private def charSeq(word: String): Column =
    concat(lit(" "), concat_ws(" ",
      expr(s"transform(sequence(1, length($word)), i -> substring($word, i, 1))")), lit(" "))

  /** The [[bpe]] training loop: per-round 1-row best frames
    * (merge_rank, a, b, merged, pair_cnt), each localCheckpoint'd —
    * shared by the merge-table output and [[bpeEncode]].
    */
  private def bpeMerges(spark: SparkSession, dir: String): Seq[DataFrame] = {
    val words = Tables(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("t", expr(toksExpr))
      .select(explode(col("t")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(BpeWords)
    var vocab = words.withColumn("seq", charSeq("word")).localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (r <- 1 to BpeRounds) {
      val pairs = vocab
        .withColumn("syms", split(trim(col("seq")), " "))
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("pair_cnt"))
      // bounded frame (≤ Σ word lengths distinct pairs): global
      // sort+limit is the deterministic cross-engine argmax
      val best = pairs.orderBy(col("pair_cnt").desc, col("a"), col("b")).limit(1)
        .select(lit(r.toLong).as("merge_rank"), col("a"), col("b"),
          concat(col("a"), col("b")).as("merged"), col("pair_cnt"))
        .localCheckpoint()
      merges += best
      vocab = vocab
        .crossJoin(broadcast(best.select(col("a").as("ma"), col("b").as("mb"))))
        .withColumn("seq",
          expr("replace(seq, ' ' || ma || ' ' || mb || ' ', ' ' || ma || mb || ' ')"))
        .select("word", "cnt", "seq")
        .localCheckpoint()
    }
    merges.toSeq
  }

  def bpe(spark: SparkSession, dir: String): DataFrame =
    bpeMerges(spark, dir).reduce(_ union _).orderBy("merge_rank")

  /** text_bpe_encode — the ENCODE face of [[bpe]]: apply the learned
    * merge list (rank order) to every document and summarize the
    * subword tokenization as order-independent integers (word count,
    * subword count, Σ len(subword)² checksum — finer splits score
    * lower, so the checksum pins the exact segmentation, not just the
    * counts).
    *
    * Scale shape: the merges apply to the DISTINCT-WORD dictionary
    * (each of the 8 rounds is a 1-row broadcast + replace over the
    * dictionary — never the corpus), and the encoded words rejoin the
    * corpus explode by word; per-doc stats are one map-side-combined
    * aggregation. A 100 TB corpus re-encodes its dictionary, not its
    * tokens.
    */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val bests = bpeMerges(spark, dir)
    val d = Tables(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("t", expr(toksExpr))
      .select(col("doc_id"), explode(col("t")).as("word"))
    var enc = d.select("word").distinct().withColumn("seq", charSeq("word"))
    for (b <- bests) {
      enc = enc
        .crossJoin(broadcast(b.select(col("a").as("ma"), col("b").as("mb"))))
        .withColumn("seq",
          expr("replace(seq, ' ' || ma || ' ' || mb || ' ', ' ' || ma || mb || ' ')"))
        .select("word", "seq")
    }
    val stats = enc
      .withColumn("subs", split(trim(col("seq")), " "))
      .select(col("word"), size(col("subs")).cast("long").as("n_subs"),
        expr("aggregate(subs, 0L, (acc, s) -> acc + cast(length(s) * length(s) as bigint))")
          .as("sublen2"))
    val perDoc = d.join(stats, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_subs")).as("n_subwords"),
        sum(col("sublen2")).as("sum_sublen2"))
    Tables(spark, dir, "documents").select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_subwords"), lit(0L)).as("n_subwords"),
        coalesce(col("sum_sublen2"), lit(0L)).as("sum_sublen2"))
      .orderBy("doc_id")
  }

  /** Chunk geometry for [[chunk]]: window of [[ChunkW]] tokens at
    * stride [[ChunkS]] — the 25 % overlap every RAG/pretraining
    * chunker defaults to, so a fact straddling a boundary appears
    * whole in at least one chunk.
    */
  val ChunkW = 32
  val ChunkS = 24

  /** text_chunk — overlapping token-window chunking: split every
    * document into [[ChunkW]]-token windows at stride [[ChunkS]],
    * emitting per-chunk provenance (doc, ordinal, token offset) plus
    * an order-weighted token-hash checksum — the document→chunk
    * explosion that precedes embedding in a RAG indexing pipeline and
    * sequence packing in a pretraining one.
    *
    * Exactness: every output is an integer or a token string — the
    * checksum is Σ i·md5(tok_i) over the chunk (order-weighted bigint,
    * ≤ 2^42 so no overflow), so the oracle matches bit-for-bit.
    * Scale shape: ONE scan, one generator explode (sequence of chunk
    * starts — ≤ n/stride elements per doc, never data-independent
    * blowup), zero joins, zero shuffles before the output sort; the
    * slice projection is per-row codegen. At 100 TB this is the
    * map-only operator it should be.
    */
  def chunk(spark: SparkSession, dir: String): DataFrame = {
    val md5 = Dedup.md5Int("tok")
    Tables(spark, dir, "documents")
      .withColumn("t", expr(toksExpr))
      .withColumn("n", expr("cast(size(t) as bigint)"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("t"),
        posexplode(expr(s"sequence(0L, n - 1, $ChunkS)")).as(Seq("chunk_id0", "start")))
      .withColumn("ct", expr(s"slice(t, cast(start as int) + 1, $ChunkW)"))
      .select(col("doc_id"),
        col("chunk_id0").cast("long").as("chunk_id"),
        col("start").cast("long").as("start_tok"),
        expr("cast(size(ct) as bigint)").as("n_tok"),
        expr("element_at(ct, 1)").as("head_tok"),
        expr(s"aggregate(zip_with(ct, sequence(1L, size(ct)), (tok, i) -> i * $md5), 0L, (a, v) -> a + v)")
          .as("cksum"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Rolling-window length and boundary modulus for [[cdcChunks]]:
    * a boundary fires where the [[CdcW]]-char window hash ≡ 0 mod
    * [[CdcMod]], so chunks average ≈ [[CdcMod]] chars.
    */
  val CdcW = 8
  val CdcMod = 64L

  /** text_cdc_chunks — content-defined chunking (the rsync/LBFS/
    * restic boundary rule): a chunk boundary falls after character
    * position i whenever the hash of the [[CdcW]]-char window ending
    * at i is ≡ 0 mod [[CdcMod]]. Because boundaries depend only on
    * LOCAL content, an insertion early in a document shifts every
    * byte offset but leaves all downstream chunk hashes intact —
    * exactly why storage dedup uses CDC instead of fixed-size blocks,
    * and why it is the right chunk-level dedup for re-crawled corpora
    * (each chunk row carries `shared`, the count of distinct docs
    * containing that exact chunk). Fixed-stride cousins: [[chunk]]
    * (token windows), mm_patchify (pixel blocks).
    *
    * Exactness: the boundary hash is the engine's shared md5-prefix
    * integer ([[Dedup.md5Int]] — the native kernel on the Spark side,
    * the strpos polynomial in DuckDB) and chunk identity is full
    * md5 hex, so both engines agree bit-for-bit. Scale shape: window
    * hashing is ONE pass per doc via the `graft_char_windows` kernel
    * (O(n·W) bytes, not the O(n²) per-position substring walk), the
    * chunk assembly is two doc-keyed window functions, and the
    * cross-doc `shared` count is one hash-keyed aggregation joined
    * back with an explicit merge hint (the count frame scales with
    * the corpus — never a broadcast candidate, per the sf1.0 sweep's
    * AQE-OOM lesson).
    */
  def cdcChunks(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("n"))
      .filter(col("n") >= 1)
    // boundary ends: char position p0+CdcW (1-based end of the window
    // starting at 0-based p0) wherever the window hash hits the rule;
    // the final end n closes the last chunk
    val bnds = base
      .select(col("doc_id"), col("n"),
        posexplode(expr(s"graft_char_windows(text, $CdcW)")).as(Seq("p0", "w")))
      .filter(expr(s"graft_md5_prefix(w) % $CdcMod = 0"))
      .select(col("doc_id"), col("n"), (col("p0") + CdcW).cast("long").as("end"))
      .where(col("end") < col("n"))
      .select(col("doc_id"), col("end"))
    val ends = bnds.union(base.select(col("doc_id"), col("n").as("end")))
    val wd = Window.partitionBy("doc_id").orderBy("end")
    val chunks = ends
      .withColumn("chunk_idx", row_number().over(wd).cast("long"))
      .withColumn("start", coalesce(lag(col("end"), 1).over(wd) + 1L, lit(1L)))
      .join(base.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("chunk_idx"), col("start"),
        (col("end") - col("start") + 1L).as("chunk_len"),
        md5(expr("substring(text, cast(start as int), cast(end - start + 1 as int))"))
          .as("chunk_md5"))
    val sharedCnt = chunks.groupBy("chunk_md5")
      .agg(countDistinct(col("doc_id")).as("shared"))
    chunks.join(sharedCnt.hint("merge"), Seq("chunk_md5"))
      .select(col("doc_id"), col("chunk_idx"), col("start").as("chunk_start"),
        col("chunk_len"), col("chunk_md5"), col("shared"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** k-gram length / window width of [[winnow]] — guarantee threshold
    * t = k + w − 1 = 11 chars: any shared normalized substring of ≥ t
    * chars yields at least one shared fingerprint.
    */
  val WinnowK = 8
  val WinnowW = 4

  /** text_winnow — winnowing document fingerprints (Schleimer–
    * Wilkerson–Aiken, the MOSS algorithm): hash every [[WinnowK]]-char
    * window of the case/punctuation-normalized text, then in each run
    * of [[WinnowW]] consecutive hashes select the RIGHTMOST MINIMUM —
    * the selected (position, hash) set is a ~2/(w+1)-density
    * fingerprint with the local guarantee exact-hash sampling (every
    * w-th, mod-0) lacks: two docs sharing any normalized substring of
    * ≥ k+w−1 chars MUST share a fingerprint, and no fingerprint gap
    * exceeds w positions. Per doc: window count, selected-print
    * count, prints appearing in ≥ 2 docs (the plagiarism/copy signal
    * on this corpus's real near-dup families), and an exact
    * positional checksum.
    *
    * The rightmost-min selection is declarative, not stateful: every
    * full window is the bounded w-row frame ENDING at some position,
    * so ONE doc-keyed window pass takes `min(struct(h, −p))` per
    * frame — ties break to the larger p, exactly the robust-winnowing
    * rule — and DISTINCT collapses the overlap. (The first cut
    * exploded each position into its ≤ w covering windows and
    * re-grouped; the sf1.0 sweep measured that 4×-explode + regroup
    * at 79 s vs this single pass — same output, one shuffle.)
    * Scale shape: one `graft_char_windows` kernel pass per doc, one
    * doc-keyed window sort, one hash-keyed shared count; everything
    * map-side-combines, nothing is all-pairs.
    */
  def winnow(spark: SparkSession, dir: String): DataFrame = {
    winnowOf(Tables(spark, dir, "documents"))
  }

  /** Normalized docs with ≥ one full window. */
  private def winnowBase(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        expr("trim(regexp_replace(lower(text), '[^a-z0-9]+', ' '))").as("nt"))
      .filter(length(col("nt")) >= WinnowK + WinnowW - 1)

  /** The selected print set (doc_id, h, p) BEFORE materialization —
    * split out so the plan audit can pin "exactly one window pass".
    */
  private[graft] def winnowSel(docs: DataFrame): DataFrame = {
    val hp = winnowBase(docs)
      .select(col("doc_id"),
        (length(col("nt")) - (WinnowK - 1)).cast("long").as("nh"),
        posexplode(expr(s"graft_char_windows(nt, $WinnowK)")).as(Seq("p0", "w")))
      .select(col("doc_id"), col("nh"), col("p0").cast("long").as("p"),
        expr("graft_md5_prefix(w)").as("h"))
    val frame = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(-(WinnowW - 1), Window.currentRow)
    hp
      .withColumn("s", min(struct(col("h"), (-col("p")).as("np"))).over(frame))
      // only frames that are FULL windows select (classic winnowing)
      .filter(col("p") >= WinnowW - 1)
      .select(col("doc_id"), col("s.h").as("h"), (-col("s.np")).as("p"))
      .distinct()
  }

  def winnowOf(docs: DataFrame): DataFrame = {
    val base = winnowBase(docs)
    // both the shared count and the per-doc report consume the print
    // set — materialize it once or the whole selection (scan +
    // window + distinct) replans per consumer
    val sel = winnowSel(docs).localCheckpoint()
    val shared = sel.groupBy("h").agg(countDistinct(col("doc_id")).as("nd"))
    sel.join(shared, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_prints"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"),
        sum(expr("(p + 1L) * (h % 1000000007L)")).as("print_chk"))
      .join(base.select(col("doc_id"),
        (length(col("nt")) - (WinnowK - 1)).cast("long").as("n_hashes")), Seq("doc_id"))
      .select(col("doc_id"), col("n_hashes"), col("n_prints"),
        col("n_shared"), col("print_chk"))
      .orderBy("doc_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_winnow" -> (winnow _),
    "text_ccnet_buckets" -> (ccnetBuckets _),
    "text_chunk" -> (chunk _),
    "text_cdc_chunks" -> (cdcChunks _),
    "text_bpe" -> (bpe _),
    "text_bpe_encode" -> (bpeEncode _),
    "text_charlm" -> (charLm _),
    "text_nb_classify" -> (nbClassify _),
    "text_vocab_growth" -> (vocabGrowth _),
    "text_pack" -> (pack _),
    "text_tfidf" -> (tfidf _),
    "text_hash_embed" -> (hashEmbed _),
    "text_pmi" -> (pmi _),
    "text_line_dedup" -> (lineDedup _),
    "text_vocab" -> (vocab _),
    "text_encode" -> (encode _),
    "text_rep_ngram" -> (repNgram _),
    "text_tokens" -> (tokens _),
    "text_quality" -> (quality _),
    "text_langid" -> (langid _),
    "text_fingerprint" -> (fingerprint _),
    "text_ngrams" -> (topNgrams _),
    "text_filter" -> (filterDocs _),
    "text_pii_mask" -> (piiMask _)
  )
}
