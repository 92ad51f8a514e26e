package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import TextAnalysis.toksExpr

/** Deduplication operators for LLM training-data pipelines, over the
  * `documents` table.
  *
  * Scale design: nothing here is O(n²). Candidate generation always
  * goes through a blocking/banding key (exact hash, LSH band, length
  * bucket) and the exact similarity check runs only on candidate
  * pairs. At 100 TB: one scan to compute per-doc signatures (map-side,
  * codegen'd), one shuffle on the blocking key, pair checks inside
  * each bucket; skewed buckets are handled by AQE skew-join splitting.
  */
object Dedup {

  /** Word-3-gram shingle array over a materialized token column `t`
    * (empty when < 3 tokens) — the distinct view of the shared
    * [[TextAnalysis.grams]] builder.
    */
  val shinglesExpr: String = s"array_distinct(${TextAnalysis.grams(3)})"

  /** First-8-hex-digits of md5 as a bigint in [0, 2^32) — the shared
    * string-to-int hash via the native thread-local-digest expression
    * (see [[graft.functions.Md5PrefixLong]]; the stock
    * md5+substr+conv chain hits the synchronized java.security
    * provider lookup per row). The oracle re-derives it with a strpos
    * polynomial; values are identical.
    */
  def md5Int(x: String): String = s"graft_md5_prefix($x)"

  /** MinHash permutation parameters: (a_j, b_j) affine maps mod p. */
  val MinhashK = 8
  val MinhashP = 2147483647L
  def perm(j: Int): (Long, Long) = (2L * j + 3, 5L * j + 7)

  /** dedup_exact — md5-keyed exact duplicate groups with canonical
    * (min) doc id. One shuffle on the 128-bit key.
    */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("key"))
      .groupBy("key")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("canonical"))
      .orderBy("canonical")

  /** dedup_normalized — normalization-exact dedup (the C4/CCNet first
    * pass): case-fold, collapse every non-alphanumeric run to one
    * space, trim, THEN hash — so "Hello, World!" and "hello world"
    * collapse to one group that byte-exact dedup misses, while
    * genuinely different texts never merge (normalization is
    * deterministic, not fuzzy). Each group carries `n_variants`, the
    * count of distinct RAW texts it absorbed — the measure of what
    * this pass catches beyond [[exact]]. Same one-shuffle shape as
    * exact dedup: the normalization is scan-side codegen'd string
    * work, the group-by key is still a 128-bit hash.
    */
  def normalizedDf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        md5(expr("trim(regexp_replace(lower(text), '[^a-z0-9]+', ' '))")).as("key"),
        md5(col("text")).as("ek"))
      .groupBy("key")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("ek")).as("n_variants"),
        min("doc_id").as("canonical"))
      .orderBy("canonical")

  def normalized(spark: SparkSession, dir: String): DataFrame =
    normalizedDf(Tables(spark, dir, "documents"))

  /** dedup_ngram_jaccard — token-set Jaccard near-dup pairs, τ = 0.5
    * tested exactly as `2*|∩| >= |∪|` (pure integer compare, no float
    * threshold). Candidate generation routes through the MinHash LSH
    * band join ([[bandCandidates]]): 4 bands × 2 rows over the k=8
    * shingle signature, so candidates are a band-value equi-join —
    * linear in corpus size for unrelated documents (disjoint shingle
    * sets almost never collide on a band) — and NEVER an
    * all-pairs-within-block product. The exact intersect/union runs
    * only on candidates.
    *
    * Recall is the standard LSH S-curve 1-(1-Js²)⁴ over shingle
    * similarity Js (deterministic here — fixed permutations): ≈99.6%
    * at Js=0.75, ≈93% at Js=0.7, tapering through the τ boundary.
    * Unlike the earlier equal-length-bucket blocking, recall does not
    * collapse to zero for true pairs whose token counts straddle a
    * bucket edge. Token-order-scrambled near-dups (token-similar but
    * shingle-disjoint) are out of scope here — that's what
    * [[simhash]] / [[embed]] cover.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    verifiedCandidates(spark, dir)
      .filter(col("inter") * 2 >= col("uni"))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("nt_a"), col("nt_b"),
        col("uni"), (col("inter") / col("uni")).as("jaccard"))
      .orderBy("doc_a", "doc_b")

  /** The exact-verified band-candidate frame BEFORE the τ filter —
    * (doc_a, doc_b, inter, nt_a, nt_b, uni) for every LSH candidate
    * pair — shared by [[ngramJaccard]] (τ = 0.5 cut), [[curve]] (the
    * full threshold sweep), [[overlapMatrix]], and through
    * [[ngramJaccard]] by [[cluster]]/[[keepBest]]/[[dedupYield]].
    *
    * Rebuilt per call and returned as a plan (each consumer reads it
    * once): the tokenize + band-join + exact array_intersect verify
    * runs inside the consumer's own action.
    */
  private[graft] def verifiedCandidates(spark: SparkSession, dir: String): DataFrame = {
    val cands = bandCandidates(signatures(spark, dir))
    // Decouple parallelism from file layout: a single-file table scans
    // as 1-2 partitions, which would serialize the intersect work.
    val docs = Tables(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        expr(s"array_distinct($toksExpr)").as("toks"),
        expr(s"cast(size(array_distinct($toksExpr)) as bigint)").as("nt"))
    cands
      .join(docs.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"),
        col("nt").as("nt_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"),
        col("nt").as("nt_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr("cast(size(array_intersect(toks_a, toks_b)) as bigint)").as("inter"),
        col("nt_a"), col("nt_b"))
      .withColumn("uni", col("nt_a") + col("nt_b") - col("inter"))
  }

  /** dedup_curve — the duplicate-rate-vs-threshold SWEEP every dedup
    * deployment tunes against before committing to a τ: one pass over
    * the shared exact-verified candidate frame, fanned across the
    * τ ∈ {0.50 .. 0.95 step 0.05} grid (a broadcast 10-row frame —
    * the sweep costs one candidate-frame scan, not ten corpus
    * passes), reporting per threshold the surviving pair count, the
    * count of documents touched by a surviving pair, and the
    * duplicate fraction in ppm (all-integer: inter·100 ≥ τ·uni and a
    * div-floored ppm, so both engines agree exactly). Thresholds
    * below the banding design point τ = 0.5 are intentionally out of
    * range — the LSH candidate recall floor does not cover them.
    */
  def curve(spark: SparkSession, dir: String): DataFrame = {
    val pairs = verifiedCandidates(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"))
      .localCheckpoint()
    val nTotal = Tables(spark, dir, "documents").count()
    val taus = spark.range(50, 100, 5).select(col("id").as("tau"))
    val hits = pairs.crossJoin(broadcast(taus))
      .filter(col("inter") * 100 >= col("tau") * col("uni"))
    val np = hits.groupBy("tau").agg(count(lit(1)).as("n_pairs"))
    val nd = hits.select(col("tau"),
        explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .groupBy("tau").agg(countDistinct("d").as("n_dup_docs"))
    taus.join(np, Seq("tau"), "left").join(nd, Seq("tau"), "left")
      .select(col("tau"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"))
      .withColumn("dup_ppm", expr(s"(n_dup_docs * 1000000) div $nTotal"))
      .orderBy("tau")
  }

  /** The k=8 shingle-MinHash signature frame (doc_id, mh0..mh7) —
    * shared core of [[minhash]], [[minhashPairs]] and
    * [[ngramJaccard]]'s candidate stage.
    *
    * Explode shingles to rows and take the k permutation minima as
    * grouped aggregations: the md5 hash is evaluated exactly once per
    * shingle (an array-lambda formulation gets its alias inlined by
    * CollapseProject and recomputes the hash array k times), the
    * affine permutations are trivial per-row arithmetic, and the
    * shuffle carries only partial minima (map-side combine).
    */
  private[graft] def signatures(spark: SparkSession, dir: String): DataFrame = {
    val sigAggs = (0 until MinhashK).map { j =>
      val (aj, bj) = perm(j)
      min(expr(s"($aj * h + $bj) % $MinhashP")).as(s"mh$j")
    }
    Tables(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("t", expr(toksExpr))
      .select(col("doc_id"), explode(expr(shinglesExpr)).as("s"))
      .withColumn("h", expr(md5Int("s")))
      .groupBy("doc_id")
      .agg(sigAggs.head, sigAggs.tail: _*)
  }

  /** LSH candidate pairs (doc_a < doc_b, distinct) from the k=8
    * signature banded as 4 bands × 2 rows. One posexplode to
    * (band_idx, band_value) rows, one self-equi-join on that key —
    * bucket sizes track near-dup cluster sizes, not corpus size, so
    * the join output is linear-ish in n at 100 TB. NOTE: pair output
    * is inherently O(c²) in a c-sized identical family, and AQE skew
    * splitting keys on INPUT size, so it cannot bound a degenerate
    * band (a million-doc boilerplate family). When that risk is live,
    * use [[bandCandidatesCapped]] — O(c) star substitution per hot
    * bucket, connectivity-preserving for the clustering consumers.
    */
  private[ops] def bandCandidates(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until MinhashK / 2).map { j =>
      concat_ws(":", col(s"mh${2 * j}"), col(s"mh${2 * j + 1}"))
    }
    val banded = sigs.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band_i", "band_v")))
    banded.as("a").join(banded.as("b"),
        col("a.band_i") === col("b.band_i") &&
        col("a.band_v") === col("b.band_v") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Per-band-bucket membership cap for [[bandCandidatesCapped]]:
    * buckets at or under the cap emit all pairs (exact LSH
    * candidates); larger buckets emit STAR edges (bucket-min → member)
    * instead — the standard production mitigation for degenerate
    * bands, because all-pairs output in a c-member identical family is
    * O(c²) no matter how the join's input is split (AQE skew handling
    * keys on input bytes and cannot help). Stars keep output O(c) and
    * preserve exactly what the clustering consumers need: every
    * bucket member stays connected through the bucket minimum.
    */
  val BandCap = 8

  /** [[bandCandidates]] with the [[BandCap]] hot-bucket mitigation.
    * One extra bucket-stats aggregation (count + min doc per band
    * bucket, map-side combined) decides each bucket's regime; the
    * small-bucket side runs the same self-equi-join, the hot side is
    * a single projection. `via_star` = 1 marks pairs that exist ONLY
    * through star substitution (a pair also colliding in some small
    * bucket keeps 0 — it is still an exact LSH candidate).
    */
  private[graft] def bandCandidatesCapped(sigs: DataFrame, cap: Int = BandCap): DataFrame = {
    val bandCols = (0 until MinhashK / 2).map { j =>
      concat_ws(":", col(s"mh${2 * j}"), col(s"mh${2 * j + 1}"))
    }
    val banded = sigs.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band_i", "band_v")))
    val stats = banded.groupBy("band_i", "band_v")
      .agg(count(lit(1)).as("bsz"), min("doc_id").as("bmin"))
    val bb = banded.join(stats, Seq("band_i", "band_v"))
    val small = bb.filter(col("bsz") <= cap)
    val pairs = small.as("a").join(small.as("b"),
        col("a.band_i") === col("b.band_i") &&
        col("a.band_v") === col("b.band_v") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        lit(0L).as("via_star"))
    val star = bb.filter(col("bsz") > cap && col("doc_id") =!= col("bmin"))
      .select(col("bmin").as("doc_a"), col("doc_id").as("doc_b"),
        lit(1L).as("via_star"))
    pairs.union(star).groupBy("doc_a", "doc_b")
      .agg(min(col("via_star")).as("via_star"))
  }

  /** dedup_band_cap — the skew-hardened LSH candidate stage over the
    * documents table: [[bandCandidatesCapped]] pairs with their
    * via_star provenance, the frame a 100 TB dedup would feed to
    * clustering when boilerplate families can be unbounded.
    */
  def bandCap(spark: SparkSession, dir: String): DataFrame =
    bandCandidatesCapped(signatures(spark, dir)).orderBy("doc_a", "doc_b")

  /** dedup_containment thresholds: shingle document-frequency cap for
    * the postings join (a shingle in more than DfCap docs is
    * boilerplate and carries no containment evidence — and capping it
    * bounds the pair fan-out per shingle at DfCap², keeping the
    * candidate join LINEAR in corpus size); minimum shared rare
    * shingles before a pair is worth exact verification; containment
    * percentage cut.
    */
  val ContainDfCap = 16L
  val ContainMinShared = 2L
  val ContainTauPct = 80L

  /** dedup_containment — ASYMMETRIC near-containment (quote/excerpt
    * inclusion): directed pairs where ≥ [[ContainTauPct]]% of the
    * smaller document's shingle set appears in the larger's. The
    * symmetric minhash bands CANNOT find these (a short doc quoted
    * inside a long one has low Jaccard), so candidates come from a
    * rare-shingle postings self-join instead: shingles with document
    * frequency ≤ [[ContainDfCap]] vote for the (sub, sup) pairs that
    * share them, pairs with ≥ [[ContainMinShared]] votes get the
    * exact shingle-set intersect verify. A fully-contained doc shares
    * ALL its shingles — including its rare ones — so recall is missed
    * only by docs whose every shingle is boilerplate (df > cap).
    * All-integer thresholding; both joins carry merge hints because
    * both sides scale with the corpus (AQE size estimates cannot know
    * that — see the r9 broadcast-OOM sweep finding).
    */
  def containment(spark: SparkSession, dir: String): DataFrame = {
    containmentOf(Tables(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id")))
  }

  /** [[containment]]'s core over any (doc_id, text) frame — split out
    * so specs can drive a synthetic excerpt corpus through the exact
    * production plan.
    */
  private[graft] def containmentOf(documents: DataFrame): DataFrame = {
    val base = documents
      .withColumn("t", expr(toksExpr))
      .select(col("doc_id"), expr(shinglesExpr).as("sh"))
      .localCheckpoint() // reused by postings AND both verify arms
    val se = base.select(col("doc_id"), explode(col("sh")).as("s"))
    val dfq = se.groupBy("s").agg(count(lit(1)).as("df"))
    val rare = se.join(dfq.filter(col("df") <= ContainDfCap).hint("merge"), "s")
      .select(col("doc_id"), col("s"))
    val cand = rare.as("a")
      .join(rare.as("b").hint("merge"),
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_sub"), col("b.doc_id").as("doc_sup"))
      .agg(count(lit(1)).as("shared_rare"))
      .filter(col("shared_rare") >= ContainMinShared)
    val ns = base.select(col("doc_id"), col("sh"),
      size(col("sh")).cast("long").as("ns"))
    cand
      .join(ns.select(col("doc_id").as("doc_sub"), col("sh").as("sh_a"),
        col("ns").as("ns_sub")), "doc_sub")
      .join(ns.select(col("doc_id").as("doc_sup"), col("sh").as("sh_b"),
        col("ns").as("ns_sup")), "doc_sup")
      .select(col("doc_sub"), col("doc_sup"),
        expr("cast(size(array_intersect(sh_a, sh_b)) as bigint)").as("inter"),
        col("ns_sub"), col("ns_sup"))
      .filter(col("ns_sub") > 0 &&
        col("inter") * 100 >= lit(ContainTauPct) * col("ns_sub"))
      .withColumn("cont_pct", expr("inter * 100 div ns_sub"))
      .orderBy("doc_sub", "doc_sup")
  }

  /** dedup_minhash — k=8 MinHash signature per document over word-3-gram
    * shingles (affine permutations of the shared md5-int hash). The
    * signature is the oracle-checked output; LSH banding over it feeds
    * the pair stage (band0..band3: 2-row bands).
    */
  def minhash(spark: SparkSession, dir: String): DataFrame =
    signatures(spark, dir)
      .withColumn("band0", concat_ws(":", col("mh0"), col("mh1")))
      .withColumn("band1", concat_ws(":", col("mh2"), col("mh3")))
      .withColumn("band2", concat_ws(":", col("mh4"), col("mh5")))
      .withColumn("band3", concat_ws(":", col("mh6"), col("mh7")))
      .orderBy("doc_id")

  /** dedup_minhash_pairs — LSH candidate pairs: documents colliding on
    * any of the four 2-row bands, with the signature-agreement estimate
    * of their Jaccard similarity. Candidates come from the shared
    * [[bandCandidates]] equi-join; the signature columns are joined
    * back per side (narrow: 8 longs per doc).
    */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sigs = signatures(spark, dir)
    val a = sigs.toDF(sigs.columns.toIndexedSeq.map(_ + "_a"): _*)
    val b = sigs.toDF(sigs.columns.toIndexedSeq.map(_ + "_b"): _*)
    val matches = (0 until MinhashK)
      .map(j => when(col(s"mh${j}_a") === col(s"mh${j}_b"), 1L).otherwise(0L))
      .reduce(_ + _)
    bandCandidates(sigs)
      .join(a, col("doc_a") === col("doc_id_a"))
      .join(b, col("doc_b") === col("doc_id_b"))
      .select(col("doc_a"), col("doc_b"), matches.as("n_match"))
      .withColumn("est_jaccard", col("n_match") / lit(8.0))
      .orderBy("doc_a", "doc_b")
  }

  /** dedup_simhash — 32-bit SimHash over the distinct token set:
    * per-bit majority vote of per-token md5-int hashes.
    */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val fp = (0 until 32).map { i =>
      s"cast(sum(CASE WHEN (shiftright(h, $i) & 1) = 1 THEN 1 ELSE -1 END) > 0 as bigint) * ${1L << i}"
    }.mkString(" + ")
    Tables(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), explode(expr(s"array_distinct($toksExpr)")).as("tok"))
      .withColumn("h", expr(md5Int("tok")))
      .groupBy("doc_id")
      .agg(expr(s"$fp").as("simhash"), count(lit(1)).as("n_tokens"))
      .orderBy("doc_id")
  }

  /** dedup_embed — embedding near-duplicate assignment: sign-LSH
    * bucketed candidate pairs with exact cosine ≥ τ (integer-compared
    * on floor(cos·10⁶)), then per-doc canonical = min partner id.
    */
  def embed(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Similarity.bucketedPairs(spark, dir, minCosU = 300000L)
    val partners = pairs.select(col("id_a").as("doc"), col("id_b").as("partner"))
      .union(pairs.select(col("id_b").as("doc"), col("id_a").as("partner")))
    partners.groupBy("doc")
      .agg(min(col("partner")).as("min_partner"), count(lit(1)).as("n_partners"))
      .select(col("doc"),
        least(col("min_partner"), col("doc")).as("canonical"),
        col("n_partners"))
      .orderBy("doc")
  }

  /** dedup_cluster — duplicate-cluster canonicalization: connected
    * components over the verified near-dup pair graph
    * ([[ngramJaccard]] edges), labeling every document with the
    * smallest doc_id in its component plus the component size — the
    * "keep one representative per duplicate cluster" step a training
    * pipeline runs after pair generation.
    *
    * Spark-first shape: alternating large-star/small-star contraction
    * (see [[connectedComponents]]) — O(log² n) rounds independent of
    * component diameter, so a deep chain in the pair graph converges
    * as fast as a shallow clique; at 100 TB the same loop runs with
    * reliable checkpointing. The DuckDB oracle re-derives the same
    * fixpoint as a recursive transitive-closure CTE — two independent
    * formulations of connectivity.
    */
  def cluster(spark: SparkSession, dir: String): DataFrame =
    clusterLabels(spark, dir).orderBy("doc_id")

  /** The ngram-Jaccard duplicate-cluster labeling (doc_id, cluster,
    * cluster_size) that [[cluster]], [[keepBest]] and [[dedupYield]]
    * consume: the [[connectedComponents]] fixpoint over the verified
    * pair graph, rebuilt per call and returned as a plan.
    */
  private[ops] def clusterLabels(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(
      ngramJaccard(spark, dir).select(col("doc_a"), col("doc_b")),
      Tables(spark, dir, "documents").select(col("doc_id")))

  /** Connected components over an undirected pair graph via
    * alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * shared core of [[cluster]] and [[embedCluster]]. `pairs` has
    * columns (doc_a, doc_b); `vertices` a single `doc_id` column
    * covering every node (isolated vertices become singleton
    * clusters).
    *
    * Each round halves long paths: large-star points every
    * above-minimum neighbor of u at m(u) = min(Γ(u) ∪ {u}); small-star
    * then points u and its smaller neighbors at their minimum. Rounds
    * to fixpoint are O(log² n) REGARDLESS of component diameter —
    * unlike min-label propagation (diameter rounds), a 100 TB near-dup
    * graph containing one long chain converges inside the same
    * `maxRounds` as a shallow one. At fixpoint every component is a
    * star centered on its minimum id. Per round: two grouped
    * aggregations + two equi-joins, `localCheckpoint` truncating the
    * lineage; convergence is an EXACT edge-set fixpoint detected by
    * ONE action per round — a left join of the new edge set against
    * the previous one aggregated to (count, matched-count) in the
    * same job. Both frames are distinct sets, so equal cardinality +
    * every new edge matched ⟺ set equality. (An earlier variant ran
    * `count` and `except().isEmpty` as two actions: cheap at test
    * scale, but at 100 TB a second full-edge-frame action per round
    * doubles round latency.)
    */
  private[graft] def connectedComponents(pairs: DataFrame, vertices: DataFrame,
      maxRounds: Int = 25): DataFrame = {
    // canonical directed-down edge set: (u, v) with u > v
    // lazy checkpoints throughout the loop: lineage is truncated
    // immediately, but materialization folds into the count/conv
    // action that follows anyway — one job per round, not two
    var edges = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(eager = false)
    var nEdges = edges.count()
    var converged = nEdges == 0L
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      // large-star: for every node u, each neighbor v > u links to m(u)
      val und = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val lsMin = und.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val ls = und.join(lsMin, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")).distinct()
      // small-star: u and its (all smaller) neighbors link to min(N(u) ∪ {u})
      val ssMin = ls.groupBy("u").agg(min("v").as("m"))
      val withMin = ls.join(ssMin, "u")
      val ss = withMin.select(col("v").as("x"), col("m"))
        .union(withMin.select(col("u").as("x"), col("m")))
        .filter(col("x") =!= col("m"))
        .select(col("x").as("u"), col("m").as("v"))
        .distinct().localCheckpoint(eager = false)
      // exact fixpoint in ONE action: |ss| and |ss ∩ edges| from the
      // same left-join aggregation (both distinct sets, so
      // |ss| = |edges| ∧ every ss edge matched ⟺ set equality)
      val conv = ss.join(edges.withColumn("old", lit(1)), Seq("u", "v"), "left")
        .agg(count(lit(1)).as("n"), count(col("old")).as("n_old")).head()
      val nNext = conv.getLong(0)
      converged = nNext == nEdges && conv.getLong(1) == nNext
      nEdges = nNext
      edges = ss
      rounds += 1
    }
    require(converged, s"star contraction did not converge in $rounds rounds")
    // fixpoint edges are stars: every non-root points at its component
    // minimum; roots and isolated vertices label themselves. The
    // groupBy also collapses duplicate vertex ids (a duplicated input
    // row must not inflate cluster sizes).
    val roots = edges.groupBy("u").agg(min("v").as("lbl"))
      .select(col("u").as("doc_id"), col("lbl"))
    val labels = vertices.join(roots, Seq("doc_id"), "left")
      .groupBy("doc_id")
      .agg(min(coalesce(col("lbl"), col("doc_id"))).as("lbl"))
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "lbl")
      .select(col("doc_id"), col("lbl").as("cluster"), col("cluster_size"))
      .orderBy("doc_id")
  }

  /** dedup_embed_cluster — the same canonicalization over the
    * EMBEDDING near-dup graph ([[Similarity.bucketedPairs]] edges at
    * cos ≥ 0.3): semantic duplicate clusters, labeled by smallest
    * vec_id + component size. Same scale shape as [[cluster]].
    */
  def embedCluster(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Similarity.bucketedPairs(spark, dir, minCosU = 300000L)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val verts = Tables(spark, dir, "embeddings").select(col("vec_id").as("doc_id"))
    connectedComponents(pairs, verts)
      .withColumnRenamed("doc_id", "vec_id")
      .orderBy("vec_id")
  }

  /** Per-cell membership cap for [[semantic]]'s pair stage. Cells at
    * or under the cap run the exact within-cell pairwise check; larger
    * cells degrade to comparing each member against the cell's min-id
    * REPRESENTATIVE only — which is precisely the published SemDeDup
    * pruning rule (Abbas et al. 2023 prune by similarity to a cluster
    * representative), so the hot-cell regime is not an approximation
    * of the operator, it IS the at-scale operator. Seed cells average
    * √n members ([[Similarity.ivfCentMod]]), so at 100 TB every cell
    * is in the representative regime and the pair stage is O(n) total;
    * at gate scale (~√500 ≈ 32-member cells) both regimes run.
    */
  val SemCap = 32

  /** Within-cell duplicate threshold ⌊cos·10⁶⌋ for [[semantic]] — the
    * p99 of the within-seed-cell pair-cosine distribution of this
    * corpus (max ≈ 0.48), so ~1 % of within-cell pairs are duplicates.
    */
  val SemTauU = 350000L

  /** dedup_semantic — SemDeDup-style semantic deduplication: partition
    * the corpus by nearest seed centroid ([[Similarity.seedCells]] —
    * the IVF cell assignment), then prune within each cell: a vector
    * is a semantic duplicate iff it has a SMALLER-id within-cell
    * partner at cos ≥ τ ([[SemTauU]]) — exact pairwise inside small
    * cells, representative-star inside cells above [[SemCap]]
    * (`via_star` = 1 marks the latter). Complementary to
    * [[embed]]/[[embedCluster]]: those bucket by sign-LSH and find
    * NEAR-duplicates; this partitions by centroid and prunes whole
    * semantic neighborhoods — the two mechanisms the SemDeDup paper
    * contrasts.
    *
    * Scale shape: centroid broadcast is O(√n); assignment is the IVF
    * broadcast-product HashAggregate; the pair stage shuffles once on
    * `cell` and its output is bounded by cap·n (small regime) + n
    * (star regime) — never all-pairs. Output: one row per vector
    * (vec_id, cell, dup_of, is_dup, via_star), dup_of = −1 for kept
    * vectors.
    */
  def semantic(spark: SparkSession, dir: String): DataFrame = {
    val a = Similarity.seedCells(spark, dir)
    val stats = a.groupBy("cell")
      .agg(count(lit(1)).as("csz"), min(col("vec_id")).as("rep"))
    // stats is one row per seed cell (≤ √n) — broadcastable at any
    // corpus size, so membership augmentation costs no shuffle.
    val aug = a.join(broadcast(stats), Seq("cell"))
    val small = aug.filter(col("csz") <= SemCap)
    val smallDups = small.as("x").join(small.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .filter(Similarity.cosUPre(col("x.embedding"), col("y.embedding"),
        col("x.vn2"), col("y.vn2")) >= SemTauU)
      .groupBy(col("y.vec_id").as("vec_id"))
      .agg(min(col("x.vec_id")).as("dup_of"))
      .withColumn("via_star", lit(0L))
    val reps = aug.filter(col("csz") > SemCap && col("vec_id") === col("rep"))
      .select(col("cell"), col("embedding").as("rvec"), col("vn2").as("rn2"))
    val hotDups = aug.filter(col("csz") > SemCap && col("vec_id") =!= col("rep"))
      .join(broadcast(reps), Seq("cell"))
      .filter(Similarity.cosUPre(col("rvec"), col("embedding"),
        col("rn2"), col("vn2")) >= SemTauU)
      .select(col("vec_id"), col("rep").as("dup_of"), lit(1L).as("via_star"))
    a.select(col("vec_id"), col("cell"))
      .join(smallDups.union(hotDups), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        col("dup_of").isNotNull.cast("long").as("is_dup"),
        coalesce(col("via_star"), lit(0L)).as("via_star"))
      .orderBy("vec_id")
  }

  /** dedup_decontaminate — benchmark-overlap decontamination: flag
    * training documents sharing ≥ 3 word-3-gram shingles with a
    * held-out benchmark subset (doc_id ≡ 0 mod 97 — a stand-in for
    * the eval-set table a real pipeline joins against). The pipeline
    * step that keeps test data out of training corpora.
    *
    * Shape at 100 TB: one shingle explode (shared with the minhash
    * chain), the benchmark shingle set reduced to DISTINCT values —
    * small relative to the corpus, typically broadcastable; here left
    * as an equi-join so AQE picks broadcast vs shuffle by size — then
    * a per-doc count. No pair products anywhere.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("t", expr(toksExpr))
      .select(col("doc_id"), explode(expr(shinglesExpr)).as("s"))
    val benchShingles = sh.filter(col("doc_id") % 97 === 0)
      .select("s").distinct().withColumn("hit", lit(1))
    // One left join marks hits, one group-by counts both totals — the
    // expensive shingle explode runs twice (train + bench side), not
    // three times, and there is no post-aggregation rejoin. bench `s`
    // is distinct, so the left join preserves train row counts.
    sh.filter(col("doc_id") % 97 =!= 0)
      .join(benchShingles, Seq("s"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_hit"))
      .withColumn("contaminated", (col("n_hit") >= 3).cast("long"))
      .orderBy("doc_id")
  }

  /** Bloom filter geometry for [[bloomDecontaminate]]: m bits (power
    * of two) and two Kirsch-Mitzenmacher positions b₀ = h₁ mod m,
    * b₁ = (h₁+h₂) mod m from the two shared md5-prefix hashes. In
    * production m is sized to the benchmark set (~10–15 bits per
    * element); the point is that m is FIXED by the benchmark, not the
    * corpus.
    */
  val BloomBits = 65536L

  /** dedup_bloom — decontamination through a fixed-size Bloom filter:
    * the benchmark shingle set is folded into an m-bit filter (≤ m/32
    * `(word,bits)` rows via one bit_or aggregation; 32-bit words keep
    * every shift < 63 — DuckDB range-checks `1::BIGINT << 63`), and the training
    * stream is tested with two broadcast word lookups per shingle —
    * O(m) memory regardless of benchmark size, no distinct-shingle
    * shuffle on the test path.
    *
    * vs [[decontaminate]]: the exact join ships the benchmark shingle
    * VALUES (growing with the benchmark); the filter ships m/32 words
    * — at 100 TB against a large eval suite, the filter is the
    * pipeline artifact you persist and reuse across corpus shards.
    * Bloom semantics: no false negatives (every exact hit is a bloom
    * hit — spec-asserted), deterministic false positives at the
    * documented rate ((load)² for two probes), identical in both
    * engines because the bit arithmetic is the same md5-prefix math.
    */
  def bloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("t", expr(toksExpr))
      .select(col("doc_id"), explode(expr(shinglesExpr)).as("s"))
      .withColumn("h1", expr(md5Int("s")))
      .withColumn("h2", expr(md5Int("concat(s, '!')")))
      .withColumn("b0", expr(s"h1 % $BloomBits"))
      .withColumn("b1", expr(s"(h1 + h2) % $BloomBits"))
    val words = sh.filter(col("doc_id") % 97 === 0)
      .select(explode(array(col("b0"), col("b1"))).as("b"))
      .select(expr("b div 32").as("w_idx"),
        expr("shiftleft(1L, cast(b % 32 as int))").as("bit"))
      .groupBy("w_idx").agg(expr("bit_or(bit)").as("w"))
    val f0 = words.select(col("w_idx").as("w_idx0"), col("w").as("w0"))
    val f1 = words.select(col("w_idx").as("w_idx1"), col("w").as("w1"))
    sh.filter(col("doc_id") % 97 =!= 0)
      .withColumn("w_idx0", expr("b0 div 32"))
      .withColumn("w_idx1", expr("b1 div 32"))
      .join(broadcast(f0), Seq("w_idx0"), "left")
      .join(broadcast(f1), Seq("w_idx1"), "left")
      .withColumn("hit",
        (coalesce(expr("w0 & shiftleft(1L, cast(b0 % 32 as int))"), lit(0L)) =!= 0L &&
          coalesce(expr("w1 & shiftleft(1L, cast(b1 % 32 as int))"), lit(0L)) =!= 0L)
          .cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), sum(col("hit")).as("n_bloom_hit"))
      .withColumn("contaminated", (col("n_bloom_hit") >= 3).cast("long"))
      .orderBy("doc_id")
  }

  /** Window length (chars) for [[substring]]'s duplicated-span scan. */
  val SubstrL = 30

  /** dedup_substring — exact duplicated-SUBSTRING detection, the
    * suffix-array dedup of Lee et al. ("Deduplicating Training Data
    * Makes Language Models Better") re-expressed for a shuffle
    * engine: every length-[[SubstrL]] character window that occurs
    * more than once in the corpus marks its positions, and per
    * document the marked positions merge into maximal duplicated
    * spans (gaps-and-islands: a running max of span ends splits
    * islands exactly like interval merging). Emits the per-document
    * accounting a dedup pass acts on: span count, duplicated chars,
    * and the ⌊1000·dup∕len⌋ fraction a gate thresholds.
    *
    * At 100 TB: one explode (positions, via the native
    * [[graft.functions.CharWindows]] kernel) + ONE groupBy on the
    * window text (the suffix-array analog — group keys replace sorted
    * suffixes) + one per-doc window for the merge. No pairwise
    * comparisons anywhere — cost is linear in corpus length at any
    * scale. The "hash the windows first, verify only colliding
    * groups" variant ships as [[substringHashed]] (output
    * spec-asserted identical); the r9 four-quadrant A/B (tmpfs and
    * real-disk shuffle × sf0.1 and sf1.0, after the merge-hint fix
    * below) measured the hashed variant 11-20% FASTER in every
    * quadrant — it is the recommended default; this text-keyed form
    * stays as the simpler shape and the A/B baseline (SURVEY §6 has
    * the numbers; the r4 "hashed slower on tmpfs" result predated
    * the merge hints).
    */
  /** Shared stage: one row per length-[[SubstrL]] window of each
    * document ≥ [[SubstrL]] chars (shorter docs re-enter via the
    * final left join).
    */
  private def substringWindows(docs: DataFrame): DataFrame = {
    val L = SubstrL
    // native [[graft.functions.CharWindows]] kernel: one O(n·L) byte
    // pass per document instead of the interpreted per-position
    // lambda whose substring(text, i, L) re-walked the string head
    // for every i (O(n²) bytes on long documents)
    docs
      .filter(length(col("text")) >= L)
      .select(col("doc_id"),
        posexplode(expr(s"graft_char_windows(text, $L)")).as(Seq("p0", "sh")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("sh"))
  }

  /** Shared stage: interval-merge the marked positions into maximal
    * spans and emit the per-document accounting.
    */
  private def substringSpans(docs: DataFrame, marked: DataFrame): DataFrame = {
    val L = SubstrL
    val wPrev = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val spans = marked
      .withColumn("prev_end", max(col("pos") + (L - 1)).over(wPrev))
      .withColumn("new_island",
        (col("prev_end").isNull || col("pos") > col("prev_end") + 1).cast("long"))
      .withColumn("island", sum(col("new_island")).over(wRun))
      .groupBy("doc_id", "island")
      .agg(min(col("pos")).as("s"), max(col("pos") + (L - 1)).as("e"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum(col("e") - col("s") + 1).as("dup_chars"))
    docs.select(col("doc_id"), length(col("text")).cast("long").as("len"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("len"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"))
      // empty docs: 0/0 must be 0 in BOTH engines (Spark div returns
      // NULL, DuckDB // raises — either way the guard keeps them equal)
      .withColumn("dup_milli",
        expr("case when len > 0 then (1000 * dup_chars) div len else 0 end"))
      .orderBy("doc_id")
  }

  def substring(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    // the window frame feeds BOTH the duplicate count and the mark
    // join: checkpoint it so the explode (the expensive stage) runs
    // once, not once per consumer (at cluster scale: persist to disk)
    val sh = substringWindows(docs).localCheckpoint()
    val dup = sh.groupBy("sh").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select("sh")
    // the duplicate-window frame SCALES WITH THE CORPUS — it must
    // never broadcast (the r9 sf1.0 sweep caught AQE doing exactly
    // that to the hashed twin once the post-agg size slipped under
    // the threshold, OOMing the driver). The merge hint keeps the
    // join a shuffle at every scale.
    val marked = sh.join(dup.hint("merge"), Seq("sh")).select(col("doc_id"), col("pos"))
    substringSpans(docs, marked)
  }

  /** dedup_substring_hashed — the hash-first variant of [[substring]]
    * (identical output, spec-asserted): the corpus-wide duplicate
    * count groups on the 64-bit xxhash of each window instead of its
    * 30-char text, so the big shuffle ships 8-byte keys (~2× fewer
    * shuffle bytes than the window text); only the hash-COLLIDING
    * windows are then re-grouped on their actual text, so a 64-bit
    * collision can never mark a unique window as duplicated (equal
    * strings always hash equal → no false negatives either). The r9
    * four-quadrant A/B (tmpfs/disk shuffle × sf0.1/sf1.0) measured
    * this variant 11-20% faster than the text-keyed form in EVERY
    * quadrant once both use merge-hinted dup joins — it is the
    * recommended default at any fabric (SURVEY §6). Late r9 the
    * window stage moved onto the native
    * [[graft.functions.WindowHashes]] kernel (hash the byte slice in
    * place, never materialize window text corpus-wide), halving it
    * again: sf0.1 3.44 → 1.90 s, sf1.0 33.3 → 17.0 s — ~1.6× faster
    * than the text-keyed baseline once that baseline got its own
    * native window kernel (27.9 s at sf1.0); the residual gap is
    * purely the 30-char-vs-8-byte shuffle key.
    */
  def substringHashed(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val L = SubstrL
    // the corpus pass never materializes window TEXT at all: the
    // native [[graft.functions.WindowHashes]] kernel hashes each
    // 30-char window's UTF-8 byte slice in place (the prior
    // `xxhash64(substring)` explode allocated an interpreted-lambda
    // string per character position, and the checkpoint stored the
    // 30× inflated window text — this frame is 16 bytes/position).
    // Consumed by the hash count AND the colliding re-derivation —
    // checkpoint so the explode runs once (cluster scale: persist).
    val sh = docs
      .filter(length(col("text")) >= L)
      .select(col("doc_id"),
        posexplode(expr(s"graft_window_hashes(text, $L)")).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("h"))
      .localCheckpoint()
    // 8-byte-key corpus pass: hashes occurring more than once. Like
    // [[substring]]'s dup frame, dupH/dupText scale with the corpus:
    // the merge hints stop AQE from broadcasting them (at sf1.0 the
    // ~3M-row dupH slipped under the 64 MB threshold and the
    // broadcast build OOM'd the driver — the sweep's catch)
    val dupH = sh.groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select("h")
    // text verify touches ONLY the colliding subset: re-attach the doc
    // text (one shuffle of the corpus text, cheaper than shipping the
    // 30× window inflation) and cut each colliding window back out
    // with the codegen'd builtin substring. Consumed twice (text
    // count + mark join) — checkpoint.
    val colliding = sh.join(dupH.hint("merge"), Seq("h"))
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .withColumn("sh", expr(s"substring(text, cast(pos AS int), $L)"))
      .select("doc_id", "pos", "sh")
      .localCheckpoint()
    val dupText = colliding.groupBy("sh").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select("sh")
    val marked = colliding.join(dupText.hint("merge"), Seq("sh")).select(col("doc_id"), col("pos"))
    substringSpans(docs, marked)
  }

  /** Prefix length compared by [[editVerify]] — bounds the O(L²) DP
    * per pair at any document length.
    */
  val EditPrefix = 200

  /** Max edit distance (on the [[EditPrefix]]-char prefix) for a
    * verified near-dup pair: 20% of the prefix.
    */
  val EditMaxDist = 40L

  /** dedup_edit — EDIT-DISTANCE verification of the MinHash band
    * candidates: the fuzzy-dedup family member for corpora where
    * token-set Jaccard is too coarse (small in-place edits, OCR
    * noise, template fills — reorderings that keep token sets equal
    * but change the text). Candidates come from the shared banding
    * (never all pairs); each pair pays ONE Levenshtein DP over the
    * [[EditPrefix]]-char prefixes (the standard cost cap — O(L²) per
    * pair is why nobody runs edit distance uncapped at corpus scale),
    * and pairs within [[EditMaxDist]] survive. levenshtein() is the
    * classic DP in both engines, so distances are bit-identical.
    */
  def editVerify(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), expr(s"substring(text, 1, $EditPrefix)").as("pfx"),
        length(col("text")).cast("long").as("len"))
    val cand = bandCandidates(signatures(spark, dir))
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("pfx").as("pfx_a"),
        col("len").as("len_a")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("pfx").as("pfx_b"),
        col("len").as("len_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("pfx_a"), col("pfx_b")).cast("long").as("edit_pfx"),
        col("len_a"), col("len_b"))
      .filter(col("edit_pfx") <= EditMaxDist)
      .orderBy("doc_a", "doc_b")
  }

  /** dedup_incremental — NEW-BATCH admission against the corpus band
    * index: the production daily-ingest dedup shape. A full re-dedup
    * of corpus+batch re-pairs old×old every day — O(corpus) work for
    * an O(batch) question. Instead the historical corpus keeps its
    * banded MinHash signatures as a persisted, band-value-keyed INDEX
    * (here rebuilt from the shared [[signatures]] frame; at 100 TB
    * it's a bucketed table that only ever receives appends), and each
    * incoming batch (modeled as `doc_id % 4 == 0`) probes it with ONE
    * equi-join on (band_i, band_v): candidates are old index hits plus
    * earlier-in-batch docs (`idx < new` on the new side — so batch
    * self-dups resolve to their first occurrence, order-deterministic).
    * Exact token-Jaccard verification (the [[ngramJaccard]] integer
    * rule, τ=0.5) runs on candidates only; per new doc the verdict is
    * `dup_of` = min verified partner (−1 = none) and `kept` = no
    * verified partner. Work per ingest day is O(batch × bucket
    * occupancy), independent of corpus size; the [[BandCap]] star
    * mitigation applies unchanged if boilerplate buckets go hot.
    */
  /** The banded frame [[incremental]] probes: (doc_id, is_new,
    * band_i, band_v). At 100 TB this IS the persisted index artifact
    * (append-only, band-value-keyed); the artifact-fidelity spec
    * writes it to parquet, reloads it, and proves identical verdicts.
    */
  private[graft] def incrementalBands(spark: SparkSession, dir: String): DataFrame = {
    val bandCols = (0 until MinhashK / 2).map { j =>
      concat_ws(":", col(s"mh${2 * j}"), col(s"mh${2 * j + 1}"))
    }
    signatures(spark, dir)
      .select(col("doc_id"), (col("doc_id") % 4 === 0).as("is_new"),
        posexplode(array(bandCols: _*)).as(Seq("band_i", "band_v")))
  }

  def incremental(spark: SparkSession, dir: String): DataFrame =
    incrementalVs(spark, dir, incrementalBands(spark, dir))

  /** [[incremental]] against an explicit banded frame — the seam the
    * persisted-index spec drives with a written-and-reloaded copy.
    */
  private[graft] def incrementalVs(spark: SparkSession, dir: String,
      banded: DataFrame): DataFrame = {
    val probe = banded.filter(col("is_new"))
      .select(col("doc_id").as("doc_new"), col("band_i"), col("band_v"))
    val index = banded.select(col("doc_id").as("doc_idx"),
      col("is_new").as("idx_new"), col("band_i"), col("band_v"))
    val cands = probe.join(index, Seq("band_i", "band_v"))
      .filter((!col("idx_new") || col("doc_idx") < col("doc_new")) &&
        col("doc_idx") =!= col("doc_new"))
      .select(col("doc_new"), col("doc_idx")).distinct()
    val docs = Tables(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        expr(s"array_distinct($toksExpr)").as("toks"),
        expr(s"cast(size(array_distinct($toksExpr)) as bigint)").as("nt"))
    val verdict = cands
      .join(docs.select(col("doc_id").as("doc_new"), col("toks").as("toks_a"),
        col("nt").as("nt_a")), Seq("doc_new"))
      .join(docs.select(col("doc_id").as("doc_idx"), col("toks").as("toks_b"),
        col("nt").as("nt_b")), Seq("doc_idx"))
      .withColumn("inter", expr("cast(size(array_intersect(toks_a, toks_b)) as bigint)"))
      .withColumn("uni", col("nt_a") + col("nt_b") - col("inter"))
      .groupBy("doc_new")
      .agg(count(lit(1)).as("n_cands"),
        min(when(col("inter") * 2 >= col("uni"), col("doc_idx"))).as("dup_of"))
    Tables(spark, dir, "documents")
      .filter(col("doc_id") % 4 === 0).select(col("doc_id"))
      .join(verdict.withColumnRenamed("doc_new", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_cands"), lit(0L)).as("n_cands"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        (coalesce(col("dup_of"), lit(-1L)) === -1L).cast("long").as("kept"))
      .orderBy("doc_id")
  }

  /** dedup_keep_best — quality-ranked survivor selection: instead of
    * [[cluster]]'s min-id canonical, each near-dup cluster keeps its
    * HIGHEST-QUALITY member (the rule real pipelines want — dropping
    * the clean copy because a mangled duplicate has a smaller id is a
    * data-quality bug). Clusters come from the shared
    * [[connectedComponents]] contraction over the verified
    * ngram-Jaccard pairs; the rank is [[TextAnalysis.quality]]'s
    * composite score floored to integer micros (ties break to the
    * smaller doc_id via a lexicographic max_by struct — fully
    * deterministic in both engines). One extra bounded aggregation on
    * the cluster frame + one equi-join back; no new corpus pass — the
    * quality scan is the same map-side projection text_quality runs.
    */
  def keepBest(spark: SparkSession, dir: String): DataFrame = {
    val clusters = clusterLabels(spark, dir)
    val scored = TextAnalysis.quality(spark, dir)
      .select(col("doc_id"),
        expr("cast(floor(score * 1000000) as bigint)").as("score_u"))
    val j = clusters.join(scored, Seq("doc_id"))
    val best = j.groupBy("cluster")
      .agg(max_by(col("doc_id"),
          struct(col("score_u"), (-col("doc_id")).as("nid"))).as("survivor"),
        max("score_u").as("best_score_u"))
    j.join(best, Seq("cluster"))
      .select(col("doc_id"), col("cluster"), col("cluster_size"),
        col("score_u"), col("survivor"),
        (col("doc_id") === col("survivor")).cast("long").as("kept"))
      .orderBy("doc_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_edit" -> (editVerify _),
    "dedup_incremental" -> (incremental _),
    "dedup_keep_best" -> (keepBest _),
    "dedup_substring" -> (substring _),
    "dedup_substring_hashed" -> (substringHashed _),
    "dedup_exact" -> (exact _),
    "dedup_normalized" -> (normalized _),
    "dedup_decontaminate" -> (decontaminate _),
    "dedup_bloom" -> (bloomDecontaminate _),
    "dedup_ngram_jaccard" -> (ngramJaccard _),
    "dedup_curve" -> (curve _),
    "dedup_minhash" -> (minhash _),
    "dedup_minhash_pairs" -> (minhashPairs _),
    "dedup_band_cap" -> (bandCap _),
    "dedup_simhash" -> (simhash _),
    "dedup_embed" -> (embed _),
    "dedup_semantic" -> (semantic _),
    "dedup_cluster" -> (cluster _),
    "dedup_embed_cluster" -> (embedCluster _),
    "dedup_yield" -> (dedupYield _),
    "dedup_overlap_matrix" -> (overlapMatrix _),
    "dedup_containment" -> (containment _)
  )

  /** dedup_overlap_matrix — the cross-source SYNDICATION matrix: for
    * every unordered source pair, how many verified near-dup pairs
    * span them and how similar those pairs are (mean/max Jaccard in
    * milli) — the report that tells a curation team which crawls
    * syndicate which (mirror sites, wire-service republication), i.e.
    * which source subsets are worth deduplicating against each other
    * and which new crawl adds nothing a cheaper one doesn't. The
    * source-pair AGGREGATE view of the same verified pair graph
    * [[dedupYield]] aggregates per-source and [[cluster]] walks.
    *
    * Scale shape: the pair frame is the shared [[verifiedCandidates]]
    * chain unchanged (LSH band blocking — never a cross product); on
    * top, two doc-keyed source-decorate joins (merge-hinted — the
    * pair side scales with the corpus, so size-based broadcast
    * planning must not see it: the r9 sf1.0 AQE-OOM rule) and ONE
    * map-side-combined aggregation onto the bounded source² domain.
    * All integer: j_milli = inter·1000 div uni.
    */
  def overlapMatrix(spark: SparkSession, dir: String): DataFrame = {
    val pairs = verifiedCandidates(spark, dir)
      .filter(col("inter") * 2 >= col("uni"))
      .select(col("doc_a"), col("doc_b"),
        expr("inter * 1000 div uni").as("j_milli"))
      .hint("merge")
    val src = Tables(spark, dir, "documents").select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("s_a")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("s_b")), Seq("doc_b"))
      .select(least(col("s_a"), col("s_b")).as("src_a"),
        greatest(col("s_a"), col("s_b")).as("src_b"), col("j_milli"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(j_milli) div count(1)").as("mean_j_milli"),
        max(col("j_milli")).as("max_j_milli"))
      .orderBy("src_a", "src_b")
  }

  /** dedup_yield — the per-source DEDUP ACCOUNTING a dataset card
    * reports: raw document/token counts beside what survives
    * cluster-canonical deduplication ([[cluster]]'s min-id
    * representative rule), and the duplicate-document rate in ppm —
    * "dedup removed X% of source Y" is the headline number of every
    * corpus-curation report, and per-source yield is what decides
    * which crawls are worth re-ingesting. Token estimate = chars div
    * 4, the same BPE-rate convention [[Pipeline.card]] ships.
    *
    * Scale shape: the cluster labeling is [[cluster]] unchanged
    * (O(log² n) contraction); on top of it ONE doc_id equi-join and
    * ONE map-side-combined aggregation onto the bounded source
    * domain — survivor-ness is the scan-side predicate
    * `doc_id = cluster` (the min-id representative), never a second
    * corpus pass or a per-cluster shuffle.
    */
  def dedupYield(spark: SparkSession, dir: String): DataFrame = {
    // clusterLabels, not cluster: the presentation sort would be a
    // wasted exchange under the immediate join + aggregation
    val cl = clusterLabels(spark, dir).select(col("doc_id"), col("cluster"))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .join(cl, Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs_raw"),
        expr("sum(n_chars div 4)").as("n_tokens_raw"),
        sum((col("doc_id") === col("cluster")).cast("long")).as("n_docs_unique"),
        expr("sum(case when doc_id = cluster then n_chars div 4 else 0 end)")
          .as("n_tokens_unique"))
      .select(col("source"), col("n_docs_raw"), col("n_tokens_raw"),
        col("n_docs_unique"), col("n_tokens_unique"),
        expr("(n_docs_raw - n_docs_unique) * 1000000 div n_docs_raw")
          .as("dup_docs_ppm"))
      .orderBy("source")
  }
}
