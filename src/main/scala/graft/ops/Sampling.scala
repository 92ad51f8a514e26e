package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Scratch
import graft.Tables

/** Deterministic sampling and sketch aggregates for training-data
  * pipelines.
  *
  * Numeric contract with the oracle: the shared string→uint32 hash is
  * the md5-prefix integer (`graft_md5_prefix` on the Spark side, the
  * strpos polynomial in DuckDB), so sample membership and sketch
  * contents are bit-identical across engines.
  */
object Sampling {

  /** Per-stratum sample size for [[stratified]]. */
  val StratumK = 10

  /** KMV sketch size for [[kmvDistinct]]. */
  val KmvK = 64

  /** sample_stratified — deterministic fixed-size-per-stratum sample:
    * within each `source` stratum keep the [[StratumK]] documents with
    * the smallest content-independent hash of (source, doc_id).
    * Hash-rank sampling is reproducible across runs/engines (no RNG
    * state) and composable (a k'-subsample of a k-sample is the
    * k'-sample). One shuffle on the stratum key; at 100 TB the
    * rank-within-stratum is the standard top-k-per-key pattern and the
    * hash threshold can be pre-estimated to pre-filter before the
    * shuffle.
    */
  def stratified(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("samp_hash"), col("doc_id"))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        expr("graft_md5_prefix(concat(source, ':', cast(doc_id as string)))").as("samp_hash"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= StratumK)
      .orderBy("source", "rk")
  }

  /** agg_kmv_distinct — K-minimum-values distinct-count sketch of
    * users per event_type: keep the [[KmvK]] smallest distinct hash
    * values per group; if the group saturates the sketch, estimate
    * distinct ≈ (K−1)·2³²∕h₍K₎, else the sketch is exact. The exact
    * distinct count rides along for error inspection. The sketch is
    * the mergeable-summary shape 100 TB needs — per-partition sketches
    * union by keeping the K smallest of the merged set (here expressed
    * as distinct + rank; a production variant is a bounded-heap
    * DeclarativeAggregate with the same contents).
    */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    // ONE scan: distinct (event_type, user_id) — needed anyway for the
    // exact ride-along columns — then every aggregate reads that set.
    // The sketch itself ([[graft.functions.KmvKthHash]], bounded
    // TreeSet, ≤K longs per map-side partial) does not need the
    // distinct: a production pipeline that drops the exact columns
    // drops the distinct too and the sketch aggregates the raw stream.
    val distinctUsers = Tables(spark, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
      .withColumn("h", expr("graft_md5_prefix(cast(user_id as string))"))
    distinctUsers.groupBy("event_type")
      .agg(expr(s"graft_kmv_kth(h, $KmvK)").as("kmv"),
        countDistinct(col("h")).as("n_hash_distinct"),
        count(lit(1)).as("exact_users"))
      .select(col("event_type"),
        col("kmv.k_used").as("k_used"), col("kmv.kth_hash").as("kth_hash"),
        col("n_hash_distinct"), col("exact_users"))
      .withColumn("est_distinct",
        when(col("k_used") < KmvK, col("n_hash_distinct"))
          .otherwise(expr(s"(${KmvK - 1} * 4294967296) div greatest(kth_hash, 1)")))
      .orderBy("event_type")
  }

  /** stats_length_deciles — exact per-source document-length deciles
    * by the rank definition len@⌈d·n/10⌉ (pure integers — no
    * interpolation semantics to disagree on across engines). One
    * window shuffle on the stratum key; the (source, decile, target)
    * frame is 9 rows per stratum, joined back by rank. At 100 TB
    * exact per-group quantiles by global sort-rank is the honest
    * formulation; the approximate path is a t-digest/KLL sketch with
    * the same group-by shape as [[kmvDistinct]].
    */
  def lengthDeciles(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("source"), col("doc_id"), length(col("text")).cast("long").as("len"))
    val w = Window.partitionBy("source").orderBy(col("len"), col("doc_id"))
    val ranked = docs.withColumn("rn", row_number().over(w).cast("long"))
    val targets = docs.groupBy("source").agg(count(lit(1)).as("n"))
      .select(col("source"), col("n"), explode(expr("sequence(1L, 9L)")).as("decile"))
      .withColumn("target_rn", expr("(decile * n + 9) div 10"))
    ranked.join(targets, Seq("source"))
      .filter(col("rn") === col("target_rn"))
      .select(col("source"), col("decile"), col("n"), col("target_rn"),
        col("len").as("len_at"))
      .orderBy("source", "decile")
  }

  /** Sample size for [[prioritySample]]. */
  val PriorityK = 25

  /** sample_priority — WEIGHTED sampling by priority (Duffield-Lund-
    * Thorup): each document draws priority w∕u from its weight
    * (length in chars) and the deterministic uniform u = (h+1)∕2³²
    * of the shared md5-prefix hash; the k highest priorities form the
    * sample. Weighted counterpart of [[stratified]]'s hash-rank
    * sampling — heavy documents enter with probability ∝ weight, the
    * estimator property the subset-sum literature gives priority
    * samples. Priorities are emitted floored to integer units so the
    * division (identical IEEE chain both engines) never crosses an
    * engine boundary unrounded. Top-k with the unique doc_id
    * tie-break; map-side prunable exactly like any top-k.
    */
  def prioritySample(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars").as("w"),
        expr("graft_md5_prefix(concat('p:', cast(doc_id as string)))").as("h"))
      .withColumn("prio_u",
        floor(col("w") * lit(4294967296.0) / (col("h") + 1)).cast("long"))
      .orderBy(col("prio_u").desc, col("doc_id"))
      .limit(PriorityK)
  }

  /** Count-Min Sketch geometry for [[cmsTopk]]: depth (independent
    * hash rows) × width (counters per row). The sketch is d·w longs
    * regardless of stream length — like [[kmvDistinct]] for distincts,
    * this is the fixed-size mergeable summary for FREQUENCIES.
    */
  val CmsDepth = 2
  val CmsWidth = 256
  /** Heavy hitters reported by [[cmsTopk]]. */
  val CmsK = 20

  /** agg_cms_topk — heavy hitters through a Count-Min sketch: event
    * counts per user are folded into a d×w counter grid (ONE groupBy
    * over (depth, idx) — d·w bounded rows out of any stream length),
    * then each user's frequency is estimated as the min over depth
    * rows of its counters, via d broadcast lookups of the tiny sketch.
    * CMS guarantees est ≥ exact (hash collisions only ever inflate) —
    * spec-asserted with the exact ride-along — and the sketch is
    * mergeable across shards/triggers by plain addition.
    *
    * At 100 TB: the sketch build is a map-side-combined aggregation to
    * d·w cells; per-key queries touch d cells. The exact count here
    * rides along only to exhibit the error envelope (a production
    * pipeline drops it and with it the per-user shuffle).
    */
  def cmsTopk(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"))
    def h(j: Int, u: String) =
      s"graft_md5_prefix(concat(cast($u as string), '#', '$j')) % $CmsWidth"
    // sketch: one explode to (depth, idx) rows, one bounded groupBy
    val cells = ev
      .select(explode(array((0 until CmsDepth).map(j =>
        struct(lit(j).as("d"), expr(h(j, "user_id")).as("idx"))): _*)).as("c"))
      .select(col("c.d").as("d"), col("c.idx").as("idx"))
      .groupBy("d", "idx").agg(count(lit(1)).as("cnt"))
    val exact = ev.groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
    // d broadcast lookups of the bounded sketch
    val looked = (0 until CmsDepth).foldLeft(
      exact.withColumn("u", col("user_id"))) { (df, j) =>
      val cj = cells.filter(col("d") === j)
        .select(col("idx").as(s"idx$j"), col("cnt").as(s"cm$j"))
      df.withColumn(s"idx$j", expr(h(j, "u")))
        .join(broadcast(cj), Seq(s"idx$j"))
    }
    looked
      .withColumn("est_cnt", least((0 until CmsDepth).map(j => col(s"cm$j")): _*))
      .select(col("user_id"), col("exact_cnt"), col("est_cnt"))
      .orderBy(col("est_cnt").desc, col("user_id"))
      .limit(CmsK)
  }

  /** Percent buckets of [[split]]: [0,98) train, [98,99) val, rest test. */
  val SplitTrainPct = 98L
  val SplitValPct = 99L

  /** sample_split — deterministic train/val/test split: every
    * document lands in exactly one split by the content-independent
    * hash of its id (98/1/1) — reproducible across runs, engines and
    * reshuffles, and stable under corpus growth (a new doc never
    * moves an old one). Emits the per-(source, split) accounting a
    * dataset card reports. One map-side-combined aggregation.
    */
  def split(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"),
        expr("graft_md5_prefix(concat('split:', cast(doc_id as string))) % 100")
          .as("pct"))
      .withColumn("split",
        when(col("pct") < SplitTrainPct, "train")
          .when(col("pct") < SplitValPct, "val")
          .otherwise("test"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        min(col("doc_id")).as("min_doc"),
        sum(col("doc_id")).as("doc_sum"))
      .orderBy("source", "split")
  }

  /** Total sample size [[mixture]] distributes across sources. */
  val MixtureTarget = 200L

  /** sample_mixture — temperature-weighted dataset mixing (the
    * multilingual/multi-source LM recipe): source s gets a quota
    * ∝ n_s^α with α = ½, which upsamples rare sources relative to
    * proportional sampling, then the quota is filled by the same
    * deterministic hash-rank order as [[stratified]] (reproducible,
    * composable). Weights go through `⌊10⁶·√n⌋` — sqrt is
    * correctly-rounded IEEE in both engines so the floored micro-int
    * crosses the boundary exactly — and quotas are the integer
    * `(T·w) div Σw`.
    *
    * At 100 TB: the weight/quota frame is #sources rows (broadcast);
    * ranking is one shuffle on source with the constant rank≤T
    * pre-filter keeping WindowGroupLimit's map-side pruning (the
    * per-source quota filter then tightens it broadcast-side).
    */
  def mixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        expr("graft_md5_prefix(concat(source, ':', cast(doc_id as string)))").as("samp_hash"))
    val wts = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
      .withColumn("w_u", floor(sqrt(col("n_src").cast("double")) * lit(1000000.0)).cast("long"))
    val tot = wts.agg(sum(col("w_u")).as("w_tot"))
    val quotas = wts.crossJoin(broadcast(tot))
      .withColumn("quota", expr(s"($MixtureTarget * w_u) div w_tot"))
      .select("source", "n_src", "quota")
    val w = Window.partitionBy("source").orderBy(col("samp_hash"), col("doc_id"))
    docs.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= MixtureTarget)
      .join(broadcast(quotas), Seq("source"))
      .filter(col("rk") <= col("quota"))
      .select(col("source"), col("doc_id"), col("rk"), col("n_src"), col("quota"))
      .orderBy(col("source"), col("rk"))
  }

  /** Bucket width (cents) for [[valueHist]]. */
  val HistWidthC = 2000L

  /** stats_value_hist — equi-width profiling histogram of the event
    * value per event_type (the numeric-column profile a pipeline
    * report shows): bucket = value_c div width (floor toward -∞ via
    * floor-division on possibly-negative cents — both engines
    * truncate identically on the non-negative data and the oracle
    * mirrors the expression), one map-side-combined groupBy on the
    * bounded (type, bucket) key domain.
    */
  def valueHist(spark: SparkSession, dir: String): DataFrame = {
    import graft.relational.Queries.cents
    Tables(spark, dir, "events")
      .select(col("event_type"), cents(col("value")).as("value_c"))
      .withColumn("bucket", floor(col("value_c") / lit(HistWidthC.toDouble)).cast("long"))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("cnt"),
        min(col("value_c")).as("min_c"), max(col("value_c")).as("max_c"),
        sum(col("value_c")).as("sum_c"))
      .orderBy("event_type", "bucket")
  }

  /** stats_moments — MERGEABLE raw power sums per event type: n and
    * Σv, Σv², Σv³, Σv⁴ over whole-unit values, all exact integers.
    * Power sums are the canonical mergeable moment sketch — partials
    * from any partitioning (days, shards, snapshots) re-merge by
    * addition, exactly like [[graft.ops.Sampling]]'s HLL/KMV partials
    * — and skewness/kurtosis derive downstream from the five sums
    * without touching the data again. Whole units keep v⁴ sums under
    * 2⁶³ at gate scales (500⁴·2·10⁴ ≈ 1.25·10¹⁵); a 100 TB deployment
    * promotes the two high-power columns to decimal(38) — the
    * mergeability argument is unchanged.
    */
  def moments(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(col("event_type"), floor(col("value")).cast("long").as("v"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("v").as("s1"),
        sum(col("v") * col("v")).as("s2"),
        sum(col("v") * col("v") * col("v")).as("s3"),
        sum(col("v") * col("v") * col("v") * col("v")).as("s4"))
      .orderBy("event_type")

  /** Result size of [[heavyChangers]]. */
  val ChangersK = 10

  /** stats_heavy_changers — top movers between two periods: event
    * types ranked by |count(late half) − count(early half)|, the
    * drift triage that answers "what changed in yesterday's feed"
    * before a χ² test ([[sourceDrift]]) quantifies it. One scan, one
    * map-side-combined aggregate onto the bounded event-type domain,
    * then arithmetic on that tiny frame; the period split is day
    * parity — deterministic and partition-prunable on a day-keyed
    * 100 TB table.
    */
  def heavyChangers(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .withColumn("sec", graft.relational.Queries.nsToSec(col("ts")))
      .select(col("event_type"), (expr("sec div 86400L") % 2).as("par"))
      .groupBy("event_type")
      .agg(sum(when(col("par") === 0, 1L).otherwise(0L)).as("cnt_a"),
        sum(when(col("par") === 1, 1L).otherwise(0L)).as("cnt_b"))
      .withColumn("delta", col("cnt_b") - col("cnt_a"))
      .withColumn("abs_delta", abs(col("delta")))
      .orderBy(col("abs_delta").desc, col("event_type"))
      .limit(ChangersK)
      .select("event_type", "cnt_a", "cnt_b", "delta", "abs_delta")

  /** Quantile targets (percent) for [[approxQuantile]]. */
  val QuantPs = Seq(50L, 90L, 99L)

  /** stats_approx_quantile — MERGEABLE approximate quantiles
    * (p50/p90/p99 of value cents per event_type) from the
    * [[valueHist]] equi-width histogram: the 100 TB quantile path —
    * the histogram is one map-side-combined groupBy onto a bounded
    * key domain and merges across shards/batches by addition, where
    * exact rank statistics ([[lengthDeciles]]) need a per-group sort.
    * The estimate for rank r = ⌈p·n∕100⌉ is the max value inside the
    * first bucket whose cumulative count reaches r, so the error is
    * one-sided and bounded by construction: 0 ≤ est − exact <
    * [[HistWidthC]] (the exact rank-r value lies in that bucket) —
    * spec-asserted against exact Scala percentiles. All-integer
    * derivation (ceil via `(p·n + 99) div 100`), bit-identical in the
    * oracle.
    */
  /** The value-cents histogram feeding [[approxQuantile]] — ONE
    * map-side-combined groupBy onto the bounded (type, bucket)
    * domain; counts and maxes merge by addition/max, so partition or
    * trigger partials union for free (the streaming twin maintains
    * exactly this frame in its state store).
    */
  def quantHist(events: DataFrame): DataFrame = {
    import graft.relational.Queries.cents
    events
      .select(col("event_type"), cents(col("value")).as("value_c"))
      .withColumn("bucket", floor(col("value_c") / lit(HistWidthC.toDouble)).cast("long"))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("cnt"), max(col("value_c")).as("max_c"))
  }

  /** The bounded quantile read over a histogram frame (shared by the
    * batch operator and the streaming twin's sink post-pass).
    */
  def quantPick(hist: DataFrame): DataFrame = {
    val wCum = Window.partitionBy("event_type").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum_cnt", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy("event_type")))
    val targets = cum
      .select(col("event_type"), col("bucket"), col("max_c"), col("cum_cnt"), col("n"),
        explode(expr(s"array(${QuantPs.map(_ + "L").mkString(", ")})")).as("p"))
      .withColumn("r", expr("(p * n + 99) div 100"))
      .filter(col("cum_cnt") >= col("r"))
    val wPick = Window.partitionBy("event_type", "p").orderBy("bucket")
    targets.withColumn("rk", row_number().over(wPick))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("p"), col("n"), col("bucket"),
        col("max_c").as("est_c"))
      .orderBy("event_type", "p")
  }

  def approxQuantile(spark: SparkSession, dir: String): DataFrame =
    quantPick(quantHist(Tables(spark, dir, "events")))

  /** Bucket width (tokens) for [[tokenHist]]. */
  val TokHistWidth = 50L

  /** stats_token_hist — per-source histogram of document TOKEN counts
    * (bucket = `nt div 50`) with per-bucket min/max/sum — the
    * length-distribution profile behind sequence-packing and window
    * sizing decisions ([[TextAnalysis.pack]] consumes exactly these
    * token counts). Complements [[lengthDeciles]]: that one is exact
    * rank statistics over CHARS (one window shuffle), this is a
    * bucketed density over TOKENS via ONE map-side-combined groupBy
    * on the bounded (source, bucket) domain — the cheap shape to run
    * on every ingest batch.
    */
  def tokenHist(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("source"),
        expr(s"cast(size(${TextAnalysis.toksExpr}) as bigint)").as("nt"))
      .withColumn("bucket", expr(s"nt div $TokHistWidth"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        min(col("nt")).as("min_toks"), max(col("nt")).as("max_toks"),
        sum(col("nt")).as("sum_toks"))
      .orderBy("source", "bucket")

  /** sample_diverse — coverage/diversity sampling: ONE representative
    * vector per corpus-scaled LSH bucket ([[Similarity.lshBits]] —
    * 2^k ≥ n/64 buckets, so the sample tracks corpus REGIONS, not
    * rows, and dense regions stop dominating the training mix):
    * within each sign-LSH bucket keep the member with the smallest
    * content-independent md5-prefix hash (the [[stratified]]
    * hash-rank rule — reproducible across engines and composable),
    * with the bucket population riding along as the density weight.
    * One bucket-keyed shuffle; the per-bucket top-1 is the
    * WindowGroupLimit map-side-pruned top-k pattern.
    */
  def diverse(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val nbits = Similarity.lshBits(emb.count())
    val w = Window.partitionBy("bucket").orderBy(col("samp_hash"), col("vec_id"))
    emb.repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("label").cast("long").as("label"),
        Similarity.bucketN(col("embedding"), nbits).as("bucket"),
        expr("graft_md5_prefix(concat('dv:', cast(vec_id as string)))").as("samp_hash"))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy("bucket")).cast("long"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("bucket"), col("vec_id").as("rep_id"), col("label"), col("n_members"))
      .orderBy("bucket")
  }

  /** Centers selected by [[coreset]] (bounded so the oracle unrolls). */
  val CoresetK = 4

  /** Argmax pack factor for [[coreset]] — `mind·2⁴⁰ − vec_id` orders
    * by (min-dist DESC, vec_id ASC) in one long: mind ≤ 2·10⁶ < 2²¹
    * and the vec_id field needs id < 2⁴⁰ (the CellPack rule family —
    * documented bound, covers 10¹² ids).
    */
  private val CsPack = 1L << 40

  /** sample_coreset — k-center GREEDY coreset over the embeddings
    * (Gonzalez's 2-approximation, the geometric-coverage complement
    * to [[diverse]]'s hash-per-bucket sampling): seed = the
    * hash-rank-minimal vector, then each round adds the vector
    * FARTHEST (max-min cosine dissimilarity) from the chosen set —
    * the selection every "cover the embedding space with K exemplars"
    * curriculum/eval-set builder runs. Output: (round, center_id,
    * radius_u) where radius_u is the coverage radius BEFORE the
    * round's center was added — non-increasing by construction
    * (spec-pinned).
    *
    * Scale shape: each of the K−1 rounds is ONE corpus pass against
    * the ≤K-row broadcast chosen set, folded to a 1-row packed argmax
    * (max-dist + smallest-id tiebreak in one long — no global sort);
    * K bounded ⇒ K passes, the chosen frame localCheckpoint'd per
    * round. All distances are the exact integer ⌊cos·10⁶⌋ chain.
    */
  /** [[coreset]]'s round-1 seed: the hash-rank-minimal vector, as a
    * packed-style arg-min — one map-side-combined `min` over the
    * (hash, vec_id) struct folded to a 1-row broadcast frame, then one
    * filter pass. NOT a corpus-wide row_number window, which would
    * funnel every row through a single task at 100 TB. The struct min
    * is exact at any hash/id magnitude (hash < 2³² would overflow the
    * [[CsPack]] long field, so no packed long here). Factored out
    * un-checkpointed so PlanAuditSpec can assert the no-Window claim
    * (the loop's eager localCheckpoint hides round plans).
    */
  private[graft] def coresetSeed(base: DataFrame): DataFrame = {
    val seeded = base.withColumn("h",
      expr("graft_md5_prefix(concat('cs:', cast(vec_id as string)))"))
    val seedKey = seeded.agg(min(struct(col("h"), col("vec_id"))).as("sk"))
    seeded.crossJoin(broadcast(seedKey))
      .filter(struct(col("h"), col("vec_id")) === col("sk"))
      .select(lit(1L).as("round"), col("vec_id").as("center_id"),
        col("embedding").as("cvec"), col("vn2").as("cn2"),
        lit(2000000L).as("radius_u"))
  }

  def coreset(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Similarity.{cosUPre, dot}
    val base = Tables(spark, dir, "embeddings")
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("embedding"),
        dot(col("embedding"), col("embedding")).as("vn2"))
    var chosen = coresetSeed(base).localCheckpoint()
    for (r <- 2 to CoresetK) {
      val minD = base.crossJoin(broadcast(chosen))
        .select(col("vec_id"), col("embedding"), col("vn2"),
          (lit(1000000L) - cosUPre(col("embedding"), col("cvec"),
            col("vn2"), col("cn2"))).as("d"))
        .groupBy("vec_id")
        .agg(min(col("d")).as("mind"),
          first(col("embedding")).as("embedding"), first(col("vn2")).as("vn2"))
      val packed = minD.agg(max(col("mind") * CsPack - col("vec_id")).as("p"))
      val next = minD.crossJoin(broadcast(packed))
        .filter(col("mind") * CsPack - col("vec_id") === col("p"))
        .select(lit(r.toLong).as("round"), col("vec_id").as("center_id"),
          col("embedding").as("cvec"), col("vn2").as("cn2"),
          col("mind").as("radius_u"))
      chosen = chosen.union(next).localCheckpoint()
    }
    chosen.select("round", "center_id", "radius_u").orderBy("round")
  }

  /** HLL register count (2^p, p = 6) for [[hllDistinct]]. */
  val HllM = 64

  /** agg_hll_distinct — HyperLogLog distinct-user sketch per
    * event_type, completing the mergeable-sketch family (KMV
    * cardinality, CMS frequency, Bloom membership, HLL cardinality at
    * O(m) memory): each distinct user hashes to one of [[HllM]]
    * registers, which keep the max of ρ = trailing-zero-count + 1 of
    * the remaining hash bits — `max` per register is the mergeable
    * operation, so partition sketches union for free (map-side
    * combine IS the merge). Exact-integer determinism: ρ isolates the
    * lowest set bit with `v & -v` and takes log2 of an EXACT power of
    * two (integral in IEEE — both engines agree bit-for-bit); the
    * estimate's Σ2^−ρ is a sum of ≤ [[HllM]] exact dyadic rationals
    * spanning < 53 bits, so it is order-independent and exact, and
    * the final float chain is written identically in the oracle.
    * Small cardinalities take the standard linear-counting branch
    * (raw ≤ 2.5·m with empty registers → m·ln(m∕empty) — Flajolet et
    * al.'s correction; the raw estimator overshoots ~3× there).
    * Output per event_type: registers used, a register checksum, and
    * the milli-floored estimate beside the exact count.
    */
  def hllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables(spark, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
      .withColumn("h", expr("graft_md5_prefix(cast(user_id as string))"))
      .select(col("event_type"), col("user_id"),
        (col("h") % HllM).as("bucket"), expr(s"h div $HllM").as("v"))
      .withColumn("rho",
        expr("case when v = 0 then 27L else cast(log2(v & -v) as bigint) + 1L end"))
    val regs = pairs.groupBy("event_type", "bucket").agg(max(col("rho")).as("m_rho"))
    val exact = pairs.groupBy("event_type")
      .agg(count_distinct(col("user_id")).as("exact_distinct"))
    val raw = lit(0.709 * HllM * HllM) /
      (col("sum_inv") + (lit(HllM) - col("m_used")))
    val linCount = lit(HllM.toDouble) *
      log(lit(HllM.toDouble) / (lit(HllM) - col("m_used")).cast("double"))
    regs.groupBy("event_type")
      .agg(count(lit(1)).as("m_used"),
        sum((col("bucket") + 1) * col("m_rho")).as("rho_chk"),
        sum(expr("power(2.0, -cast(m_rho as double))")).as("sum_inv"))
      .join(exact, "event_type")
      .select(col("event_type"), col("m_used"), col("rho_chk"),
        floor(lit(1000.0) *
          when(raw <= 2.5 * HllM && col("m_used") < HllM, linCount).otherwise(raw))
          .cast("long").as("est_u"),
        col("exact_distinct"))
      .orderBy("event_type")
  }

  /** agg_hll_merge — the sketch-REAGGREGATION face of the HLL family:
    * per-(event_type, day) PARTIAL register sets are materialized to
    * parquet (the pre-aggregated-cube pattern — at 100 TB a daily job
    * persists m-register sketches per cell instead of raw ids), read
    * back, and merged per event_type with one more `max` per register
    * — HLL union is register-wise max, so merging yesterday's
    * sketches is exactly as accurate as resketching the raw corpus,
    * and the row PROVES it: the merged estimate is emitted beside the
    * direct estimate from [[hllDistinct]]'s one-pass formulation with
    * an integer equality flag. A user active on k days lands in k
    * day-partials, but union semantics absorb the duplicates (same
    * id → same register/ρ → max unchanged) — the reason sketch cubes
    * tolerate overlapping rollups that COUNT(DISTINCT) cubes cannot.
    *
    * Scale shape: the partial frame is bounded by cells × m registers
    * (never by event count — map-side combine collapses each day's
    * ids before shuffle); the merge pass reads ONLY the sketch
    * column, 8 bytes a register, no raw-id rescan.
    */
  def hllMerge(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("hllcube") { tmp =>
      val pairs = Tables(spark, dir, "events")
        .withColumn("sec", graft.relational.Queries.nsToSec(col("ts")))
        .select(col("event_type"), expr("sec div 86400L").as("day"),
          col("user_id"))
        .distinct()
        .withColumn("h", expr("graft_md5_prefix(cast(user_id as string))"))
        .select(col("event_type"), col("day"),
          (col("h") % HllM).as("bucket"), expr(s"h div $HllM").as("v"))
        .withColumn("rho",
          expr("case when v = 0 then 27L else cast(log2(v & -v) as bigint) + 1L end"))
      pairs.groupBy("event_type", "day", "bucket")
        .agg(max(col("rho")).as("m_rho"))
        .write.mode("overwrite").partitionBy("day").parquet(tmp)
      val partials = spark.read.option("basePath", tmp).parquet(tmp)
      val days = partials.groupBy("event_type")
        .agg(count_distinct(col("day")).as("n_days"))
      val merged = partials.groupBy("event_type", "bucket")
        .agg(max(col("m_rho")).as("m_rho"))
      val raw = lit(0.709 * HllM * HllM) /
        (col("sum_inv") + (lit(HllM) - col("m_used")))
      val linCount = lit(HllM.toDouble) *
        log(lit(HllM.toDouble) / (lit(HllM) - col("m_used")).cast("double"))
      val est = merged.groupBy("event_type")
        .agg(count(lit(1)).as("m_used"),
          sum((col("bucket") + 1) * col("m_rho")).as("rho_chk"),
          sum(expr("power(2.0, -cast(m_rho as double))")).as("sum_inv"))
        .select(col("event_type"), col("m_used"), col("rho_chk"),
          floor(lit(1000.0) *
            when(raw <= 2.5 * HllM && col("m_used") < HllM, linCount).otherwise(raw))
            .cast("long").as("est_u"))
      val direct = hllDistinct(spark, dir)
        .select(col("event_type").as("et"), col("est_u").as("direct_u"))
      val out = est.join(days, "event_type")
        .join(direct, est("event_type") === direct("et"))
        .select(col("event_type"), col("n_days"), col("m_used"), col("rho_chk"),
          col("est_u"), col("direct_u"),
          (col("est_u") === col("direct_u")).as("merge_exact"))
        .orderBy("event_type")
      // the partial files are consumed above; materialize before the
      // finally block reclaims the tmpfs staging dir
      val rows = out.collect().toIndexedSeq
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), out.schema)
    }
  }

  /** stats_diversity — per-source vocabulary-concentration audit in
    * EXACT rational arithmetic: token count N, vocabulary V, the
    * Simpson/Herfindahl concentration λ = Σc²∕N² and the top-token
    * share, both as ppm via integer division of exact products (the
    * entropy-style Σ−p·log p is order-dependent float and is exactly
    * what this op avoids — λ ranks the same "is this source
    * boilerplate-dominated" signal with zero float seam). A source
    * whose λ spikes is repeating itself; the audit every mixture
    * re-weighting consults.
    *
    * Scale shape: one tokenize+explode pass into a map-side-combined
    * (source, token) count, then a bounded per-source aggregation;
    * products ride DECIMAL(38,0) (Σc² ≤ N² overflows BIGINT·10⁶ past
    * ~3M tokens/source), integral division at the end.
    */
  /** The per-source concentration report over a (source, t, c) token
    * cell frame — shared by [[diversity]] and the live twin
    * (stream_diversity finalizes its drained cell state through this
    * exact code, so batch and stream cannot drift).
    */
  private[graft] def diversityReport(cells: DataFrame): DataFrame =
    cells.groupBy("source")
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(col("c") * col("c")).as("sum_c2"),
        max(col("c")).as("max_c"))
      .select(col("source"), col("n_tokens"), col("vocab"), col("sum_c2"),
        expr("""cast((cast(1000000 as decimal(38,0)) * sum_c2) div
               |  (cast(n_tokens as decimal(38,0)) * n_tokens) as bigint)"""
          .stripMargin).as("conc_ppm"),
        expr("cast((cast(1000000 as decimal(38,0)) * max_c) div n_tokens as bigint)")
          .as("top_ppm"))
      .orderBy("source")

  def diversity(spark: SparkSession, dir: String): DataFrame = {
    diversityReport(Tables(spark, dir, "documents")
      .select(col("source"), explode(expr(TextAnalysis.toksExpr)).as("t"))
      .groupBy("source", "t").agg(count(lit(1)).as("c")))
  }

  /** sample_class_balance — deterministic fractional upsampling to
    * label balance: every label's weight is maxN∕n as an exact ppm
    * ratio; each vector replicates ⌊weight⌋ times plus one more iff
    * its hash draw falls under the fractional part — so the
    * upsampled class sizes land within n·(hash noise) of maxN with
    * ZERO randomness (same corpus → same replicas, the property a
    * resumable training pipeline needs). The per-label report carries
    * n, weight_ppm, and the exact replicate total.
    *
    * Scale shape: one label count (bounded frame, broadcast back),
    * one scan-side hash draw per vector, one map-side-combined
    * per-label sum — no shuffle of replicated rows (the report counts
    * replicas; a materializing trainer would explode lazily
    * downstream).
    */
  def classBalance(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables(spark, dir, "embeddings").select(col("vec_id"), col("label"))
    val counts = v.groupBy("label").agg(count(lit(1)).as("n"))
    val mx = counts.agg(max(col("n")).as("max_n"))
    v.join(broadcast(counts), Seq("label"))
      .crossJoin(broadcast(mx))
      .withColumn("weight_ppm", expr("(1000000L * max_n) div n"))
      .withColumn("reps",
        expr("""weight_ppm div 1000000L +
               |  (case when graft_md5_prefix(concat('bal:', cast(vec_id as string)))
               |     % 1000000L < weight_ppm % 1000000L then 1L else 0L end)"""
          .stripMargin))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), max(col("weight_ppm")).as("weight_ppm"),
        sum(col("reps")).as("n_upsampled"))
      .orderBy("label")
  }

  /** Per-source report depth for [[sourceDrift]]. */
  val DriftTopK = 5

  /** stats_source_drift — per-source token-distribution drift: for
    * every (source, token) cell, the χ² contribution
    * (o·N − s·t)² ∕ (s·t·N) of observed count o against the
    * independence expectation s·t∕N, reported as the top-[[DriftTopK]]
    * most-drifted tokens per source — the distribution-shift monitor a
    * pipeline runs per ingest source (a source whose token mix departs
    * from the corpus is the one to quarantine). Exactness follows the
    * q_corr recipe: all products in DECIMAL(38,0) (o·N and s·t·N fit —
    * ≤ N³ < 10³⁸ far beyond any corpus), doubles only in the final
    * ratio, identical chains both engines, then floor·10⁶.
    *
    * Scale shape: one token explode → one map-side-combined (source,
    * token) count; both marginals re-aggregate the CELL frame (≤
    * sources × vocab rows, never the corpus) and broadcast back; the
    * per-source top-k window sorts the cell frame only.
    */
  def sourceDrift(spark: SparkSession, dir: String): DataFrame =
    driftReport(
      Tables(spark, dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
        .withColumn("t", expr(graft.ops.TextAnalysis.toksExpr))
        .select(col("source"), explode(col("t")).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("o")))

  /** The χ² read stage of [[sourceDrift]] over a (source, tok, o)
    * cell frame — also the finalize of the streaming twin, whose
    * state store maintains exactly this mergeable frame (counts merge
    * by addition across triggers like the quantile histogram).
    */
  private[graft] def driftReport(cell0: DataFrame): DataFrame = {
    // eager localCheckpoint: the cell frame is bounded (sources ×
    // vocab) and referenced four times below (marginals + the join
    // back) — one materialization instead of four corpus passes, and
    // fresh attribute ids so the memory-sink view of the streaming
    // twin self-joins cleanly
    val cell = cell0.localCheckpoint()
    val st = cell.groupBy("source").agg(sum(col("o")).as("src_tot"))
    val tt = cell.groupBy("tok").agg(sum(col("o")).as("tok_tot"))
    val nn = cell.agg(sum(col("o")).as("n_total"))
    def wide(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val d = cell.join(broadcast(st), Seq("source"))
      .join(broadcast(tt), Seq("tok")).crossJoin(broadcast(nn))
      .withColumn("num",
        wide(col("o")) * wide(col("n_total")) - wide(col("src_tot")) * wide(col("tok_tot")))
      .withColumn("den",
        wide(col("src_tot")) * wide(col("tok_tot")) * wide(col("n_total")))
      .withColumn("drift_u",
        floor(col("num").cast("double") * col("num").cast("double")
          / col("den").cast("double") * lit(1000000.0)).cast("long"))
    val w = Window.partitionBy("source").orderBy(col("drift_u").desc, col("tok"))
    d.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= DriftTopK)
      .select("source", "rank", "tok", "o", "drift_u")
      .orderBy("source", "rank")
  }

  /** agg_kmv_overlap — SKETCH-ALGEBRA set overlap: estimate the
    * intersection cardinality and Jaccard of the active (user, day)
    * key sets between every pair of event types from their bounded
    * KMV sketches alone — the dataset-overlap estimator a pipeline
    * runs before deciding whether two ingest streams are near-copies
    * (the sketch-level sibling of dedup_decontaminate's exact join).
    * Union sketch = the [[KmvK]] smallest distinct hashes of the two
    * per-type samples (a subset of each type's own sample, the
    * classic KMV closure property); Jaccard = matches∕k over that
    * union sample; est_inter = matches·est_union div k. All integer
    * arithmetic (hash ranks, `div`) — bit-identical in the oracle —
    * with the exact intersection riding along as the correctness
    * anchor a production run would drop.
    *
    * Scale shape: the only corpus-scale work is the distinct + one
    * bounded sketch aggregation per type (map-side combined TreeSet
    * partials) + one broadcast-filter back for the ≤K-row samples;
    * everything pairwise happens on ≤ types·K rows. The exact
    * ride-along is the one linear join (drops at scale).
    */
  def kmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    import graft.relational.Queries
    val dh = Tables(spark, dir, "events")
      .select(col("event_type"),
        concat(col("user_id").cast("string"), lit("@"),
          floor(Queries.nsToSec(col("ts")) / lit(86400.0)).cast("long").cast("string")).as("key"))
      .distinct()
      .withColumn("h", expr("graft_md5_prefix(key)"))
    val hs = dh.select(col("event_type"), col("h")).distinct()
    val kth = hs.groupBy("event_type")
      .agg(expr(s"graft_kmv_kth(h, $KmvK)").as("kmv"))
      .select(col("event_type"), col("kmv.kth_hash").as("kth"))
    val samples = hs.join(broadcast(kth), Seq("event_type"))
      .filter(col("h") <= col("kth")).select("event_type", "h")
    val types = kth.select("event_type")
    val pairs = types.select(col("event_type").as("ta"))
      .crossJoin(types.select(col("event_type").as("tb")))
      .filter(col("ta") < col("tb"))
    val sa = samples.select(col("event_type").as("ta"), col("h"))
    val sb = samples.select(col("event_type").as("tb"), col("h"))
    val un = pairs.join(sa, Seq("ta")).select(col("ta"), col("tb"), col("h"))
      .union(pairs.join(sb, Seq("tb")).select(col("ta"), col("tb"), col("h")))
      .distinct()
    val wu = Window.partitionBy("ta", "tb").orderBy("h")
    val topu = un.withColumn("rk", row_number().over(wu)).filter(col("rk") <= KmvK)
      .select("ta", "tb", "h")
    val ug = topu.groupBy("ta", "tb")
      .agg(count(lit(1)).as("k_union"), max(col("h")).as("union_kth"))
    val mt = topu.join(sa, Seq("ta", "h"), "left_semi")
      .join(sb, Seq("tb", "h"), "left_semi")
      .groupBy("ta", "tb").agg(count(lit(1)).as("matches0"))
    val ex = dh.select(col("event_type").as("ta"), col("key"))
      .join(dh.select(col("event_type").as("tb"), col("key")), Seq("key"))
      .filter(col("ta") < col("tb"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("exact_inter0"))
    ug.join(mt, Seq("ta", "tb"), "left").join(ex, Seq("ta", "tb"), "left")
      .withColumn("matches", coalesce(col("matches0"), lit(0L)))
      .withColumn("est_union",
        when(col("k_union") < KmvK, col("k_union"))
          .otherwise(expr(s"(${KmvK - 1} * 4294967296) div greatest(union_kth, 1)")))
      .withColumn("est_inter", expr("(matches * est_union) div k_union"))
      .withColumn("jacc_u", expr("(1000000 * matches) div k_union"))
      .withColumn("exact_inter", coalesce(col("exact_inter0"), lit(0L)))
      .select("ta", "tb", "k_union", "union_kth", "matches", "est_union",
        "est_inter", "jacc_u", "exact_inter")
      .orderBy("ta", "tb")
  }

  /** stats_ks_drift — per-source two-sample Kolmogorov–Smirnov drift
    * on the document-length distribution: for each source, D =
    * max over lengths |F_src − F_rest| against the REST of the corpus
    * — the second drift lens beside [[sourceDrift]]'s χ² (KS sees
    * shape shifts a frequency test misses, e.g. a source that starts
    * truncating documents). All CDF arithmetic is exact integers:
    * D's numerator is max |c1·n2 − c2·n1| in DECIMAL(38,0)/HUGEINT
    * (c·n products overflow int64 at 10¹⁰-doc corpora — the q_corr
    * recipe), doubles only in the final ⌊10⁶·D⌋; `at_len` reports the
    * smallest length achieving the max.
    *
    * Scale shape: one (source, length) count aggregation over the
    * corpus; everything after lives on the bounded (sources ×
    * distinct-length) grid — distinct lengths are bounded by the max
    * document length (a policy constant), not the corpus, so the
    * single-partition cumulative window over the length domain stays
    * O(domain) at any scale.
    */
  def ksDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("source"), col("n_chars").cast("long").as("len"))
    val perSrcLen = docs.groupBy("source", "len").agg(count(lit(1)).as("c"))
      .localCheckpoint() // bounded grid input, referenced 4×
    val cumAll = perSrcLen.groupBy("len").agg(sum(col("c")).as("cl"))
      .withColumn("call", sum(col("cl")).over(
        Window.orderBy("len").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("len", "call")
    val srcTot = perSrcLen.groupBy("source").agg(sum(col("c")).as("n_src"))
    val nn = perSrcLen.agg(sum(col("c")).as("n_total"))
    def wide(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val wSrc = Window.partitionBy("source").orderBy("len")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val grid = perSrcLen.select("source").distinct().crossJoin(cumAll)
      .join(perSrcLen, Seq("source", "len"), "left")
      .withColumn("c0", coalesce(col("c"), lit(0L)))
      .withColumn("c1", sum(col("c0")).over(wSrc))
      .join(broadcast(srcTot), Seq("source")).crossJoin(broadcast(nn))
      .withColumn("diff", abs(
        wide(col("c1")) * wide(col("n_total") - col("n_src"))
          - wide(col("call") - col("c1")) * wide(col("n_src"))))
    val mx = grid.groupBy("source").agg(max(col("diff")).as("d"))
    val at = grid.join(mx, Seq("source"))
      .filter(col("diff") === col("d"))
      .groupBy("source").agg(min(col("len")).as("at_len"))
    mx.join(at, Seq("source")).join(broadcast(srcTot), Seq("source"))
      .crossJoin(broadcast(nn))
      .select(col("source"), col("n_src"),
        floor(col("d").cast("double")
          / (col("n_src").cast("double") * (col("n_total") - col("n_src")).cast("double"))
          * lit(1000000.0)).cast("long").as("ks_u"),
        col("at_len"))
      .orderBy("source")
  }

  /** Negative-mining depths and the near-duplicate exclusion bound
    * for [[negatives]].
    */
  val NegHard = 3
  val NegEasy = 2
  val NegDupU = 400000L

  /** sample_negatives — CONTRASTIVE-TRAINING negative mining: for
    * each probe, [[NegHard]] hard negatives (highest-cosine LSH
    * bucket mates BELOW the near-dup bound [[NegDupU]] — mining close
    * non-duplicates while excluding probable positives, the classic
    * false-negative guard) plus [[NegEasy]] easy negatives drawn by
    * deterministic hash rank from the NON-bucket-mate corpus — the
    * (anchor, hard, easy) example construction every embedding-model
    * training pipeline runs. Exact cosines ride along on both kinds;
    * easy ranks sit at a fixed offset after the hard slots.
    *
    * Scale shape: hard candidates come from the corpus-size-scaled
    * LSH buckets ([[Similarity.bucketedPairs]] — never all-pairs);
    * the easy stage is one corpus pass against the ≤64 broadcast
    * probes with a per-probe rank limit (map-side WindowGroupLimit
    * prune), and the bucket-mate exclusion set is probes × occupancy
    * — broadcastable at any corpus size.
    */
  def negatives(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Similarity
    val emb = Tables(spark, dir, "embeddings")
    val n = emb.count()
    val pmod = Similarity.ivfProbeMod(n)
    val pairs = Similarity.bucketedPairs(spark, dir, minCosU = -2000000L)
    val cand = pairs.select(col("id_a").as("probe_id"), col("id_b").as("neg_id"), col("cos_u"))
      .union(pairs.select(col("id_b").as("probe_id"), col("id_a").as("neg_id"), col("cos_u")))
      .filter(col("probe_id") % pmod === 0)
    val wh = Window.partitionBy("probe_id").orderBy(col("cos_u").desc, col("neg_id"))
    val hard = cand.filter(col("cos_u") < NegDupU)
      .withColumn("rank", row_number().over(wh).cast("long"))
      .filter(col("rank") <= NegHard)
      .select(col("probe_id"), col("rank"), col("neg_id"), col("cos_u"),
        lit("hard").as("kind"))
    val mates = cand.select("probe_id", "neg_id").distinct()
    val probes = emb.filter(col("vec_id") % pmod === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"),
        Similarity.dot(col("embedding"), col("embedding")).as("pn2"))
    val we = Window.partitionBy("probe_id").orderBy(col("h"), col("neg_id"))
    val easy = emb
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id").as("neg_id"), col("embedding"),
        Similarity.dot(col("embedding"), col("embedding")).as("vn2"))
      .crossJoin(broadcast(probes))
      .filter(col("neg_id") =!= col("probe_id"))
      .join(broadcast(mates), Seq("probe_id", "neg_id"), "left_anti")
      .withColumn("h", expr(
        "graft_md5_prefix(concat('neg:', cast(probe_id as string), ':', cast(neg_id as string)))"))
      .withColumn("erank", row_number().over(we))
      .filter(col("erank") <= NegEasy)
      .select(col("probe_id"), (col("erank") + NegHard).cast("long").as("rank"),
        col("neg_id"),
        Similarity.cosUPre(col("pvec"), col("embedding"), col("pn2"), col("vn2")).as("cos_u"),
        lit("easy").as("kind"))
    hard.union(easy).orderBy("probe_id", "rank")
  }

  /** sample_soft_dedup — UNBIASED soft deduplication: instead of
    * always keeping the min-id ([[Dedup.cluster]]) or the
    * highest-quality member ([[Dedup.keepBest]]), keep ONE uniformly
    * random representative per near-dup cluster — the deterministic
    * md5-prefix hash ranks members, the hash-min survives — and carry
    * the Horvitz-Thompson inverse-probability weight (= cluster_size)
    * on the survivor so downstream token/statistics accounting stays
    * unbiased: E[Σ ht_weight · f(doc)] = Σ_docs f(doc) for any f,
    * which neither deterministic canonical rule satisfies (both bias
    * toward low ids / high scores). The training use: duplicate
    * clusters contribute exactly one member each epoch, chosen
    * without the systematic skew of id-ordering, and the weight
    * column lets loss re-scaling or mixture accounting see the true
    * corpus mass. Scale shape: rides the shared O(log² n) CC
    * contraction + ONE bounded per-cluster aggregation + a key join —
    * no new corpus pass beyond the pair graph it already shares.
    */
  def softDedup(spark: SparkSession, dir: String): DataFrame = {
    val clusters = Dedup.cluster(spark, dir)
    val hashed = clusters.select(col("doc_id"), col("cluster"), col("cluster_size"),
      expr("graft_md5_prefix(concat('sd:', cast(doc_id as string)))").as("u_hash"))
    val pick = hashed.groupBy("cluster")
      .agg(min_by(col("doc_id"), struct(col("u_hash"), col("doc_id"))).as("survivor"))
    hashed.join(pick, Seq("cluster"))
      .select(col("doc_id"), col("cluster"), col("cluster_size"), col("u_hash"),
        (col("doc_id") === col("survivor")).cast("long").as("kept"),
        when(col("doc_id") === col("survivor"), col("cluster_size"))
          .otherwise(0L).as("ht_weight"))
      .orderBy("doc_id")
  }

  /** Hashed-feature bucket count, target domain, and selection size
    * for [[dsir]].
    */
  val DsirBuckets = 1024L
  val DsirTargetSource = "src0"
  val DsirK = 200

  /** sample_dsir — Data Selection via Importance Resampling (Xie et
    * al. 2023, the DSIR recipe): score every raw-pool document by how
    * much more TARGET-like than RAW-like its hashed n-gram features
    * are, and keep the top [[DsirK]]. The target domain here is the
    * [[DsirTargetSource]] source (the paper's target is
    * Wikipedia+books; the registry fixes a source so the oracle is
    * closed-form — production callers pass their own target frame).
    * Features are token bigrams hashed into [[DsirBuckets]] buckets
    * (the paper's hashed n-gram generative model), add-1 smoothed.
    * Two deviations from the paper, both deterministic and
    * documented: (a) a document scores by the RATIO OF MEAN feature
    * probabilities `(10⁶·lm_t) div lm_r` (the [[graft.ops
    * .TextAnalysis.charLm]] integer mean-micro-prob convention; the
    * paper multiplies per-occurrence ratios, which has no exact
    * fixed-point form) rather than the log-likelihood difference,
    * and (b) selection is deterministic top-k by (weight, doc_id)
    * rather than Gumbel resampling (the [[graft.ops.TextAnalysis
    * .bpe]] determinism rule). Probabilities are NANO-scaled —
    * micro units underflow to 0 once the raw pool passes ~10⁶
    * bigram occurrences.
    *
    * Scale shape: ONE tokenize+explode feeds (doc,tok,tf); the
    * feature hash is computed once per DISTINCT token and joined
    * back (md5 never runs per occurrence); both models are bounded
    * [[DsirBuckets]]-row aggregates that BROADCAST back onto the
    * bucket-keyed frame; per-doc scores are one map-side-combined
    * aggregation; the final top-k is TakeOrderedAndProject
    * (distributed heap-k, never a global sort or single-partition
    * window).
    */
  def dsir(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
    val tf = docs
      .withColumn("t", expr(TextAnalysis.toksExpr))
      .select(col("doc_id"), col("source"),
        explode(expr(TextAnalysis.grams(2))).as("tok"))
      .groupBy("doc_id", "source", "tok").agg(count(lit(1)).as("tf"))
    val tokBucket = tf.select("tok").distinct()
      .withColumn("bucket",
        expr(s"graft_md5_prefix(concat('dsir:', tok)) % $DsirBuckets"))
    val feats = tf.join(tokBucket, Seq("tok"))
      .groupBy("doc_id", "source", "bucket").agg(sum(col("tf")).as("c"))
    val targetModel = feats.filter(col("source") === DsirTargetSource)
      .groupBy("bucket").agg(sum(col("c")).as("ct"))
    val rawModel = feats.groupBy("bucket").agg(sum(col("c")).as("cr"))
    // add-1 smoothed nano-probs over the bounded bucket domain; the
    // totals are scalars of two bounded aggregates
    val tTot = targetModel.agg(coalesce(sum(col("ct")), lit(0L))).head.getLong(0)
    val rTot = rawModel.agg(coalesce(sum(col("cr")), lit(0L))).head.getLong(0)
    val model = rawModel.join(targetModel, Seq("bucket"), "left")
      .select(col("bucket"),
        expr(s"(1000000000L * (coalesce(ct, 0L) + 1L)) div ${tTot + DsirBuckets}")
          .as("pt_n"),
        expr(s"(1000000000L * (cr + 1L)) div ${rTot + DsirBuckets}").as("pr_n"))
    val scored = feats.filter(col("source") =!= DsirTargetSource)
      .join(broadcast(model), Seq("bucket"))
      .groupBy("doc_id", "source")
      .agg(expr("sum(c * pt_n) div sum(c)").as("lm_t_n"),
        expr("sum(c * pr_n) div sum(c)").as("lm_r_n"))
      .withColumn("weight_u",
        expr("(1000000L * lm_t_n) div greatest(lm_r_n, 1L)"))
    val top = scored.orderBy(col("weight_u").desc, col("doc_id")).limit(DsirK)
    val w = Window.orderBy(col("weight_u").desc, col("doc_id"))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select("rank", "doc_id", "source", "weight_u", "lm_t_n", "lm_r_n")
      .orderBy("rank")
  }

  /** Budget divisor for [[budget]]: the selected prefix carries at
    * most total_tokens / BudgetDiv tokens.
    */
  val BudgetDiv = 10

  /** sample_budget — greedy token-budget curation: order the corpus
    * by quality (type-token ratio in exact integer micros, doc_id
    * breaking ties) and keep documents while the running token total
    * stays within budget = corpus_tokens / [[BudgetDiv]] — the "best
    * documents up to N tokens" selection a pretraining pipeline runs
    * once the quality scores exist. The SELECTION RULE is the global
    * greedy prefix; the IMPLEMENTATION never sorts the corpus
    * globally: a per-score bucket aggregate (≤10⁶+1 rows — bounded by
    * the score RESOLUTION, not the corpus, since q_u is integer
    * micros) locates the boundary score with one tiny window; whole
    * buckets above the boundary pass with a broadcast join, and only
    * the single boundary bucket runs a within-bucket prefix sum. The
    * DuckDB oracle restates the rule as the naive global window
    * cumsum — equivalent by construction, two formulations.
    *
    * At 100 TB: one corpus pass for (q_u, n_tok) (checkpointed — four
    * consumers), one map-side-combinable bucket aggregation, a
    * single-partition window over the BOUNDED bucket frame, a
    * broadcast threshold join, and a window over ONE score bucket.
    * Skew note: a degenerate corpus where most docs share one score
    * turns the boundary window into a large single partition —
    * production would salt that bucket by doc_id range and merge
    * prefix sums.
    */
  def budget(spark: SparkSession, dir: String): DataFrame = {
    val toks = graft.ops.TextAnalysis.toksExpr
    val d = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        expr(s"cast(size($toks) as bigint)").as("n_tok"),
        expr(s"cast(size(array_distinct($toks)) as bigint)").as("n_dis"))
      .withColumn("q_u", when(col("n_tok") > 0,
        expr("n_dis * 1000000L div n_tok")).otherwise(lit(0L)))
      .select("doc_id", "q_u", "n_tok")
      .localCheckpoint()
    val budgetTok =
      d.agg(expr(s"sum(n_tok) div $BudgetDiv")).head().getLong(0)
    val buckets = d.groupBy("q_u").agg(sum("n_tok").cast("long").as("b_tok"))
    // exclusive prefix over the bounded bucket frame (score buckets,
    // not docs — the single-partition window is safe by cardinality)
    val wb = Window.orderBy(col("q_u").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val marked = buckets
      .withColumn("cum_hi", coalesce(sum("b_tok").over(wb), lit(0L)).cast("long"))
    val joined = d.join(broadcast(marked), Seq("q_u"))
    val full = joined.filter(col("cum_hi") + col("b_tok") <= budgetTok)
      .select("doc_id", "q_u", "n_tok")
    val wd = Window.partitionBy("q_u").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val boundary = joined
      .filter(col("cum_hi") < budgetTok &&
        col("cum_hi") + col("b_tok") > budgetTok)
      .withColumn("pfx", sum("n_tok").over(wd).cast("long"))
      .filter(col("cum_hi") + col("pfx") <= budgetTok)
      .select("doc_id", "q_u", "n_tok")
    full.unionByName(boundary).orderBy("doc_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_budget" -> (budget _),
    "stats_moments" -> (moments _),
    "stats_heavy_changers" -> (heavyChangers _),
    "sample_dsir" -> (dsir _),
    "sample_soft_dedup" -> (softDedup _),
    "sample_negatives" -> (negatives _),
    "stats_source_drift" -> (sourceDrift _),
    "stats_ks_drift" -> (ksDrift _),
    "agg_kmv_overlap" -> (kmvOverlap _),
    "sample_diverse" -> (diverse _),
    "sample_coreset" -> (coreset _),
    "stats_approx_quantile" -> (approxQuantile _),
    "agg_hll_distinct" -> (hllDistinct _),
    "agg_hll_merge" -> (hllMerge _),
    "stats_diversity" -> (diversity _),
    "sample_class_balance" -> (classBalance _),
    "stats_token_hist" -> (tokenHist _),
    "sample_stratified" -> (stratified _),
    "sample_priority" -> (prioritySample _),
    "sample_mixture" -> (mixture _),
    "sample_split" -> (split _),
    "stats_value_hist" -> (valueHist _),
    "agg_kmv_distinct" -> (kmvDistinct _),
    "agg_cms_topk" -> (cmsTopk _),
    "stats_length_deciles" -> (lengthDeciles _),
    "stats_exact_median" -> (exactMedian _),
    "stats_mad_outliers" -> (madOutliers _),
    "stats_gini" -> (gini _),
    "sample_curriculum" -> (curriculum _)
  )

  /** sample_curriculum — curriculum-phase assignment by EXACT corpus
    * quantiles of the quality score: phase k (0..9) = number of
    * decile thresholds at or below the doc's score, so training can
    * ramp easy→hard (or the reverse) with equal-ish phases. A global
    * `ntile` is a single-partition sort of the corpus; instead the
    * [[exactMedian]] bounded-histogram trick generalizes — the
    * (score_u, count) histogram is ≤10⁶+1 rows REGARDLESS of corpus
    * size (score is integer micros in [0, 10⁶]), the nine decile
    * thresholds (min score with cum ≥ max(1, k·n div 10)) fold into
    * one aggregation over it, and the phase label is a broadcast
    * 1-row join + 9 codegen'd comparisons per doc. Threshold ties
    * keep equal scores in the same phase (phases are equal-sized up
    * to tie groups — the deterministic behavior a reproducible
    * curriculum wants).
    */
  def curriculum(spark: SparkSession, dir: String): DataFrame = {
    val scored = graft.ops.TextAnalysis.quality(spark, dir)
      .select(col("doc_id"),
        expr("cast(floor(score * 1000000) as bigint)").as("score_u"))
    val h = scored.groupBy("score_u").agg(count(lit(1)).as("c"))
    val w = h
      .withColumn("cum", sum("c").over(
        Window.orderBy("score_u")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("c").over(
        Window.partitionBy(lit(1))))
    val tAggs = (1 to 9).map { k =>
      min(when(col("cum") >= greatest(lit(1L), expr(s"($k * n) div 10")),
        col("score_u"))).as(s"t$k")
    }
    val thresholds = w.agg(tAggs.head, tAggs.tail: _*)
    val phase = (1 to 9).map { k =>
      (col("score_u") >= col(s"t$k")).cast("long")
    }.reduce(_ + _)
    scored.crossJoin(broadcast(thresholds))
      .select(col("doc_id"), col("score_u"), phase.as("phase"))
      .orderBy("doc_id")
  }

  /** stats_gini — Gini coefficient of document length per source (the
    * length-inequality audit: G → 0 uniform lengths, → 1 a few huge
    * docs dominate the token mass — which decides whether packing
    * windows or per-doc caps drive throughput). Exact integer
    * sorted-rank formula G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) with xᵢ
    * ascending — the numerator/denominator pair stays BIGINT and the
    * derived g_u = (10⁶·num) div den crosses engines exactly. Ties
    * rank by (x, doc_id), but swapping equal x values never changes
    * Σ i·xᵢ, so the tiebreak cannot leak into the result. One window
    * shuffle per source + one aggregation.
    */
  def gini(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(col("n_chars"), col("doc_id"))).cast("long"))
    d.groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).as("sum_x"),
        sum(col("rk") * col("n_chars")).as("rank_mass"))
      .select(col("source"), col("n"), col("sum_x"),
        (lit(2L) * col("rank_mass") - (col("n") + 1L) * col("sum_x")).as("num"),
        (col("n") * col("sum_x")).as("den"))
      // DECIMAL(38,0) for the scaled quotient: 10⁶·num overflows Int64
      // once n·Σx passes ~9·10¹² (a few billion rows per source) — the
      // q_corr HUGEINT rule
      .withColumn("g_u",
        expr("cast((cast(1000000 as decimal(38,0)) * num) div den as bigint)"))
      .orderBy("source")
  }

  /** MAD multiplier for [[madOutliers]] (the classic k = 3 robust
    * cut; the 1.4826 normal-consistency constant is deliberately
    * dropped to stay all-integer).
    */
  val MadK = 3L

  /** stats_mad_outliers — robust per-source length-outlier report:
    * median and MAD (median absolute deviation) of n_chars per
    * source, then the docs with |x − med| > [[MadK]]·max(MAD, 1)
    * counted and checksummed. Median/MAD are EXACT via the same
    * bounded-histogram trick as [[exactMedian]] — n_chars has a
    * bounded domain, so both rank statistics cost one map-side-
    * combined groupBy each and the read stage runs on the tiny
    * (source × distinct length) grid; the med/MAD frames are bounded
    * by the source count, so their joins back to the corpus are
    * always broadcasts. Mean/stddev outlier rules break down exactly
    * when outliers are present (the outliers inflate the stddev);
    * MAD has a 50% breakdown point — this is the data-audit screen a
    * 100 TB ingest runs per source.
    */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    def medianOf(df: DataFrame, out: String): DataFrame =
      df.groupBy(col("source"), col("v")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum("c").over(
          Window.partitionBy("source").orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum("c").over(Window.partitionBy("source")))
        .groupBy("source")
        .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col("v"))).as("v1"),
          min(when(col("cum") >= expr("(n + 2) div 2"), col("v"))).as("v2"))
        .select(col("source"), expr("(v1 + v2) div 2").as(out))
    val med = medianOf(d.select(col("source"), col("n_chars").as("v")), "med")
    val dev = d.join(broadcast(med), Seq("source"))
      .select(col("doc_id"), col("source"),
        abs(col("n_chars") - col("med")).as("dev"), col("med"))
    val mad = medianOf(dev.select(col("source"), col("dev").as("v")), "mad")
    val cut = col("dev") > lit(MadK) * greatest(col("mad"), lit(1L))
    dev.join(broadcast(mad), Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        max(col("med")).as("median_nc"),
        max(col("mad")).as("mad_nc"),
        sum(when(cut, 1L).otherwise(0L)).as("n_outliers"),
        min(when(cut, col("doc_id"))).as("min_out_doc"),
        sum(when(cut, col("doc_id"))).as("sum_out_doc"))
      .select(col("source"), col("n"), col("median_nc"), col("mad_nc"),
        col("n_outliers"),
        coalesce(col("min_out_doc"), lit(-1L)).as("min_out_doc"),
        coalesce(col("sum_out_doc"), lit(0L)).as("sum_out_doc"))
      .orderBy("source")
  }

  /** stats_exact_median — EXACT per-group median without a per-group
    * sort: the third member of the quantile family. Exact rank
    * statistics normally force a sort of every group
    * ([[lengthDeciles]] — fine on bounded frames, a scale-killer on a
    * 100 TB fact table), and the mergeable histogram
    * ([[approxQuantile]]) trades exactness for scale. But when the
    * value domain is bounded (integer cents here), the EXACT
    * order statistic is reachable at scale: one map-side-combined
    * groupBy onto the (group, value) domain — the only corpus-wide
    * shuffle — then cumulative counts, rank thresholds and the median
    * itself all run on the bounded histogram frame (≤ groups ×
    * distinct cents rows, independent of corpus size). Median of an
    * even group is ⌊(v1+v2)/2⌋ over the two middle ranks — all-integer,
    * bit-identical in both engines.
    */
  def exactMedian(spark: SparkSession, dir: String): DataFrame =
    medianPick(medianHist(
      Tables(spark, dir, "events").select(col("event_type"), col("value"))))

  /** The exact (group, cents) count grid — [[exactMedian]]'s one
    * corpus-wide shuffle, shared with the streaming twin (counts
    * merge by addition across triggers, so the grid IS the streaming
    * state shape).
    */
  private[graft] def medianHist(df: DataFrame): DataFrame = {
    import graft.relational.Queries.cents
    df.select(col("event_type"), cents(col("value")).as("v"))
      .groupBy("event_type", "v").agg(count(lit(1)).as("c"))
  }

  /** Bounded-frame read stage: cumulative counts → middle ranks →
    * ⌊(v1+v2)/2⌋ per group. Both rank picks fold into ONE
    * aggregation (conditional mins) — no self-join of the histogram
    * frame.
    */
  private[graft] def medianPick(h: DataFrame): DataFrame =
    h.withColumn("cum", sum("c").over(
        Window.partitionBy("event_type").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("c").over(Window.partitionBy("event_type")))
      .groupBy("event_type")
      .agg(max("n").as("n"),
        min(when(col("cum") >= expr("(n + 1) div 2"), col("v"))).as("v1"),
        min(when(col("cum") >= expr("(n + 2) div 2"), col("v"))).as("v2"))
      .select(col("event_type"), col("n"), col("v1"), col("v2"),
        expr("(v1 + v2) div 2").as("median_c"))
      .orderBy("event_type")
}
