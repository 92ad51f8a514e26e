package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Similarity search over the `embeddings` table (64-dim float
  * vectors).
  *
  * Numeric contract shared with the oracle: every dot product casts
  * elements to double *before* multiplying and folds left from 0.0
  * (Spark `aggregate(zip_with(...))` ≡ DuckDB
  * `list_reduce(list_prepend(0.0, [...]))`), so cosines are
  * bit-identical and the exported score is the exact integer
  * `floor(cos·10⁶)`.
  *
  * Scale design: brute force is the correctness baseline (broadcast
  * probes × full scan, one pass, no shuffle beyond top-k); the scale
  * path is sign-LSH bucketing / IVF cells so candidate generation is
  * a bucket-key equi-join instead of a cross product.
  */
object Similarity {

  /** Left-fold double dot product of two float-array columns, as the
    * native codegen'd [[graft.functions.FloatDot]] kernel — the same
    * numeric contract as the `aggregate(zip_with(...))` higher-order
    * form (element-order widening, left-to-right sum; all 20
    * consumers re-verified hash-identical on the swap). A same-window
    * isolated A/B over the eight dot-heavy queries measured 8.39 s
    * native vs 8.52 s higher-order at dim-64 — a wash: the HOF
    * overhead is not the bottleneck at this dimensionality. Kept
    * because the kernel is allocation-free per row (no intermediate
    * product array, no per-element lambda dispatch), which is the
    * side that scales as embedding width grows. Registered at the
    * [[graft.Tables]] seam, so any operator that loads a table can
    * use it.
    */
  def dot(a: Column, b: Column): Column = call_function("graft_fdot", a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Exported exact-integer score. */
  def cosU(a: Column, b: Column): Column = floor(cosine(a, b) * 1000000.0).cast("long")

  /** Pair score from a per-row precomputed self-dot (`norm2`): the
    * norms are computed once per vector before the join instead of
    * once per candidate pair (3× less float work on the brute-force
    * path; identical values — same sqrt of the same double).
    */
  def cosUPre(a: Column, b: Column, n2a: Column, n2b: Column): Column =
    floor(dot(a, b) / (sqrt(n2a) * sqrt(n2b)) * 1000000.0).cast("long")

  /** Sign-LSH bucket: `nbits` coordinate hyperplanes at positions
    * (17j+3) mod 64 — all distinct for j < 64 since gcd(17,64)=1.
    * Used by the single-table PAIR blocking ([[bucketedPairs]]),
    * where one table needs no cross-table decorrelation; the
    * multi-table ANN uses [[lshPlane]] projections instead.
    */
  def bucketN(v: Column, nbits: Int): Column =
    (0 until nbits).map { j =>
      val pos = (17 * j + 3) % 64 + 1
      (element_at(v, pos) > 0f).cast("long") * (1L << j)
    }.reduce(_ + _)

  /** Probe-side top-k keeps the recall-friendly fixed 8 bits. */
  def bucket(v: Column): Column = bucketN(v, 8)

  /** Number of LSH tables for [[lshTopk]] — recall of a single table
    * is the product of per-plane agreement odds p^bits; T independent
    * tables lift it to 1−(1−p^bits)^T. With [[lshPlane]] projections
    * the tables really are independent (the r4 coordinate-plane
    * tables drew from 64 shared axes and capped measured recall at
    * 32%; the decorrelated rework measures ≈60% at the same T×bits,
    * matching the independent-table theory p≈0.62, 0.62⁶≈0.057,
    * 1−(1−0.057)¹⁶≈0.61).
    */
  val LshTables = 16

  /** Per-table bucket-bit range for [[lshAnnBits]]. MaxBits caps the
    * oracle's precomputed plane set: the geometry saturates at
    * n = [[LshPerBucket]]·2^16 ≈ 10⁶ vectors — production raises it
    * (more planes, same derivation) for larger corpora.
    */
  val LshMinBits = 6
  val LshMaxBits = 16

  /** Target mean bucket occupancy for the multi-table ANN. */
  val LshPerBucket = 16L

  /** Per-table bits for [[lshTopk]], derived from corpus size — the
    * smallest k in [[[LshMinBits]], [[LshMaxBits]]] with
    * 2^k · [[LshPerBucket]] ≥ n, so mean bucket occupancy stays ≤
    * [[LshPerBucket]] and the candidate union per probe is
    * ≈ [[LshTables]]·[[LshPerBucket]] rows at ANY corpus size. (The
    * r4 geometry fixed 64 buckets per table forever: candidates/probe
    * ≈ n/4 — O(n²) total scoring, the r2 fixed-bucket disease.) Pure
    * integer arithmetic so the DuckDB oracle derives the identical k
    * from the same COUNT. Recall per table decays as p^bits — the
    * standard LSH trade: holding candidate volume near-constant costs
    * recall as n grows; production tunes (tables, perBucket) jointly.
    */
  def lshAnnBits(n: Long): Int =
    (LshMinBits to LshMaxBits).find(k => (1L << k) * LshPerBucket >= n)
      .getOrElse(LshMaxBits)

  /** Terms per sparse hyperplane in [[lshPlane]]. */
  val LshPlaneDims = 8

  /** Deterministic sparse ±1 hyperplane for (table t, bit j):
    * [[LshPlaneDims]] distinct dims with ±1 signs drawn from md5 of
    * the literal "lshp:t:j:draw" (sparse database-friendly random
    * projections, Achlioptas '01 — by CLT over 8 of 64 dims the
    * projection behaves like a Gaussian one, per-plane agreement
    * ≈ 1−θ/π). Independent across (t, j) — the whole point vs the r4
    * shared coordinate axes. Evaluated once at PLAN time; both
    * engines receive the identical literal (dim, sign) coefficients
    * (the same way the oracle receives interpolated modulus/position
    * constants elsewhere), so the hash stays oracle-expressible.
    */
  def lshPlane(t: Int, j: Int): Seq[(Int, Int)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(s: String): Int = {
      val d = md.digest(s.getBytes("UTF-8"))
      ((d(0) & 0xff) << 24) | ((d(1) & 0xff) << 16) | ((d(2) & 0xff) << 8) | (d(3) & 0xff)
    }
    val picked = scala.collection.mutable.LinkedHashMap[Int, Int]()
    var draw = 0
    while (picked.size < LshPlaneDims) {
      val hv = h(s"lshp:$t:$j:$draw")
      val dim = math.floorMod(hv, 64) + 1
      if (!picked.contains(dim))
        picked(dim) = if (((hv >>> 8) & 1) == 0) 1 else -1
      draw += 1
    }
    picked.toSeq
  }

  /** Table-t bucket over the first `nbits` [[lshPlane]] projections.
    * Bit j is sign(Σ c·v[dim]) with the FIXED left-fold term order
    * shared with the oracle (identical IEEE chain), so bucket ids are
    * bit-identical in both engines. Masking note: bit j depends only
    * on (t, j), so an m-bit bucket is the 2^m-modulus of the
    * [[LshMaxBits]]-bit bucket — the oracle computes the full bucket
    * and masks with its SQL-derived bit count.
    */
  def bucketT(v: Column, t: Int, nbits: Int): Column =
    (0 until nbits).map { j =>
      val proj = lshPlane(t, j).map { case (d, s) =>
        lit(s.toDouble) * element_at(v, d).cast("double")
      }.reduce(_ + _)
      (proj > 0.0).cast("long") * (1L << j)
    }.reduce(_ + _)

  /** Hyperplane count for the pair-generation blocking, derived from
    * corpus size: the smallest k in [8, 24] with 2^k buckets holding
    * ≤ `targetPerBucket` vectors on average — so within-bucket pair
    * work stays O(n · targetPerBucket) instead of O(n²/2^8) as the
    * corpus grows. Pure integer arithmetic (no log2 floats) so the
    * DuckDB oracle derives the identical value.
    */
  def lshBits(n: Long, targetPerBucket: Long = 64L): Int =
    (8 to 24).find(k => (1L << k) * targetPerBucket >= n).getOrElse(24)

  /** IVF centroid-selection modulus, derived from corpus size the same
    * way [[lshBits]] derives bucket count: the smallest power of two
    * `m` with m² ≥ n, so the centroid count k ≈ n/m ≤ √n grows
    * SUB-LINEARLY with the corpus. Assignment work is then O(n·k) =
    * O(n^1.5) — the classic IVF k≈√n sizing that balances cell count
    * against cell size — and the broadcast centroid table is O(√n)
    * rows at any scale (a fixed modulus made it O(n): the r3 scale
    * bug). Pure integer arithmetic so the DuckDB oracle derives the
    * identical value from the same count.
    */
  def ivfCentMod(n: Long): Long =
    (0 to 31).map(1L << _).find(m => m * m >= n).getOrElse(1L << 31)

  /** IVF probe-set modulus: the smallest power of two `m` with
    * 64·m ≥ n — at most 64 probes at any corpus size, so the probe
    * broadcast stays bounded (the %101 probe set used by the
    * brute-force correctness baseline grows linearly; the IVF scale
    * path must not).
    */
  def ivfProbeMod(n: Long): Long =
    (0 to 56).map(1L << _).find(m => m * 64L >= n).getOrElse(1L << 56)

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings")

  /** Scan repartitioned to the session's parallelism: single-file
    * tables plan 1-2 scan partitions, which would serialize the
    * O(candidates) scoring work that follows a broadcast join.
    */
  private def embPar(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir).repartition(spark.sparkContext.defaultParallelism, col("vec_id"))

  /** Probe set: vec_id ≡ 0 (mod 101) — broadcastable at any scale. */
  private def probes(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir).filter(col("vec_id") % 101 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"),
        dot(col("embedding"), col("embedding")).as("pn2"))

  /** sim_brute_topk — exact cosine top-5 per probe (excluding self),
    * rank tie-broken by vec_id.
    */
  def bruteTopk(spark: SparkSession, dir: String): DataFrame = {
    val scored = embPar(spark, dir)
      .withColumn("vn2", dot(col("embedding"), col("embedding")))
      .crossJoin(broadcast(probes(spark, dir)))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        cosUPre(col("pvec"), col("embedding"), col("pn2"), col("vn2")).as("cos_u"))
    val w = Window.partitionBy("probe_id").orderBy(col("cos_u").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .orderBy("probe_id", "rank")
  }

  /** Radius cut for [[rangeSearch]]: cosine micro ≥ 0.25 — ~the
    * top-1% tail of this corpus's probe-pair cosine distribution
    * (max ≈ 0.44, p99 ≈ 0.29), so the ball is non-trivial but bounded.
    */
  val RangeTauU = 250000L

  /** sim_range_search — RADIUS search: every vector within cosine
    * ≥ [[RangeTauU]] of each probe (the unbounded-result-set dual of
    * top-k — dedup sweeps and "find everything this similar" audits
    * want the whole ball, not the best 5). Exact one-pass scan ×
    * broadcast bounded probe set — O(n·probes) with probes O(1) in
    * corpus size, embarrassingly parallel, no shuffle of the corpus;
    * the integer-compared cosine is the shared [[cosUPre]] kernel.
    */
  def rangeSearch(spark: SparkSession, dir: String): DataFrame =
    embPar(spark, dir)
      .withColumn("vn2", dot(col("embedding"), col("embedding")))
      .crossJoin(broadcast(probes(spark, dir)))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        cosUPre(col("pvec"), col("embedding"), col("pn2"), col("vn2")).as("cos_u"))
      .filter(col("cos_u") >= RangeTauU)
      .orderBy("probe_id", "vec_id")

  /** sim_lsh_topk — MULTI-TABLE sign-LSH ANN: candidates are the
    * union over [[LshTables]] independent hash tables of the probe's
    * bucket mates ([[lshBuckets]] data-driven hashing to (table,
    * bucket) rows, one equi-join on that key — the minhash-band
    * plumbing), deduplicated per (probe, vector), then exact cosine
    * re-rank. Tables are genuinely independent ±1 sparse projections
    * ([[lshPlane]]) — measured recall@5 ≈ 0.6 at sf0.01, the
    * independent-table theory value (the r4 coordinate planes capped
    * at 32%).
    *
    * Scale shape (the [[ivfCentMod]]/[[ivfProbeMod]] rules applied to
    * LSH): per-table bits derive from corpus size ([[lshAnnBits]] —
    * mean bucket occupancy ≤ [[LshPerBucket]], so the candidate union
    * stays ≈ T·[[LshPerBucket]] per probe at ANY n instead of the r4
    * fixed-geometry n/4), and the probe set is bounded
    * ([[ivfProbeMod]], ≤64 probes — the broadcast probe frame is
    * ≤ 64·T posexploded rows, O(1) in corpus size, where the r4 %101
    * set grew O(n) → driver OOM at 100×). The count() is one
    * metadata-cheap pre-pass (parquet row counts), same pattern as
    * [[bucketedPairs]].
    */
  /** Plane-coefficient frame for the DATA-DRIVEN bucketing: one row
    * per (t, j, dim, sign) — plan-time constants, broadcast. The
    * fused-expression formulation (16 tables × bits × 8 dims inside
    * one Project) generated a single method past Janino's hard 64 KB
    * cap: whole-stage codegen fell back to interpreted eval and the
    * bucketing stage ran ~30× slower (33 s of task time on a
    * 2000-row corpus). Hashing as data — explode ⋈ broadcast planes →
    * two map-side-combined integer aggregations — keeps every stage
    * inside codegen at ANY table/bit count.
    */
  private def lshPlanesDf(spark: SparkSession, nbits: Int): DataFrame = {
    import spark.implicits._
    (for {
      t <- 0 until LshTables; j <- 0 until nbits
      (d, s) <- lshPlane(t, j)
    } yield (t, j.toLong, d.toLong, s.toLong)).toDF("t", "j", "dim", "sign")
  }

  /** (vec_id, t, bucket) under the integer sign-hash: bit j of table
    * t is `Σ_plane sign·⌊x_d·10⁶⌋ > 0` — exact integers, so the sums
    * are order-independent under any partitioning (the float fold
    * only worked expression-side; a float SUM here would be
    * partition-order-dependent). A sign flips vs the float projection
    * only within 8·10⁻⁶ of the hyperplane — measurably irrelevant to
    * recall, and the oracle derives the identical integer chain.
    */
  private def lshBuckets(spark: SparkSession, base: DataFrame, nbits: Int): DataFrame =
    microElems(base)
      .join(broadcast(lshPlanesDf(spark, nbits)), col("pos") === col("dim"))
      .groupBy("vec_id", "t", "j")
      .agg(sum(col("sign") * col("xq")).as("s"))
      .groupBy("vec_id", "t")
      .agg(sum((col("s") > 0).cast("long") *
        expr("shiftleft(cast(1 as bigint), cast(j as int))")).as("bucket"))

  def lshTopk(spark: SparkSession, dir: String): DataFrame = {
    val n = emb(spark, dir).count()
    val nbits = lshAnnBits(n)
    val base = embPar(spark, dir)
      .withColumn("vn2", dot(col("embedding"), col("embedding")))
    val buckets = base.join(lshBuckets(spark, base, nbits), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("vn2"), col("t"), col("bucket"))
    val p = buckets.filter(col("vec_id") % ivfProbeMod(n) === 0)
      .select(col("t"), col("bucket"), col("vec_id").as("probe_id"),
        col("embedding").as("pvec"), col("vn2").as("pn2"))
    val scored = buckets.join(broadcast(p), Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      // a pair colliding in several tables must score once: the dup
      // rows carry identical vector payloads, so keep-any is exact
      .dropDuplicates("probe_id", "vec_id")
      .select(col("probe_id"), col("vec_id"),
        cosUPre(col("pvec"), col("embedding"), col("pn2"), col("vn2")).as("cos_u"))
    val w = Window.partitionBy("probe_id").orderBy(col("cos_u").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .orderBy("probe_id", "rank")
  }

  /** All same-bucket pairs with floor(cos·10⁶) ≥ minCosU (id_a < id_b).
    * Shared candidate stage for sim_pairs_thresh / dedup_embed.
    * The bucket count scales with corpus size ([[lshBits]]: 2^k ≥
    * n/64), so candidate generation stays near-linear at 100 TB; the
    * count() is one metadata-cheap pre-pass (parquet row counts).
    */
  def bucketedPairs(spark: SparkSession, dir: String, minCosU: Long): DataFrame = {
    val nbits = lshBits(emb(spark, dir).count())
    val base = embPar(spark, dir).withColumn("bucket", bucketN(col("embedding"), nbits))
      .withColumn("n2", dot(col("embedding"), col("embedding")))
    val a = base.select(col("bucket"), col("vec_id").as("id_a"), col("embedding").as("va"),
      col("label").as("label_a"), col("n2").as("n2_a"))
    val b = base.select(col("bucket"), col("vec_id").as("id_b"), col("embedding").as("vb"),
      col("label").as("label_b"), col("n2").as("n2_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("label_a").cast("long").as("label_a"),
        col("label_b").cast("long").as("label_b"),
        cosUPre(col("va"), col("vb"), col("n2_a"), col("n2_b")).as("cos_u"), col("bucket"))
      .filter(col("cos_u") >= minCosU)
  }

  /** sim_pairs_thresh — all-pairs cosine ≥ 0.3 via LSH blocking. */
  def pairsThresh(spark: SparkSession, dir: String): DataFrame =
    bucketedPairs(spark, dir, minCosU = 300000L).orderBy("id_a", "id_b")

  /** Neighbors per vector in [[knnGraph]]. */
  val KnnK = 3

  /** Plane-table index of [[knnGraph]]'s SECOND bucketing — beyond
    * [[lshTopk]]'s tables 0..[[LshTables]]-1, so its [[lshPlane]]
    * projections are independent of both the ANN tables and
    * [[bucketN]]'s coordinate planes.
    */
  val KnnTable2 = 16

  /** sim_knn_graph — k-NN graph construction over the WHOLE corpus
    * (every vector, not a probe subset): corpus-scaled LSH blocking
    * ([[lshBits]] — ≈64 per bucket at any n) generates candidate
    * pairs under TWO independent bucketings — [[bucketN]]'s
    * coordinate planes and the [[lshPlane]] sparse ±1 projections at
    * table [[KnnTable2]] — so a vector isolated in one table still
    * meets neighbors through the other (the guaranteed-degree union:
    * only a vector alone in BOTH tables stays edge-free, spec-pinned).
    * Both directions are unioned and each vector keeps its [[KnnK]]
    * best by exact cosine — the neighborhood-graph artifact that
    * clustering / semantic-dedup / diversity-sampling stages consume.
    * Two bucket-key equi-joins + one WindowGroupLimit-pruned top-k
    * shuffle; a cross-table duplicate pair carries identical payloads,
    * so the pre-union dedup is exact.
    */
  def knnGraph(spark: SparkSession, dir: String): DataFrame = {
    val n = emb(spark, dir).count()
    val nbits = lshBits(n)
    val base = embPar(spark, dir)
      .withColumn("n2", dot(col("embedding"), col("embedding")))
    def pairsUnder(bucket: Column): DataFrame = {
      val bb = base.withColumn("bucket", bucket)
      val a = bb.select(col("bucket"), col("vec_id").as("id_a"),
        col("embedding").as("va"), col("n2").as("n2_a"))
      val b = bb.select(col("bucket"), col("vec_id").as("id_b"),
        col("embedding").as("vb"), col("n2").as("n2_b"))
      a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          cosUPre(col("va"), col("vb"), col("n2_a"), col("n2_b")).as("cos_u"))
    }
    val pairs = pairsUnder(bucketN(col("embedding"), nbits))
      .union(pairsUnder(bucketT(col("embedding"), KnnTable2, nbits)))
      .dropDuplicates("id_a", "id_b")
    val e = pairs.select(col("id_a").as("vec_id"), col("id_b").as("nbr_id"), col("cos_u"))
      .union(pairs.select(col("id_b").as("vec_id"), col("id_a").as("nbr_id"), col("cos_u")))
    val w = Window.partitionBy("vec_id").orderBy(col("cos_u").desc, col("nbr_id"))
    e.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= KnnK)
      .select("vec_id", "rank", "nbr_id", "cos_u")
      .orderBy("vec_id", "rank")
  }

  /** Refinement rounds for [[nnDescent]] — two rounds close most of
    * the LSH build's recall gap on this corpus (measured in
    * OpsSpec's recall-floor test); production tunes by convergence
    * (new-edge count per round), here the count is FIXED so the
    * DuckDB oracle states the identical unrolled chain.
    */
  val NdRounds = 2

  /** sim_nndescent — GRAPH-BASED ANN index refinement (NN-descent,
    * Dong et al. WWW'11): start from the LSH-blocked [[knnGraph]]
    * and iteratively improve it through the graph itself — a
    * neighbor of my neighbor is likely my neighbor. Each of the
    * [[NdRounds]] rounds generalizes the digraph to its undirected
    * neighbor sets (out ∪ in — reverse edges are how NN-descent
    * propagates information against edge direction), joins it with
    * itself to produce the two-hop candidate set, scores candidates
    * with the exact shared integer-micro cosine, and keeps each
    * vertex's [[KnnK]] best among old ∪ new (ties by nbr_id). This
    * is the HNSW/NN-descent family's core loop — the one production
    * index family the LSH/IVF/PQ rows don't cover — and it repairs
    * exactly the LSH failure mode: a true neighbor pair split by
    * every hash table is still found through a shared intermediate.
    *
    * Scale shape: per round the undirected frame is 2·n·[[KnnK]]
    * narrow rows, the two-hop self-join (equi-join on the shared
    * endpoint) emits ≤ n·(2[[KnnK]])² candidates — O(n·k²), never
    * all-pairs — and scoring joins the embeddings table twice on its
    * key. One top-k window shuffle per round (WindowGroupLimit
    * map-side prune); rounds are lineage-truncated (the mmr lesson:
    * each round references the previous graph three times, so lazy
    * lineage re-expands 3^r subtrees without the checkpoint; the
    * frame is n·[[KnnK]] rows — the checkpoint is free). A cross-
    * round duplicate edge carries an identical exact-integer payload,
    * so keep-any dedup is exact in both engines.
    */
  def nnDescent(spark: SparkSession, dir: String): DataFrame = {
    val base = embPar(spark, dir)
      .select(col("vec_id"), col("embedding"),
        dot(col("embedding"), col("embedding")).as("n2"))
    val ea = base.select(col("vec_id"), col("embedding").as("va"), col("n2").as("n2a"))
    val eb = base.select(col("vec_id").as("nbr_id"), col("embedding").as("vb"),
      col("n2").as("n2b"))
    val w = Window.partitionBy("vec_id").orderBy(col("cos_u").desc, col("nbr_id"))
    // lazy checkpoints: lineage still truncates per round (the 3^r
    // re-expansion cannot happen), but materialization happens once in
    // the caller's terminal action instead of one job per round
    var g = knnGraph(spark, dir).select("vec_id", "nbr_id", "cos_u")
      .localCheckpoint(eager = false)
    for (_ <- 1 to NdRounds) {
      val und = g.select(col("vec_id").as("v"), col("nbr_id").as("u"))
        .union(g.select(col("nbr_id").as("v"), col("vec_id").as("u")))
      val cand = und.join(und.select(col("v").as("u"), col("u").as("nbr2")), Seq("u"))
        .filter(col("v") =!= col("nbr2"))
        .select(col("v").as("vec_id"), col("nbr2").as("nbr_id"))
        .dropDuplicates("vec_id", "nbr_id")
      val scored = cand.join(ea, Seq("vec_id")).join(eb, Seq("nbr_id"))
        .select(col("vec_id"), col("nbr_id"),
          cosUPre(col("va"), col("vb"), col("n2a"), col("n2b")).as("cos_u"))
      g = g.unionByName(scored)
        .dropDuplicates("vec_id", "nbr_id")
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= KnnK)
        .select("vec_id", "nbr_id", "cos_u")
        .localCheckpoint(eager = false)
    }
    g.withColumn("rank", row_number().over(w).cast("long"))
      .select("vec_id", "rank", "nbr_id", "cos_u")
      .orderBy("vec_id", "rank")
  }

  /** Beam width / hop count for [[graphTopk]] — B=8 beams over H=3
    * hops close most of the seed-scan recall gap on this corpus
    * (spec-measured); production tunes both by recall target. Fixed
    * so the oracle states the identical unrolled walk.
    */
  val BeamB = 8
  val BeamHops = 3

  /** The PERSISTED graph index — the build half of the build/serve
    * split: [[nnDescent]]'s edge frame is written to parquet ONCE per
    * (JVM, corpus dir) and every serve call reads the parquet instead
    * of re-running the build inside its own query plan. This is the
    * DiskANN/HNSW deployment economics: the O(n·k²·rounds) build
    * amortizes over the query stream, and a serve call's plan starts
    * at a narrow 3-column scan of n·[[KnnK]] rows. At cluster scale
    * the staging write is a table-format commit (the
    * graft.sources snapshot store); here it is a [[graft.Scratch.keep]]
    * directory held for process lifetime — keyed by corpus dir so
    * distinct SFs never share an index. It is the engine's one
    * cross-call memo: the build is its own declared operator
    * (sim_nndescent), and the OpsSpec serve-split test pins "a second
    * serve call must not rebuild".
    */
  private val gidxCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def graphIndex(spark: SparkSession, dir: String): DataFrame = {
    val path = gidxCache.computeIfAbsent(dir, _ => {
      val root = graft.Scratch.keep("gidx")
      try nnDescent(spark, dir).write.parquet(root)
      catch { case e: Throwable => graft.Scratch.rm(root); throw e }
      root
    })
    spark.read.parquet(path)
  }

  /** sim_graph_topk / sim_graph_topk2 — graph-ANN SERVING, the read
    * path of the index [[nnDescent]] builds and [[graphIndex]]
    * persists (the DiskANN/HNSW-layer-0 query shape): each probe
    * greedily walks the neighborhood graph — score a bounded seed
    * set, keep the [[BeamB]] best, then for [[BeamHops]] hops expand
    * the beam's graph neighbors (both edge directions, for reach),
    * rescore exactly, and keep the best [[BeamB]] of old ∪ new. The
    * emitted rows are each probe's final top-5. This is what makes a
    * graph index USEFUL: the build cost amortizes over the query
    * stream — the two serve rows share ONE persisted index (verified
    * by a spec: the second serve call must not re-run the build) —
    * and each query touches O(B·k·H) vectors, not the corpus, not
    * even the LSH candidate union.
    *
    * Scale shape: probes AND seeds are bounded ([[ivfProbeMod]]-style
    * moduli — ≤64 each at any corpus size, so the seed scan is a
    * broadcast cross of two bounded frames); per hop the candidate
    * frame is ≤ probes × [[BeamB]] × 2·[[KnnK]] rows and the exact
    * rescoring joins the embeddings table on its key; hops are
    * lineage-truncated (the mmr lesson). A re-proposed candidate
    * rescores to the identical exact-integer cosine, so keep-any
    * dedup is exact in both engines.
    */
  def graphTopk(spark: SparkSession, dir: String): DataFrame =
    graphServe(spark, dir, 0L)

  /** A second probe cohort served from the SAME persisted index —
    * the row that certifies amortization (and, with it, that serving
    * is a pure read path: no state of the first serve leaks into the
    * second).
    */
  def graphTopk2(spark: SparkSession, dir: String): DataFrame =
    graphServe(spark, dir, 2L)

  private def graphServe(spark: SparkSession, dir: String,
      probeRes: Long): DataFrame = {
    val n = emb(spark, dir).count()
    val pmod = ivfProbeMod(n)
    val base = embPar(spark, dir)
      .withColumn("vn2", dot(col("embedding"), col("embedding")))
    val pr = base.filter(col("vec_id") % pmod === probeRes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"),
        col("vn2").as("pn2"))
    val eb = base.select(col("vec_id"), col("embedding"), col("vn2"))
    def score(cand: DataFrame): DataFrame =
      cand.join(eb, Seq("vec_id"))
        .join(broadcast(pr), Seq("probe_id"))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          cosUPre(col("pvec"), col("embedding"), col("pn2"), col("vn2")).as("cos_u"))
    // no distinct on the edge frame: a duplicate (v,u) only duplicates
    // a candidate proposal, and the per-hop dropDuplicates dedups
    // before scoring — the distinct would cost a shuffle for nothing
    val und = {
      val g = graphIndex(spark, dir)
      g.select(col("vec_id").as("v"), col("nbr_id").as("u"))
        .union(g.select(col("nbr_id").as("v"), col("vec_id").as("u")))
        .localCheckpoint(eager = false)
    }
    val wB = Window.partitionBy("probe_id").orderBy(col("cos_u").desc, col("vec_id"))
    val seeds = base.filter(col("vec_id") % pmod === 1).select("vec_id")
    // lazy checkpoints: per-hop lineage truncation without a per-hop
    // materialization job — the terminal action runs the whole walk
    var beam = score(pr.select("probe_id").crossJoin(seeds))
      .withColumn("rn", row_number().over(wB)).filter(col("rn") <= BeamB)
      .drop("rn").localCheckpoint(eager = false)
    for (_ <- 1 to BeamHops) {
      val nbrs = beam.select(col("probe_id"), col("vec_id").as("v"))
        .join(und, Seq("v"))
        .select(col("probe_id"), col("u").as("vec_id"))
        .dropDuplicates("probe_id", "vec_id")
      beam = beam.unionByName(score(nbrs))
        .dropDuplicates("probe_id", "vec_id")
        .withColumn("rn", row_number().over(wB)).filter(col("rn") <= BeamB)
        .drop("rn").localCheckpoint(eager = false)
    }
    beam.withColumn("rank", row_number().over(wB).cast("long"))
      .filter(col("rank") <= 5)
      .select("probe_id", "rank", "vec_id", "cos_u")
      .orderBy("probe_id", "rank")
  }

  /** stats_label_errors — k-NN label-error screening (the
    * cleanlab-style data-quality gate): a vector whose neighborhood
    * votes for a DIFFERENT label than its own is a likely annotation
    * error. Votes come from the existing [[knnGraph]] (guaranteed-
    * degree two-table LSH k-NN — never all-pairs); the majority label
    * is a deterministic max_by (count, then smaller label), and a
    * vector is flagged when a STRICT majority of its neighbors
    * disagrees. Isolated vectors (no bucket peer in either table)
    * keep −1/0 sentinels and are never flagged. Beyond the k-NN
    * stage, everything is one narrow join + three bounded
    * aggregations keyed by vec_id — map-side combinable at any
    * corpus size.
    */
  def labelErrors(spark: SparkSession, dir: String): DataFrame = {
    // pinned: the vote join and the neighbor count both read it
    val kn = knnGraph(spark, dir).select("vec_id", "nbr_id").localCheckpoint()
    val labels = emb(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val lv = kn.join(labels.select(col("vec_id").as("nbr_id"), col("label").as("nl")),
      Seq("nbr_id")).select("vec_id", "nl")
    val vc = lv.groupBy("vec_id", "nl").agg(count(lit(1)).as("c"))
    val mj = vc.groupBy("vec_id")
      .agg(max_by(col("nl"), struct(col("c"), (-col("nl")).as("neg"))).as("maj_label"),
        max("c").as("n_maj"))
    val nn = kn.groupBy("vec_id").agg(count(lit(1)).as("n_nbrs"))
    val ag = lv.join(labels, Seq("vec_id"))
      .filter(col("nl") === col("label"))
      .groupBy("vec_id").agg(count(lit(1)).as("n_agree"))
    labels
      .join(nn, Seq("vec_id"), "left")
      .join(mj, Seq("vec_id"), "left")
      .join(ag, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"),
        coalesce(col("n_nbrs"), lit(0L)).as("n_nbrs"),
        coalesce(col("maj_label"), lit(-1L)).as("maj_label"),
        coalesce(col("n_maj"), lit(0L)).as("n_maj"),
        coalesce(col("n_agree"), lit(0L)).as("n_agree"))
      .withColumn("flagged",
        (col("maj_label") =!= col("label") &&
          col("n_maj") * 2 > col("n_nbrs")).cast("long"))
      .orderBy("vec_id")
  }

  /** Hamming shortlist size for [[hammingTopk]]'s exact rerank. */
  val HamShortlist = 50

  /** sim_hamming_topk — BINARY-embedding retrieval, the
    * shortlist-then-rerank deployment path: every vector packs its 64
    * dimension signs into ONE long ([[signPack]] — 256× compression
    * against float32), the first-stage scan ranks by hamming =
    * bit_count(a XOR b) — two CPU instructions per comparison, ~1/64th
    * of a float-dot scan, the whole point of binary embeddings — and
    * only the [[HamShortlist]]-deep shortlist pays the exact-cosine
    * rerank (the rerank join touches shortlist·probes rows, never the
    * corpus). Final top-5 by exact cosine within the shortlist;
    * recall@5 ≈ 0.69 measured vs exact brute (the 64-bit signature
    * alone ranks at ≈ 0.22 — the rerank is what makes the signature
    * usable, which is why it is IN the operator). ≤64 probes
    * ([[ivfProbeMod]]); all-integer first stage, bit-identical in the
    * oracle.
    */
  def signPack(v: Column): Column =
    (0 until 64).map { d =>
      (element_at(v, d + 1) > 0f).cast("long") * (1L << d)
    }.reduce(_ + _)

  def hammingTopk(spark: SparkSession, dir: String): DataFrame = {
    val n = emb(spark, dir).count()
    val packed = embPar(spark, dir)
      .select(col("vec_id"), col("embedding"), signPack(col("embedding")).as("sig"),
        dot(col("embedding"), col("embedding")).as("vn2"))
    val probes = packed.filter(col("vec_id") % ivfProbeMod(n) === 0)
      .select(col("vec_id").as("probe_id"), col("sig").as("psig"),
        col("embedding").as("pvec"), col("vn2").as("pn2"))
    // first stage touches ONLY the two packed longs per comparison
    val wHam = Window.partitionBy("probe_id").orderBy(col("ham").asc, col("vec_id"))
    val shortlist = packed.select(col("vec_id"), col("sig"))
      .crossJoin(broadcast(probes.select(col("probe_id"), col("psig"))))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        expr("cast(bit_count(sig ^ psig) as bigint)").as("ham"))
      .withColumn("hrank", row_number().over(wHam))
      .filter(col("hrank") <= HamShortlist)
    // exact rerank of the shortlist only
    val wCos = Window.partitionBy("probe_id").orderBy(col("cos_u").desc, col("vec_id"))
    shortlist
      .join(packed.select(col("vec_id"), col("embedding"), col("vn2")), Seq("vec_id"))
      .join(broadcast(probes.select(col("probe_id"), col("pvec"), col("pn2"))),
        Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("ham"),
        cosUPre(col("pvec"), col("embedding"), col("pn2"), col("vn2")).as("cos_u"))
      .withColumn("rank", row_number().over(wCos).cast("long"))
      .filter(col("rank") <= 5)
      .select("probe_id", "rank", "vec_id", "ham", "cos_u")
      .orderBy("probe_id", "rank")
  }

  /** RRF rank-smoothing constant (the standard k=60 of Cormack et
    * al.'s reciprocal rank fusion).
    */
  val RrfK = 60L

  /** Lexical recall depth for [[hybridRrf]]: candidates per probe
    * advancing to the dense rerank (see the [[MaxsimShortlist]]
    * rationale — caps the dense stage at any corpus size).
    */
  val HybridShortlist = 128

  /** sim_hybrid_rrf — HYBRID retrieval: the lexical-recall →
    * dense-rerank → reciprocal-rank-fusion pipeline every
    * retrieval-augmented stack runs. ≤64 probe documents
    * ([[ivfProbeMod]] over the corpus size) pull candidates through
    * the inverted PHRASE index — corpus docs sharing ≥1 rare token
    * BIGRAM (df·4 ≤ n; bigrams because this corpus has ~31 distinct
    * unigrams — phrase terms are what discriminate; the df prune is
    * the stopphrase guard that bounds the index fan-out) — scored
    * lexically by Σ idf over shared distinct bigrams (the log-free
    * integer idf of [[graft.ops.TextAnalysis.tfidf]]: ⌊10⁶·n∕df⌋)
    * and densely by exact embedding cosine. The two per-probe
    * rankings fuse by RRF:
    * `10⁶ div (60+rank)` summed — pure integer division, so the
    * fusion is bit-exact in both engines, no floats anywhere past the
    * cosine. Top-5 fused per probe, with both source ranks and scores
    * riding along.
    *
    * Scale shape: the inverted-index join is token-keyed (the
    * text_tfidf shuffle) with the probe side broadcast (≤64 probes ×
    * their rare tokens); only the top-[[HybridShortlist]] lexical
    * candidates per probe advance to the dense rerank (late-r9 — the
    * explicit recall-depth contract; Σ df(rare probe tokens) is
    * corpus-relative, so the uncapped dense stage grew with the
    * corpus), so the rerank and all three rank windows are O(probes ×
    * 128) at any scale. The cap itself is a WindowGroupLimit-bounded
    * pass over the lexical pairs (~0.8 s at sf1.0 — the price of a
    * dense stage that stops scaling with the corpus).
    */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val nDocs = docs.count()
    val pmod = ivfProbeMod(nDocs)
    val dt = docs
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("t", expr(graft.ops.TextAnalysis.toksExpr))
      .select(col("doc_id"), explode(expr(graft.ops.TextAnalysis.grams(2))).as("tok"))
      .distinct()
    val rare = dt.groupBy("tok").agg(count(lit(1)).as("df"))
      .filter(col("df") * 4 <= nDocs)
      .select(col("tok"),
        floor(lit(1000000.0) * lit(nDocs) / col("df")).cast("long").as("idf_u"))
    val pt = dt.filter(col("doc_id") % pmod === 0)
      .select(col("doc_id").as("probe_id"), col("tok"))
    val lex0 = dt.join(rare, Seq("tok"))
      .join(broadcast(pt), Seq("tok"))
      .filter(col("doc_id") =!= col("probe_id"))
      .groupBy("probe_id", "doc_id").agg(sum(col("idf_u")).as("lex_u"))
    // recall depth: only the top-HybridShortlist lexical candidates
    // per probe advance to the dense rerank (the production
    // retrieve-then-rerank contract; same reasoning as the maxsim
    // cap — the df-relative rare filter alone is corpus-relative, so
    // without the cap the dense stage grows with the corpus).
    // WindowGroupLimit keeps the per-probe sort bounded.
    val wCap = Window.partitionBy("probe_id").orderBy(col("lex_u").desc, col("doc_id"))
    val lex = lex0.withColumn("cap_rank", row_number().over(wCap))
      .filter(col("cap_rank") <= HybridShortlist).drop("cap_rank")
    val e = emb(spark, dir).select(col("vec_id"), col("embedding"),
      dot(col("embedding"), col("embedding")).as("vn2"))
    val pe = e.filter(col("vec_id") % pmod === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"),
        col("vn2").as("pn2"))
    val scored = lex.join(e, col("doc_id") === col("vec_id"))
      .join(broadcast(pe), Seq("probe_id"))
      .select(col("probe_id"), col("doc_id"), col("lex_u"),
        cosUPre(col("pvec"), col("embedding"), col("pn2"), col("vn2")).as("cos_u"))
    val wl = Window.partitionBy("probe_id").orderBy(col("lex_u").desc, col("doc_id"))
    val wc = Window.partitionBy("probe_id").orderBy(col("cos_u").desc, col("doc_id"))
    val fused = scored
      .withColumn("lex_rank", row_number().over(wl).cast("long"))
      .withColumn("cos_rank", row_number().over(wc).cast("long"))
      .withColumn("rrf_u",
        expr(s"1000000L div ($RrfK + lex_rank) + 1000000L div ($RrfK + cos_rank)"))
    val wf = Window.partitionBy("probe_id").orderBy(col("rrf_u").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(wf).cast("long"))
      .filter(col("rank") <= 5)
      .select("probe_id", "rank", "doc_id", "rrf_u", "lex_u", "cos_u",
        "lex_rank", "cos_rank")
      .orderBy("probe_id", "rank")
  }

  /** sim_bm25_topk — Okapi BM25 lexical ranking (Robertson et al.,
    * TREC-3; the default scoring function of every lexical search
    * stack), distinct from [[hybridRrf]]'s Σ-idf recall arm in both
    * ways that matter: term-frequency SATURATION (tf·(k1+1)∕(tf+k1·B)
    * — a term repeated ten times is not ten times the evidence) and
    * document-LENGTH normalization (B = 1−b+b·dl∕avgdl — long
    * documents don't win by containing everything). k1 = 1.2,
    * b = 0.75 (the universal defaults), carried as SCALED-INTEGER
    * constants so the whole chain past the one idf float is integer
    * division written identically in both engines:
    * `B_u = 250 + (750·L_u) div 1000` with `L_u = (dl·1000) div
    * avgdl` (B in milli-units), then
    * `term_u = (idf_u·tf·2200) div (tf·1000 + (1200·B_u) div 1000)`
    * — the exact-integer convention of [[hybridRrf]]'s RRF fusion.
    * Terms are token bigrams with the df·4 ≤ n rare filter (the
    * pruned-index contract shared with [[hybridRrf]]: phrase terms
    * discriminate in this corpus, and the df prune is the stopphrase
    * guard — production BM25 at scale prunes the posting lists the
    * same way, WAND-style). Query term frequency is ignored (the
    * k3 → 0 convention for short queries).
    *
    * Scale shape: ONE tokenize+explode feeds tf; dl rides a doc-keyed
    * window over the tf frame (the [[graft.ops.TextAnalysis.tfidf]]
    * shape — no second corpus scan, no corpus-sized join); avgdl is
    * one bounded scalar aggregate. The probe side (≤64 probes ×
    * their rare terms, [[ivfProbeMod]]) broadcasts; the posting join
    * is token-keyed with a map-side-combined (probe,doc) sum — the
    * shuffle carries per-partition partials, never the posting list.
    * Top-5 per probe is the WindowGroupLimit-pruned row_number.
    */
  def bm25Topk(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
    val n = docs.count()
    val pmod = ivfProbeMod(n)
    val tf = docs
      .withColumn("t", expr(graft.ops.TextAnalysis.toksExpr))
      .select(col("doc_id"), explode(expr(graft.ops.TextAnalysis.grams(2))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .withColumn("dl", sum(col("tf")).over(Window.partitionBy("doc_id")))
    // avgdl over docs that have ≥1 bigram term — one bounded scalar
    val avgdl = math.max(1L,
      tf.groupBy("doc_id").agg(max(col("dl")).as("dl"))
        .agg(expr("sum(dl) div count(1)")).head.getLong(0))
    val rare = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      .filter(col("df") * 4 <= n)
      .select(col("tok"),
        floor(lit(1000000.0) * lit(n) / col("df")).cast("long").as("idf_u"))
    val pt = tf.filter(col("doc_id") % pmod === 0)
      .join(rare, Seq("tok"))
      .select(col("doc_id").as("probe_id"), col("tok"), col("idf_u"))
    val scored = tf.join(broadcast(pt), Seq("tok"))
      .filter(col("doc_id") =!= col("probe_id"))
      .withColumn("b_u", expr(s"250L + (750L * ((dl * 1000L) div $avgdl)) div 1000L"))
      .withColumn("term_u",
        expr("(idf_u * tf * 2200L) div (tf * 1000L + (1200L * b_u) div 1000L)"))
      .groupBy("probe_id", "doc_id").agg(sum(col("term_u")).as("bm25_u"))
    val w = Window.partitionBy("probe_id").orderBy(col("bm25_u").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select("probe_id", "rank", "doc_id", "bm25_u")
      .orderBy("probe_id", "rank")
  }

  /** stats_split_leakage — train/eval SPLIT-CONTAMINATION report in
    * embedding space: for EVERY val/test document ([[graft.ops
    * .Sampling.split]]'s content-independent hash rule, so the split
    * here is exactly the split the pipeline ships), its nearest
    * train-split neighbor among LSH-bucket candidates — the eval a
    * dataset card runs before trusting held-out numbers, because a
    * val doc with a 0.95-cosine train twin is not held out. One row
    * per eval doc always: isolated docs (no train doc in their
    * bucket) report −1 — absence of evidence is reported as absence,
    * never dropped, so the op is non-vacuous at every scale and the
    * isolated path stays exercised.
    *
    * Scale shape: the eval side is a fixed 2 % of the corpus, the
    * join is the [[bucketN]] bucket-keyed equi-join ([[lshBits]]
    * sizes buckets to ≈64 at any n → bounded per-eval fan-out — the
    * [[bucketedPairs]] contract), and best-neighbor + candidate
    * count are one WindowGroupLimit row_number and one map-side-
    * combined count on the eval-keyed frame. No thresholds: recall
    * is the LSH bucket, exactly [[graft.ops.Dedup.embed]]'s.
    */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val nbits = lshBits(emb(spark, dir).count())
    val base = embPar(spark, dir)
      .withColumn("bucket", bucketN(col("embedding"), nbits))
      .withColumn("n2", dot(col("embedding"), col("embedding")))
      .withColumn("pct",
        expr("graft_md5_prefix(concat('split:', cast(vec_id as string))) % 100"))
    val evals = base.filter(col("pct") >= Sampling.SplitTrainPct)
      .select(col("bucket"), col("vec_id").as("eval_id"), col("embedding").as("ve"),
        col("n2").as("n2_e"), col("pct"))
    val trains = base.filter(col("pct") < Sampling.SplitTrainPct)
      .select(col("bucket"), col("vec_id").as("train_id"),
        col("embedding").as("vt"), col("n2").as("n2_t"))
    val cand = evals.join(trains, Seq("bucket"))
      .select(col("eval_id"), col("train_id"),
        cosUPre(col("ve"), col("vt"), col("n2_e"), col("n2_t")).as("cos_u"))
    val w = Window.partitionBy("eval_id").orderBy(col("cos_u").desc, col("train_id"))
    val best = cand.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("eval_id"), col("train_id"), col("cos_u"))
    val nc = cand.groupBy("eval_id").agg(count(lit(1)).as("n_cands"))
    evals
      .select(col("eval_id"),
        when(col("pct") < Sampling.SplitValPct, "val").otherwise("test").as("split"))
      .join(best, Seq("eval_id"), "left")
      .join(nc, Seq("eval_id"), "left")
      .select(col("eval_id"), col("split"),
        coalesce(col("n_cands"), lit(0L)).as("n_cands"),
        coalesce(col("train_id"), lit(-1L)).as("best_train"),
        coalesce(col("cos_u"), lit(-1000000L)).as("max_cos_u"))
      .orderBy("eval_id")
  }

  /** Prefix length / shortlist depth for [[mrlTopk]]. */
  val MrlPrefix = 16
  val MrlShortlist = 20

  /** sim_mrl_topk — MATRYOSHKA-style dimension-adaptive retrieval
    * (MRL: prefixes of a matryoshka embedding are themselves usable
    * embeddings): shortlist [[MrlShortlist]] candidates per probe by
    * cosine over the FIRST [[MrlPrefix]] dimensions (¼ of the dot
    * work and ¼ of the bytes a cache-resident shortlist index has to
    * hold), then re-rank the shortlist with the full-width cosine —
    * the two-stage funnel production MRL deployments run. Both
    * scores ride along. Complementary to [[hammingTopk]]'s 1-bit
    * shortlist: this one trades a narrower compression factor for a
    * float-fidelity first stage.
    *
    * Scale shape: probes are the bounded [[ivfProbeMod]] set
    * (broadcast); the prefix stage is the one corpus pass (d/4
    * arithmetic — at 100 TB it composes with any bucketing upstream);
    * the full-width stage touches only shortlist × probes rows.
    */
  def mrlTopk(spark: SparkSession, dir: String): DataFrame = {
    val n = emb(spark, dir).count()
    val pmod = ivfProbeMod(n)
    val base = embPar(spark, dir)
      .withColumn("p16", expr(s"slice(embedding, 1, $MrlPrefix)"))
      .withColumn("vn2", dot(col("embedding"), col("embedding")))
      .withColumn("vn16", dot(col("p16"), col("p16")))
    val pr = emb(spark, dir).filter(col("vec_id") % pmod === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"),
        expr(s"slice(embedding, 1, $MrlPrefix)").as("pp16"),
        dot(col("embedding"), col("embedding")).as("pn2"))
      .withColumn("pn16", dot(col("pp16"), col("pp16")))
    val short = base.crossJoin(broadcast(pr))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("embedding"), col("vn2"),
        col("pvec"), col("pn2"),
        cosUPre(col("pp16"), col("p16"), col("pn16"), col("vn16")).as("cos16_u"))
    val ws = Window.partitionBy("probe_id").orderBy(col("cos16_u").desc, col("vec_id"))
    val wf = Window.partitionBy("probe_id").orderBy(col("cos_u").desc, col("vec_id"))
    short.withColumn("srank", row_number().over(ws))
      .filter(col("srank") <= MrlShortlist)
      .withColumn("cos_u", cosUPre(col("pvec"), col("embedding"), col("pn2"), col("vn2")))
      .withColumn("rank", row_number().over(wf).cast("long"))
      .filter(col("rank") <= 5)
      .select("probe_id", "rank", "vec_id", "cos_u", "cos16_u")
      .orderBy("probe_id", "rank")
  }

  /** sim_ivfpq_topk — the COMPOSED production ANN: IVF coarse
    * quantizer + residual product quantization (the FAISS IVFPQ
    * design), L2 metric END TO END. Each vector is assigned to its
    * nearest centroid by exact integer-micro L2 (a cosine cell map
    * would cap recall for unnormalized vectors), the RESIDUAL
    * vector − centroid is quantized to integer micros, and a SHARED
    * residual codebook (seed sub-vectors refined by ONE Lloyd round
    * of integer per-dim means, ≤[[PqKs]] entries × [[PqM]]
    * subspaces) encodes it as M small codes. Queries probe their 4
    * nearest cells, build a per-(probe, cell) integer-L2 lookup table
    * of their OWN residual against the codebook (≤ probes · 4 · M ·
    * Ks rows, broadcast), and rank candidates inside probed cells by
    * the ADC distance Σ_m LUT[m, code_m] — ascending, vec_id
    * tiebreak. Everything after the one residual projection is
    * integer arithmetic, so both engines agree bit-for-bit. Measured
    * L2 recall@5 0.225 at sf0.01 equals an independent numpy
    * replication exactly — quantization-limited on these
    * near-random synthetic embeddings (cell ceiling 0.632), not an
    * implementation artifact.
    *
    * Why the composition matters at 100 TB: IVF alone still stores
    * and scans full float vectors inside each cell; PQ alone scans
    * every code. IVF-PQ stores M bytes per vector, scans only probed
    * cells, and the residual (not the raw vector) is what the
    * codebook quantizes — residuals are centered near zero, so the
    * same codebook serves every cell. The codes + centroids + one
    * shared codebook ARE the persisted index artifact.
    */
  /** Exact-integer micro lift / L2 expansion / residual helpers shared
    * by the IVFPQ build and serve stages.
    */
  private def ivfpqMicro(v: Column): Column =
    transform(v, a => floor(a.cast("double") * lit(1000000.0)).cast("double"))
  private def ivfpqL2x(ab: Column, a2: Column, b2: Column): Column =
    (a2 + b2 - lit(2.0) * ab).cast("long")
  private def ivfpqResid(v: Column, c: Column): Column =
    zip_with(v, c, (a, b) =>
      floor((a.cast("double") - b.cast("double")) * lit(1000000.0)).cast("double"))

  /** The shared IVF-ADC stage of [[ivfpqTopk]] / [[ivfpqRefine]]:
    * returns (scored, probes, base-with-norms). The index half is
    * [[ivfpqIndex]]; the probe-side LUT + ADC join runs here.
    */
  private def ivfpqAdcScored(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val (cents, ivfP) = ivfCentsProbes(spark, dir)
    val base = embPar(spark, dir)
      .withColumn("vn2", dot(col("embedding"), col("embedding")))
    val (codes, cb1) = ivfpqIndex(spark, dir)
    val centsQ = cents.withColumn("cq", ivfpqMicro(col("cvec")))
      .withColumn("cq2", dot(col("cq"), col("cq")))
    val wCell = Window.partitionBy("probe_id").orderBy(col("pdist").asc, col("cent_id"))
    val probeCells = ivfP
      .withColumn("pq", ivfpqMicro(col("pvec")))
      .withColumn("pq2", dot(col("pq"), col("pq")))
      .crossJoin(broadcast(centsQ.select(col("cent_id"), col("cq"), col("cq2"))))
      .select(col("probe_id"), col("pvec"), col("cent_id"),
        ivfpqL2x(dot(col("pq"), col("cq")), col("pq2"), col("cq2")).as("pdist"))
      .withColumn("rn", row_number().over(wCell)).filter(col("rn") <= 4)
      .select(col("probe_id"), col("pvec"), col("cent_id").as("cell"))
    val lut = probeCells
      .join(broadcast(cents.select(col("cent_id").as("cell"), col("cvec"))), Seq("cell"))
      .select(col("probe_id"), col("cell"),
        ivfpqResid(col("pvec"), col("cvec")).as("prvec"))
      .select(col("probe_id"), col("cell"),
        explode(expr(s"sequence(0, ${PqM - 1})")).as("m"), col("prvec"))
      .select(col("probe_id"), col("cell"), col("m").cast("long").as("m"),
        sub(col("prvec"), col("m")).as("psub"))
      .withColumn("ps2", dot(col("psub"), col("psub")))
      .join(broadcast(cb1.withColumn("cw2", dot(col("cwvec"), col("cwvec")))),
        Seq("m"))
      .select(col("probe_id"), col("cell"), col("m"), col("cb_idx"),
        ivfpqL2x(dot(col("psub"), col("cwvec")), col("ps2"), col("cw2")).as("d"))
    val scored = codes.join(broadcast(lut), Seq("cell", "m", "cb_idx"))
      .groupBy("probe_id", "vec_id")
      .agg(sum("d").as("adc_d"), count(lit(1)).as("nm"))
      .filter(col("nm") === PqM)
    (scored, ivfP, base)
  }

  /** The IVFPQ index BUILD: coarse assignment, seed codebook, one
    * Lloyd refinement, final encode — returns (codes, refined
    * codebook). sim_ivfpq_topk and sim_ivfpq_refine each train it in
    * their own call; codes is read once, cb1 is checkpointed.
    */
  private[graft] def ivfpqIndex(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val n = emb(spark, dir).count()
    val (cents, _) = ivfCentsProbes(spark, dir)
    val base = embPar(spark, dir)
      .withColumn("vn2", dot(col("embedding"), col("embedding")))
    // L2 metric end to end (the FAISS-IVF rule): the coarse quantizer
    // assigns and probes by exact integer-micro L2 — a cosine cell
    // map would cap recall for unnormalized vectors, because L2
    // neighbors need not share a cosine cell. Distances run through
    // the NATIVE dot kernel via ‖a−b‖² = a·a + b·b − 2a·b: every
    // intermediate is an integer < 2^53 carried exactly in doubles
    // (micros ≤ 4·10⁶ → 64-dim sums ≤ 10¹⁵), so the values are
    // bit-identical to the oracle's Σ(a_i−b_i)² integer fold while
    // the hot product stays in the allocation-free graft_fdot kernel
    // instead of a per-row HOF chain (A/B: 3.5 s → ~1.5 s at sf0.1).
    def micro(v: Column): Column =
      transform(v, a => floor(a.cast("double") * lit(1000000.0)).cast("double"))
    def l2x(ab: Column, a2: Column, b2: Column): Column =
      (a2 + b2 - lit(2.0) * ab).cast("long")
    val centsQ = cents.withColumn("cq", micro(col("cvec")))
      .withColumn("cq2", dot(col("cq"), col("cq")))
    // coarse assignment via the graft_argmin_l2 kernel: centroids
    // flattened (ordered by cent_id — ties keep the lowest index =
    // lowest cent_id, exactly min_by(cent_id, struct(cdist, cent_id)))
    // into ONE broadcast row; the whole n × k scan runs in-register,
    // no crossJoin row materialization, no assignment shuffle. On the
    // exact-integer micros the kernel's direct Σ(a−b)² fold equals
    // the former a·a+b·b−2ab expansion exactly.
    val centArr = centsQ.agg(
      expr("transform(array_sort(collect_list(struct(cent_id, cq))), s -> s.cent_id)")
        .as("cent_ids"),
      expr("flatten(transform(array_sort(collect_list(struct(cent_id, cq))), s -> s.cq))")
        .as("cent_flat"))
    val cellOf = base
      .select(col("vec_id"), micro(col("embedding")).as("vq"))
      .crossJoin(broadcast(centArr))
      .select(col("vec_id"), element_at(col("cent_ids"),
        (call_function("graft_argmin_l2", col("vq"), col("cent_flat"))
          .getField("idx") + 1).cast("int")).as("cell"))
    // residual micros carried as exact-integer doubles (see above)
    def resid(v: Column, c: Column): Column =
      zip_with(v, c, (a, b) =>
        floor((a.cast("double") - b.cast("double")) * lit(1000000.0)).cast("double"))
    val rq = base.join(cellOf, Seq("vec_id"))
      .join(broadcast(cents.select(col("cent_id").as("cell"), col("cvec"))), Seq("cell"))
      .select(col("vec_id"), col("cell"), resid(col("embedding"), col("cvec")).as("rvec"))
    val wSeed = Window.orderBy("vec_id")
    val cb = rq.filter(col("vec_id") % pqCbMod(n) === 0)
      .withColumn("cb_idx", (row_number().over(wSeed) - 1).cast("long"))
      .select(col("cb_idx"), explode(expr(s"sequence(0, ${PqM - 1})")).as("m"),
        col("rvec"))
      .select(col("cb_idx"), col("m").cast("long").as("m"),
        sub(col("rvec"), col("m")).as("cwvec"))
    val subsR = rq
      .select(col("vec_id"), col("cell"),
        explode(expr(s"sequence(0, ${PqM - 1})")).as("m"), col("rvec"))
      .select(col("vec_id"), col("cell"), col("m").cast("long").as("m"),
        sub(col("rvec"), col("m")).as("rsub"))
      .withColumn("rs2", dot(col("rsub"), col("rsub")))
    def withCw2(cbF: DataFrame): DataFrame =
      cbF.withColumn("cw2", dot(col("cwvec"), col("cwvec")))
    // kernel encode, mode 2: residual micros are exact-integer-valued
    // doubles, so the kernel's direct Σ(a−b)² fold equals the former
    // join formulation's a·a+b·b−2ab expansion exactly (every term
    // and sum < 2^53) — spec-pinned against the join form
    def encodeVs(cbF: DataFrame): DataFrame =
      pqEncodeK(rq.select(col("vec_id"), col("cell"), col("rvec")), "rvec",
          cbF.select(col("m"), col("cb_idx"), col("cwvec")), "cwvec", 2,
          carry = Seq("cell"), subquery = false)
        .select(col("vec_id"), col("cell"), col("m"), (col("packed") % PqKs).as("cb_idx"))
    // one Lloyd refinement on the residual codebook: per-(m, codeword,
    // dim) integer means of the residual elements each seed codeword
    // attracted (`sum div count` truncates identically in both
    // engines), then re-encode — the standard train step that lifts
    // the seed codebook's quantization quality
    val codes0 = encodeVs(cb)
    // vector-form Lloyd update (graft_vlsum — see pqLloydCb): the
    // residual micros stay whole, per-(m, codeword) element-wise
    // integer sums div count, no ×D explode, no rebuild sort
    val subsRQ = subsR.select(col("vec_id"), col("m"),
      expr("transform(rsub, x -> cast(x as bigint))").as("xqv"))
    val cb1 = subsRQ
      .join(codes0.select("vec_id", "m", "cb_idx"), Seq("vec_id", "m"))
      .groupBy("m", "cb_idx")
      .agg(call_function("graft_vlsum", col("xqv")).as("sums"),
        count(lit(1)).as("cnt"))
      .select(col("m"), col("cb_idx"),
        expr("transform(sums, s -> cast(s div cnt as double))").as("cwvec"))
      .localCheckpoint()
    val codes = encodeVs(cb1)
    (codes, cb1)
  }

  def ivfpqTopk(spark: SparkSession, dir: String): DataFrame = {
    val (scored, ivfP, base) = ivfpqAdcScored(spark, dir)
    val w = Window.partitionBy("probe_id").orderBy(col("adc_d").asc, col("vec_id"))
    scored.filter(col("vec_id") =!= col("probe_id"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .join(base.select(col("vec_id"), col("embedding"), col("vn2")), Seq("vec_id"))
      .join(broadcast(ivfP), Seq("probe_id"))
      .select(col("probe_id"), col("rank"), col("vec_id"), col("adc_d"),
        cosUPre(col("pvec"), col("embedding"), col("pn2"), col("vn2")).as("cos_u"))
      .orderBy("probe_id", "rank")
  }

  /** sim_ivfpq_refine — [[pqRefine]]'s retrieve-then-rerank stage on
    * the IVF-ADC pipeline (the composed index this engine would
    * actually serve at 100 TB): the residual-ADC scan shortlists the
    * top-[[PqRefineL]] per probe, then [[PqRefineL]] exact cosines
    * per probe emit the real top-5 — the published "re-ranking with
    * source coding" answer to IVFPQ's quantization-limited recall
    * (measured 0.225 recall@5 unrefined; the spec pins refine ≥ raw
    * on the same probes). Extra cost is probes × L exact dots —
    * corpus-size-independent.
    */
  def ivfpqRefine(spark: SparkSession, dir: String): DataFrame = {
    val (scored, ivfP, base) = ivfpqAdcScored(spark, dir)
    val w = Window.partitionBy("probe_id").orderBy(col("adc_d").asc, col("vec_id"))
    val short = scored.filter(col("vec_id") =!= col("probe_id"))
      .withColumn("adc_rank", row_number().over(w).cast("long"))
      .filter(col("adc_rank") <= PqRefineL)
    val exact = short
      .join(base.select(col("vec_id"), col("embedding"), col("vn2")), Seq("vec_id"))
      .join(broadcast(ivfP), Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("adc_rank"),
        cosUPre(col("pvec"), col("embedding"), col("pn2"), col("vn2")).as("cos_u"))
    val w2 = Window.partitionBy("probe_id").orderBy(col("cos_u").desc, col("vec_id"))
    exact.withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("probe_id"), col("rank"), col("vec_id"), col("adc_rank"),
        col("cos_u"))
      .orderBy("probe_id", "rank")
  }

  /** [[mmrTopk]] shortlist depth and result size. */
  val MmrShortlist = 20
  val MmrK = 5

  /** sim_mmr_topk — Maximal-Marginal-Relevance diversity re-ranking
    * (Carbonell & Goldstein 1998): from each probe's exact top-[[MmrShortlist]]
    * cosine shortlist, greedily select [[MmrK]] results maximizing
    * `λ·rel − (1−λ)·max-sim-to-already-selected` with λ = ½ — in
    * integer micros the argmax of `rel_u − maxsim_u` (the ½ scales
    * out). The standard fix for near-duplicate result lists: a probe
    * inside a dup cluster otherwise returns 5 copies of one answer.
    *
    * Scale shape: the ONE corpus-scale stage is the shortlist
    * (broadcast ≤64-probe frame against the corpus, map-side
    * WindowGroupLimit prune); it is localCheckpoint'd once, and the
    * greedy rounds — [[MmrK]]−1 unrolled join+argmax steps, each
    * O(probes × shortlist × selected) ≤ 64·20·5 rows — never touch
    * the corpus again. Selection is fully deterministic: ties break
    * (mmr_u desc, vec_id), and every pairwise sim is the shared
    * integer-micro cosine.
    */
  def mmrTopk(spark: SparkSession, dir: String): DataFrame = {
    val scored = embPar(spark, dir)
      .withColumn("vn2", dot(col("embedding"), col("embedding")))
      .crossJoin(broadcast(probes(spark, dir)))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("embedding"), col("vn2"),
        cosUPre(col("pvec"), col("embedding"), col("pn2"), col("vn2")).as("rel_u"))
    val w = Window.partitionBy("probe_id").orderBy(col("rel_u").desc, col("vec_id"))
    val shortlist = scored.withColumn("srank", row_number().over(w))
      .filter(col("srank") <= MmrShortlist).drop("srank")
      .localCheckpoint(eager = false)
    val wPick = Window.partitionBy("probe_id").orderBy(col("mmr_u").desc, col("vec_id"))
    // each round references sel and cand multiple times (ms, pick,
    // union, anti) — without per-round truncation the lazy lineage
    // re-expands ~3^r subtrees (the pca 97-scan disease); the frames
    // are ≤ probes × shortlist rows, so the checkpoints are free
    var sel = shortlist.withColumn("mmr_u", col("rel_u"))
      .withColumn("rn", row_number().over(wPick)).filter(col("rn") === 1)
      .drop("rn").withColumn("pick", lit(1L)).localCheckpoint(eager = false)
    var cand = shortlist.join(sel.select(col("probe_id"), col("vec_id")),
      Seq("probe_id", "vec_id"), "left_anti").localCheckpoint(eager = false)
    for (r <- 2 to MmrK) {
      val ms = cand
        .join(sel.select(col("probe_id"), col("embedding").as("svec"),
          col("vn2").as("sn2")), Seq("probe_id"))
        .groupBy("probe_id", "vec_id")
        .agg(max(cosUPre(col("embedding"), col("svec"), col("vn2"), col("sn2")))
          .as("maxsim_u"))
      val pick = cand.join(ms, Seq("probe_id", "vec_id"))
        .withColumn("mmr_u", col("rel_u") - col("maxsim_u"))
        .withColumn("rn", row_number().over(wPick)).filter(col("rn") === 1)
        .drop("rn", "maxsim_u").withColumn("pick", lit(r.toLong))
        .localCheckpoint(eager = false)
      sel = sel.unionByName(pick)
      cand = cand.join(pick.select(col("probe_id"), col("vec_id")),
        Seq("probe_id", "vec_id"), "left_anti").localCheckpoint(eager = false)
    }
    sel.select(col("probe_id"), col("pick"), col("vec_id"), col("rel_u"), col("mmr_u"))
      .orderBy("probe_id", "pick")
  }

  /** Token-vector geometry for [[maxsim]]: [[MaxsimD]]-component
    * integer vectors per token, the first [[MaxsimDocT]] distinct
    * tokens per document and [[MaxsimQT]] per query.
    */
  val MaxsimD = 8
  val MaxsimDocT = 8
  val MaxsimQT = 4

  /** Late-interaction rerank depth: each probe's recall candidates are
    * capped to the top-[[MaxsimShortlist]] by shared-rare-bigram count
    * (doc_id tiebreak) BEFORE the token-interaction stage — the
    * ColBERT retrieve-then-rerank shape. Without the cap the df-based
    * rare filter alone is corpus-relative (df·4 ≤ n admits bigrams in
    * a quarter of the corpus), and the r9 sf1.0 probe measured 9M
    * candidate pairs → 289M interaction rows: recall-bounded is not
    * shortlist-bounded. With it the interaction stage is
    * probes × [[MaxsimShortlist]] × 32 rows at ANY corpus size.
    */
  val MaxsimShortlist = 128

  /** sim_maxsim — multi-vector LATE-INTERACTION retrieval (the
    * ColBERT scoring rule): each document carries one small vector
    * per token (deterministic integer hash vectors — component j of a
    * token is md5(tok#j) mod 2001 − 1000, the pure-function stand-in
    * for a token-encoder output), and a query scores a candidate as
    * Σ over query tokens of the MAX cosine against any document
    * token — fine-grained term matching that single-vector cosine
    * collapses away. Candidates come from the same rare-shared-bigram
    * inverted index as [[hybridRrf]] (recall stage), then each
    * probe's candidates are CAPPED to the top-[[MaxsimShortlist]] by
    * shared-rare-bigram count before any token interaction — the
    * ColBERT retrieve-then-rerank shape. Per shortlisted pair the
    * interaction is [[MaxsimQT]]×[[MaxsimDocT]] cheap integer dots
    * (the native graft_ldot kernel).
    *
    * Scale shape: the doc-side token-vector frame is a map-side
    * projection (≤ [[MaxsimDocT]] rows/doc, checkpointed); probes
    * (≤64, via [[ivfProbeMod]]) and their query vectors broadcast;
    * the interaction stage is probes × [[MaxsimShortlist]] × 32 rows
    * at ANY corpus size (before the cap the df-relative rare filter
    * let candidates grow with the corpus — the r9 sf1.0 probe
    * measured 9M pairs / 289M interaction rows, and the cap cut the
    * query 13.5 → 5.4 s at sf1.0 while keeping it oracle-green at
    * both scales). Every number before the final floor(cos·10⁶) is
    * an exact integer, so both engines agree bit-for-bit.
    */
  def maxsim(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val nDocs = docs.count()
    val pmod = ivfProbeMod(nDocs)
    val base = docs
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("t", expr(graft.ops.TextAnalysis.toksExpr))
    val vecComponents = (1 to MaxsimD)
      .map(j => s"(${graft.ops.Dedup.md5Int(s"concat(tok, '#$j')")} % 2001) - 1000")
      .mkString(", ")
    // one row per (doc, first-8-distinct-token): integer vector + self-dot
    // ≤8 rows/doc with the 8-dim hash vector — consumed by the
    // contrib join AND the probe projection: checkpoint so the
    // md5-vector build runs once (cluster scale: persist)
    val dtv = base
      .select(col("doc_id"),
        posexplode(expr(s"slice(array_distinct(t), 1, $MaxsimDocT)")).as(Seq("ti", "tok")))
      .withColumn("tv", expr(s"array($vecComponents)"))
      .withColumn("tn2", expr("aggregate(tv, 0L, (a, x) -> a + x * x)"))
      .filter(col("tn2") > 0)
      .localCheckpoint()
    // recall stage: candidate docs share ≥1 rare bigram with the
    // probe. The distinct (doc, bigram) frame feeds rare + pbg + cand
    // — without a checkpoint the corpus explode+distinct re-ran for
    // each consumer (measured as the query's two dominant stages)
    // the distinct's own exchange would be AQE-coalesced to a handful
    // of tasks (small bytes, heavy rows); a user-specified repartition
    // on the distinct keys is exempt from coalescing and the final
    // aggregate reuses its layout — the stage stays session-wide
    val bg = base.select(col("doc_id"),
        explode(expr(graft.ops.TextAnalysis.grams(2))).as("bgr"))
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"), col("bgr"))
      .distinct()
      .localCheckpoint()
    val rare = bg.groupBy("bgr").agg(count(lit(1)).as("df"))
      .filter(col("df") * 4 <= nDocs).select("bgr")
    val pbg = bg.filter(col("doc_id") % pmod === 0)
      .select(col("doc_id").as("probe_id"), col("bgr"))
    // shortlist cap: rank each probe's candidates by how many rare
    // bigrams they share (the lexical-evidence ordering), keep the
    // top-MaxsimShortlist — WindowGroupLimit keeps the per-probe sort
    // bounded, and the interaction stage below is O(probes · cap · 32)
    // at any corpus size
    val wCand = Window.partitionBy("probe_id")
      .orderBy(col("nshared").desc, col("doc_id"))
    val cand = bg.join(rare, Seq("bgr")).join(broadcast(pbg), Seq("bgr"))
      .filter(col("doc_id") =!= col("probe_id"))
      .groupBy("probe_id", "doc_id").agg(count(lit(1)).as("nshared"))
      .withColumn("crank", row_number().over(wCand))
      .filter(col("crank") <= MaxsimShortlist)
      .select("probe_id", "doc_id")
    val qtv = dtv.filter(col("doc_id") % pmod === 0 && col("ti") < MaxsimQT)
      .select(col("doc_id").as("probe_id"), col("ti").as("qi"),
        col("tv").as("qv"), col("tn2").as("qn2"))
    // CPU-dense interaction stage: AQE coalesces the small-byte
    // candidate shuffle to a handful of partitions, which would
    // serialize the dot work (measured 4 tasks × 13 s at sf1.0) —
    // repartition to session parallelism first (the JP2-seam rule),
    // and compute the token dot with the native graft_ldot kernel
    // instead of the interpreted zip_with lambda pair.
    val contrib = cand.join(dtv, Seq("doc_id"))
      .repartition(spark.sparkContext.defaultParallelism)
      .join(broadcast(qtv), Seq("probe_id"))
      .select(col("probe_id"), col("doc_id"), col("qi"),
        floor(expr("graft_ldot(qv, tv)")
          / (sqrt(col("qn2")) * sqrt(col("tn2"))) * 1000000.0).cast("long").as("cc"))
    val w = Window.partitionBy("probe_id").orderBy(col("maxsim_u").desc, col("doc_id"))
    contrib.groupBy("probe_id", "doc_id", "qi").agg(max(col("cc")).as("mc"))
      .groupBy("probe_id", "doc_id")
      .agg(sum(col("mc")).as("maxsim_u"), count(lit(1)).as("n_qt"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .orderBy("probe_id", "rank")
  }

  /** Packing factor for the nearest-cell `max_by` ordering:
    * |ccos| ≤ 10⁶ < 2^20 and cent_id < 2^40 (≈10¹² — covers
    * 100 TB-scale vec ids; max product 2^20·2^40 = 2^60 < 2^63, no
    * ANSI overflow), so any cosine difference (≥1) outweighs any
    * cent_id delta and the packed long orders exactly like
    * `ORDER BY ccos DESC, cent_id ASC`.
    */
  private val CellPack = 1L << 40

  /** Nearest-cell assignment from a (vec_id, cent_id, ccos) frame as
    * a max_by aggregation — a partial-aggregating HashAggregate over
    * the broadcast product, no per-vector Window sort, no shuffle of
    * the scored product. The ordering packs (ccos, smallest-cent_id
    * tiebreak) into ONE long via [[CellPack]]: a struct ordering or
    * an array-typed first() would demote the whole agg to
    * SortAggregate (structs/arrays are not mutable hash-buffer types).
    */
  private def nearestCell(scored: DataFrame): DataFrame =
    scored.groupBy("vec_id")
      .agg(max_by(col("cent_id"), col("ccos") * lit(CellPack) - col("cent_id")).as("cell"))

  /** Top-`nprobe` cells per probe by pcos, cent_id tiebreak. */
  private def probeTopCells(scored: DataFrame, nprobe: Int): DataFrame = {
    val w = Window.partitionBy("probe_id").orderBy(col("pcos").desc, col("cent_id"))
    scored.withColumn("prank", row_number().over(w))
      .filter(col("prank") <= nprobe)
      .select(col("probe_id"), col("pvec"), col("pn2"), col("cent_id").as("cell"))
  }

  /** Exact top-5 re-rank of assigned vectors within the probes' cells
    * (scores are always real-vector cosines, whatever steered the
    * cells).
    */
  private def rankWithinCells(assigned: DataFrame, probeCells: DataFrame): DataFrame = {
    val w = Window.partitionBy("probe_id").orderBy(col("cos_u").desc, col("vec_id"))
    assigned.join(broadcast(probeCells), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("cell"),
        cosUPre(col("pvec"), col("embedding"), col("pn2"), col("vn2")).as("cos_u"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .orderBy("probe_id", "rank")
  }

  /** Corpus-size-derived centroid and probe frames for the IVF
    * operators: centroids are vec_id ≡ 0 (mod [[ivfCentMod]](n)) —
    * k ≤ √n of them — probes vec_id ≡ 0 (mod [[ivfProbeMod]](n)) —
    * ≤ 64 of them. The count() is one metadata-cheap pre-pass
    * (parquet row counts), same pattern as [[bucketedPairs]].
    */
  private def ivfCentsProbes(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val n = emb(spark, dir).count()
    val cents = emb(spark, dir).filter(col("vec_id") % ivfCentMod(n) === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"),
        dot(col("embedding"), col("embedding")).as("cn2"))
    val p = emb(spark, dir).filter(col("vec_id") % ivfProbeMod(n) === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"),
        dot(col("embedding"), col("embedding")).as("pn2"))
    (cents, p)
  }

  /** sim_ivf_topk — IVF-style ANN: deterministic centroid subset of
    * k ≤ √n vectors ([[ivfCentMod]] — sub-linear, so the centroid
    * broadcast and the O(n·k) assignment survive 100×), every vector
    * assigned to its nearest centroid cell ([[nearestCell]]; the
    * embedding/norm columns rejoin on vec_id afterwards — both sides
    * hash-partitioned on vec_id already, so no extra exchange), a
    * bounded probe set ([[ivfProbeMod]], ≤64) scans only its nprobe=2
    * nearest cells, exact top-5 re-rank inside.
    */
  def ivfTopk(spark: SparkSession, dir: String): DataFrame = {
    val (cents, ivfP) = ivfCentsProbes(spark, dir)
    val base = embPar(spark, dir)
      .withColumn("vn2", dot(col("embedding"), col("embedding")))
    val cellOf = nearestCell(base.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        cosUPre(col("embedding"), col("cvec"), col("vn2"), col("cn2")).as("ccos")))
    val assigned = base.join(cellOf, "vec_id")
      .select(col("vec_id"), col("embedding"), col("vn2"), col("cell"))
    val probeCells = probeTopCells(ivfP.crossJoin(broadcast(cents))
      .select(col("probe_id"), col("pvec"), col("pn2"), col("cent_id"),
        cosUPre(col("pvec"), col("cvec"), col("pn2"), col("cn2")).as("pcos")), 2)
    rankWithinCells(assigned, probeCells)
  }

  /** sim_filtered_topk — METADATA-FILTERED ANN (the vector-database
    * "search within a tenant/language/label" query): the [[ivfTopk]]
    * IVF path with a label equality predicate — each probe retrieves
    * top-5 among vectors sharing its label only. The filter applies
    * to the ASSIGNED frame before ranking (predicate-then-rank, so
    * filtered-out vectors never enter the window sort and the filter
    * can push toward the scan), not after (post-filtering a top-k
    * under-fills results — the classic filtered-ANN mistake). Same
    * sub-linear geometry as ivfTopk: k ≤ √n centroids, ≤64 probes,
    * nprobe=2 cells.
    */
  def filteredTopk(spark: SparkSession, dir: String): DataFrame = {
    val (cents, _) = ivfCentsProbes(spark, dir)
    val n = emb(spark, dir).count()
    val base = embPar(spark, dir)
      .withColumn("vn2", dot(col("embedding"), col("embedding")))
    val cellOf = nearestCell(scoredSeed(base, cents))
    val assigned = base.join(cellOf, "vec_id")
      .select(col("vec_id"), col("embedding"), col("vn2"),
        col("label").cast("long").as("label"), col("cell"))
    val probes = emb(spark, dir).filter(col("vec_id") % ivfProbeMod(n) === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"),
        dot(col("embedding"), col("embedding")).as("pn2"),
        col("label").cast("long").as("plabel"))
    val probeCells = probeTopCells(
      probes.crossJoin(broadcast(cents))
        .select(col("probe_id"), col("pvec"), col("pn2"), col("cent_id"),
          cosUPre(col("pvec"), col("cvec"), col("pn2"), col("cn2")).as("pcos")), 2)
      .join(broadcast(probes.select(col("probe_id"), col("plabel"))), Seq("probe_id"))
    val w = Window.partitionBy("probe_id").orderBy(col("cos_u").desc, col("vec_id"))
    assigned.join(broadcast(probeCells), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id") && col("label") === col("plabel"))
      .select(col("probe_id"), col("vec_id"), col("cell"), col("label"),
        cosUPre(col("pvec"), col("embedding"), col("pn2"), col("vn2")).as("cos_u"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .orderBy("probe_id", "rank")
  }

  /** Dot product of a float vector with a micro-int (×10⁻⁶) centroid
    * vector — the quantized-centroid float chain shared verbatim with
    * the oracle: each element is `x · (q · 1e-6)`, folded left from
    * 0.0.
    */
  def dotQ(a: Column, q: Column): Column = call_function("graft_fdotq", a, q)

  /** Reference HOF form of [[dotQ]] (spec cross-check only). */
  def dotQSql(a: Column, q: Column): Column =
    aggregate(
      zip_with(a, q, (x, v) => x.cast("double") * (v.cast("double") * lit(1.0e-6))),
      lit(0.0), (acc, x) => acc + x)

  /** Self-dot of a micro-int centroid vector. */
  def dotQQ(q: Column): Column =
    aggregate(
      transform(q, v => (v.cast("double") * lit(1.0e-6)) * (v.cast("double") * lit(1.0e-6))),
      lit(0.0), (acc, x) => acc + x)

  def cosUQPre(a: Column, q: Column, an2: Column, qn2: Column): Column =
    floor(dotQ(a, q) / (sqrt(an2) * sqrt(qn2)) * 1000000.0).cast("long")

  /** Lloyd refinement rounds for [[ivfKmeans]] / [[pqKmeans]] — the
    * production shape: a short fixed refinement budget before freezing
    * the index (one round was the r4 demonstration; the loop is the
    * real trainer). Each round re-runs the same two map-side-combined
    * aggregations, so cost is R bounded corpus passes; the refined
    * centroid/codebook frame is localCheckpoint'd per round (≤ k·64
    * longs) so the final plan size is R-independent and the tiny frame
    * is never recomputed from the corpus where it is referenced twice
    * (assignment + probe scoring) — the [[pcaPower]] lesson.
    */
  val LloydRounds = 2

  /** Seed-centroid cell assignment of the whole corpus — the frame
    * (vec_id, embedding, vn2, cell) consumed by
    * [[graft.ops.Dedup.semantic]]: the same √n seed centroids and
    * max_by assignment as the IVF operators, WITHOUT the Lloyd
    * refinement (semantic dedup prunes against the seed partition;
    * refining the index is a separate training concern with its own
    * operator). One broadcast product + one HashAggregate + one
    * key-join — identical scale shape to sim_ivf_topk's first stage.
    */
  private[ops] def seedCells(spark: SparkSession, dir: String): DataFrame = {
    val (cents, _) = ivfCentsProbes(spark, dir)
    val base = embPar(spark, dir)
      .withColumn("vn2", dot(col("embedding"), col("embedding")))
    base.join(nearestCell(scoredSeed(base, cents)), "vec_id")
  }

  /** Scored (vec_id, cent_id, ccos) frame vs the FLOAT seed centroids. */
  private def scoredSeed(base: DataFrame, cents: DataFrame): DataFrame =
    base.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        cosUPre(col("embedding"), col("cvec"), col("vn2"), col("cn2")).as("ccos"))

  /** Scored frame vs micro-int refined centroids (cvecq, cn2). */
  private def scoredQ(base: DataFrame, centsQ: DataFrame): DataFrame =
    base.crossJoin(broadcast(centsQ))
      .select(col("vec_id"), col("cent_id"),
        cosUQPre(col("embedding"), col("cvecq"), col("vn2"), col("cn2")).as("ccos"))

  /** Micro-int corpus elements (vec_id, pos, xq) — the Lloyd-update
    * input: one posexplode of the embedding scan, ⌊x·10⁶⌋ per element.
    */
  private def microElems(base: DataFrame): DataFrame =
    base.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos0", "x")))
      .select(col("vec_id"), (col("pos0") + 1).cast("long").as("pos"),
        expr("cast(floor(cast(x as double) * 1e6) as bigint)").as("xq"))

  /** Micro-int vectors (vec_id, xqv) kept WHOLE — ⌊x·10⁶⌋ per
    * element (the vector-form Lloyd-update input).
    */
  private def microVecs(base: DataFrame): DataFrame =
    base.select(col("vec_id"),
      expr("transform(embedding, x -> cast(floor(cast(x as double) * 1e6) as bigint))")
        .as("xqv"))

  /** One Lloyd update: per-cell ELEMENT-WISE integer sums
    * ([[graft.functions.VecSumLong]]) divided by the member count —
    * the same per-dim `sum div count` (both engines truncate toward
    * zero) as the former long-form (posexplode → (cell, pos) groupBy
    * → collect_list + array_sort rebuild), with the explode's ×D
    * shuffled-row multiplier and the rebuild sort gone: micro-int
    * centroid arrays (cent_id, cvecq, cn2) out of ONE
    * ObjectHashAggregate. Output ≤ k rows.
    */
  private def lloydUpdate(vecsQ: DataFrame, cell: DataFrame): DataFrame =
    vecsQ.join(cell, "vec_id")
      .groupBy(col("cell").as("cent_id"))
      .agg(call_function("graft_vlsum", col("xqv")).as("sums"),
        count(lit(1)).as("cnt"))
      .select(col("cent_id"), expr("transform(sums, s -> s div cnt)").as("cvecq"))
      .withColumn("cn2", dotQQ(col("cvecq")))

  /** The spherical-kmeans objective Σ_v max_c ⌊cos·10⁶⌋ of a scored
    * frame — what the assignment step maximizes given centroids and
    * the mean update improves given assignment (cosine to the cell
    * mean ≡ cosine to the normalized mean by scale invariance). The
    * monotonicity spec pins it per round with a slack of a few
    * micro-units per vector (floor + micro-int centroid quantization
    * each perturb a term by < 1·10⁻⁶).
    */
  private[graft] def cellObjective(scored: DataFrame): Long =
    scored.groupBy("vec_id").agg(max(col("ccos")).as("b"))
      .agg(sum(col("b"))).head().getLong(0)

  /** Per-round scored frames of the [[ivfKmeans]] Lloyd loop (index 0
    * = seed assignment, index r = after refinement r) — the
    * convergence spec derives objectives from these.
    */
  private[graft] def ivfLloydScored(spark: SparkSession, dir: String,
      rounds: Int): Seq[DataFrame] = {
    val (cents, _) = ivfCentsProbes(spark, dir)
    val base = embPar(spark, dir)
      .withColumn("vn2", dot(col("embedding"), col("embedding")))
    val vecsQ = microVecs(base)
    var scored = scoredSeed(base, cents)
    val out = scala.collection.mutable.ArrayBuffer(scored)
    for (_ <- 1 to rounds) {
      val centsQ = lloydUpdate(vecsQ, nearestCell(scored)).localCheckpoint()
      scored = scoredQ(base, centsQ)
      out += scored
    }
    out.toSeq
  }

  /** sim_ivf_kmeans — IVF with [[LloydRounds]] genuine Lloyd
    * refinements over the seed centroids: assign → per-cell per-dim
    * mean → re-assign, iterated, then probe nprobe=2 refined cells.
    * The centroid update is exact integer arithmetic end-to-end —
    * elements quantize to micro-ints (⌊x·10⁶⌋), per-dim means are
    * integer `sum div count` (both engines truncate toward zero), and
    * the refined centroid is the micro-int array itself — so the
    * update is order-independent under any partitioning (a double
    * mean would be non-associative) and the DuckDB oracle (unrolled
    * round CTEs, the graph_pagerank pattern) reproduces it
    * bit-for-bit. Scale shape: each round is one explode + two
    * HashAggregates with map-side combine; centroid sets are k ≤ √n
    * ([[ivfCentMod]]) so the refined-centroid frame (k·64 longs) and
    * its broadcast stay sub-linear at any corpus size, and the
    * per-round localCheckpoint keeps the final plan R-independent.
    * Convergence is spec-pinned: the [[cellObjective]] is monotone
    * non-decreasing across rounds.
    */
  def ivfKmeans(spark: SparkSession, dir: String): DataFrame = {
    val (cents, ivfP) = ivfCentsProbes(spark, dir)
    val base = embPar(spark, dir)
      .withColumn("vn2", dot(col("embedding"), col("embedding")))
    val vecsQ = microVecs(base)
    var cell = nearestCell(scoredSeed(base, cents))
    var centsQ: DataFrame = null
    for (_ <- 1 to LloydRounds) {
      centsQ = lloydUpdate(vecsQ, cell).localCheckpoint()
      cell = nearestCell(scoredQ(base, centsQ))
    }
    val assigned = base.join(cell, "vec_id")
      .select(col("vec_id"), col("embedding"), col("vn2"), col("cell"))
    val probeCells = probeTopCells(ivfP.crossJoin(broadcast(centsQ))
      .select(col("probe_id"), col("pvec"), col("pn2"), col("cent_id"),
        cosUQPre(col("pvec"), col("cvecq"), col("pn2"), col("cn2")).as("pcos")), 2)
    rankWithinCells(assigned, probeCells)
  }

  /** embed_quantize — symmetric int8 quantization of each embedding
    * (q = round(x·127/amax), amax = per-vector max |x|) with integer
    * summaries: component sum, squared norm, a position-weighted
    * checksum, and the ×10¹² reconstruction squared error. The vector
    * is posexploded and every per-element contribution is projected to
    * an exact integer BEFORE the group-by, so all aggregates are
    * order-independent integer sums — safe under any partitioning (a
    * double sum here would be non-associative and non-deterministic) —
    * and the whole thing is two HashAggregates with map-side combine
    * (amax, then the summaries), no window sort. The per-element q and
    * error expressions share one float chain with the oracle:
    * q = floor(x·127.0/amax + 0.5), e = x − (q·amax)/127.0.
    */
  def quantize(spark: SparkSession, dir: String): DataFrame = {
    // amax as a scan-side array_max BEFORE the explode — evaluated once
    // per vector and replicated by the generator, so the whole operator
    // is ONE scan and ONE aggregation (the earlier explode→agg→join
    // formulation rescanned the table to compute amax and rejoined it).
    // Same float value: max over the identical set of doubles.
    val elems = embPar(spark, dir)
      .select(col("vec_id"),
        expr("array_max(transform(embedding, v -> abs(cast(v as double))))").as("amax"),
        posexplode(col("embedding")).as(Seq("pos0", "x")))
      .select(col("vec_id"), col("amax"), (col("pos0") + 1).cast("long").as("pos"),
        col("x").cast("double").as("xd"))
    elems
      .withColumn("q",
        when(col("amax") === 0.0, 0L)
          .otherwise(floor(col("xd") * lit(127.0) / col("amax") + lit(0.5)).cast("long")))
      .withColumn("e", col("xd") - (col("q").cast("double") * col("amax")) / lit(127.0))
      .groupBy("vec_id")
      .agg(
        max(floor(col("amax") * lit(1000000.0)).cast("long")).as("amax_u"),
        sum(col("q")).as("qsum"),
        sum(col("q") * col("q")).as("qdot"),
        sum((col("q") + 127) * col("pos")).as("qchk"),
        sum(floor(col("e") * col("e") * lit(1.0e12)).cast("long")).as("err_u"))
      .orderBy("vec_id")
  }

  /** Product-quantization geometry for [[pqTopk]]: M subspaces of D
    * dims (M·D = 64) with ≤[[PqKs]] codewords per subspace, so a code
    * is M·log₂(Ks) = 48 bits instead of 256 bytes per vector.
    * Codebook seed modulus mirrors [[ivfProbeMod]]'s shape: smallest
    * power of two m with Ks·m ≥ n → ≤Ks seed vectors at any corpus
    * size. (A 16-codeword book measured recall@5 ≈ 0.18 — 0.5
    * bits/dim is too coarse; 64 codewords is the small end of the
    * production range, recall ≈ 0.4 here.)
    */
  val PqM = 8
  val PqD = 8
  val PqKs = 64
  def pqCbMod(n: Long): Long =
    (0 to 56).map(1L << _).find(m => m * PqKs >= n).getOrElse(1L << 56)

  /** Sub-vector (length [[PqD]]) starting at subspace `m` (0-based). */
  private def sub(v: Column, m: Column): Column =
    slice(v, (m * PqD + 1).cast("int"), lit(PqD))

  /** Left-fold double dot of two [[PqD]]-dim slices — the native
    * graft_fdot kernel (identical widening/fold contract).
    */
  private def dotSub(a: Column, b: Column): Column = dot(a, b)

  /** sim_pq_topk — product-quantization ANN: each vector's 64 dims
    * split into [[PqM]] subspaces, each encoded as the id of its
    * nearest (L2) codeword from a ≤[[PqKs]]-entry per-subspace
    * codebook (deterministic seed vectors, [[pqCbMod]]); queries score
    * by asymmetric distance computation — a probe precomputes its
    * per-(subspace, codeword) partial dots (the LUT, ≤ probes·M·[[PqKs]]
    * rows, broadcast) and a vector's approximate cosine is the sum of
    * M LUT lookups against its code, normalized by the RECONSTRUCTED
    * norm Σ‖codeword‖². Top-5 per probe by the ADC score, with the
    * exact cosine riding along to exhibit the approximation envelope.
    *
    * Determinism: encoding argmin packs (⌊L2²·10⁶⌋, codeword idx)
    * into one long (same trick as [[CellPack]]); every ADC term is
    * floored to nano units BEFORE the (probe, vec) aggregation so the
    * sums are order-independent bigints (the [[quantize]] rule — a
    * double sum over the M terms would be partition-order-dependent);
    * the only float chain is the final normalize, written identically
    * in the oracle.
    *
    * Scale shape: codes are 8 small ints per vector — the 32×
    * compressed artifact a 100 TB ANN store persists; the scoring
    * scan touches ONLY codes ⋈ broadcast LUT (map-side-combined sum,
    * no raw vectors), and the exact re-rank join pulls embeddings for
    * just the top-5·probes row set.
    */
  /** Shared ADC stage of [[pqTopk]] / [[pqRefine]]: per-(probe,
    * vector) asymmetric-distance scores from the seed codebook plus
    * the probe frame. Returns (scored, probes).
    */
  private def pqAdcScored(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val n = emb(spark, dir).count()
    // ≤PqKs seeds (shared stage); codebook self-dots ride along
    val cb = pqSeedCb(spark, dir, n)
      .withColumn("cn2",
        aggregate(transform(col("cvec"), c => c.cast("double") * c.cast("double")),
          lit(0.0), (acc, v) => acc + v))
    // encode: argmin_L2 codeword per (vector, subspace), packed
    // tiebreak — the kernel map-only pass over full embeddings
    val codes = pqEncodeK(embPar(spark, dir).select(col("vec_id"), col("embedding")),
        "embedding", cb.select("m", "cb_idx", "cvec"), "cvec", 0)
      .select(col("vec_id"), col("m"), (col("packed") % PqKs).as("cb_idx"))
    // probe LUT: per-(subspace, codeword) partial dots, nano-floored
    val p = emb(spark, dir).filter(col("vec_id") % ivfProbeMod(n) === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"),
        dot(col("embedding"), col("embedding")).as("pn2"))
    val lut = p
      .select(col("probe_id"), col("pn2"), col("pvec"),
        explode(expr(s"sequence(0, ${PqM - 1})")).as("m"))
      .select(col("probe_id"), col("pn2"), col("m").cast("long").as("m"),
        sub(col("pvec"), col("m")).as("psub"))
      .join(broadcast(cb), Seq("m"))
      .select(col("probe_id"), col("pn2"), col("m"), col("cb_idx"),
        floor(dotSub(col("psub"), col("cvec")) * lit(1.0e9)).cast("long").as("pdot_su"),
        floor(col("cn2") * lit(1.0e9)).cast("long").as("cn2_su"))
    // ADC: M integer lookups summed per (probe, vector)
    val scored = codes.join(broadcast(lut), Seq("m", "cb_idx"))
      .groupBy("probe_id", "vec_id")
      .agg(sum(col("pdot_su")).as("adc_su"), sum(col("cn2_su")).as("vhat_su"),
        max(col("pn2")).as("pn2"))
      .withColumn("adc_u",
        when(col("vhat_su") > 0,
          floor(col("adc_su").cast("double") / lit(1.0e9)
            / (sqrt(col("pn2")) * sqrt(col("vhat_su").cast("double") / lit(1.0e9)))
            * lit(1000000.0)).cast("long"))
          .otherwise(0L))
    (scored, p)
  }

  def pqTopk(spark: SparkSession, dir: String): DataFrame = {
    val (scored, p) = pqAdcScored(spark, dir)
    val w = Window.partitionBy("probe_id").orderBy(col("adc_u").desc, col("vec_id"))
    val top = scored.filter(col("vec_id") =!= col("probe_id"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
    // exact cosine ride-along for just the top-5·probes rows
    val base = emb(spark, dir).select(col("vec_id"), col("embedding"),
      dot(col("embedding"), col("embedding")).as("vn2"))
    top.join(base, Seq("vec_id"))
      .join(broadcast(p.select(col("probe_id"), col("pvec"), col("pn2").as("ppn2"))),
        Seq("probe_id"))
      .select(col("probe_id"), col("rank"), col("vec_id"), col("adc_u"),
        cosUPre(col("pvec"), col("embedding"), col("ppn2"), col("vn2")).as("cos_u"))
      .orderBy("probe_id", "rank")
  }

  /** Shortlist depth of [[pqRefine]]'s exact re-rank stage. */
  val PqRefineL = 32L

  /** sim_pq_refine — the published ADC-shortlist → EXACT-re-rank
    * refinement ("re-ranking with source coding": keep the compressed
    * scan, then spend L exact distance computations per probe on the
    * ADC top-L and emit the exact top-5 of that shortlist). This is
    * the fix for the PQ family's quantization-limited recall that
    * SURVIVES the hash gate — the measured alternative, an OPQ/ITQ
    * learned rotation, was A/B-tested offline on this corpus and
    * REJECTED: parametric OPQ (PCA + eigenvalue allocation) dropped
    * recall@5 0.435→0.368 (the spectrum here is too mild for variance
    * concentration to pay), full alternating OPQ gained only
    * +0.025 while its per-alternation 64×64 SVD cannot be made
    * bit-identical across engines; the refine stage measured
    * 0.44→0.87 recall@5 at L=32 on the same probes. At 100 TB the
    * extra cost over [[pqTopk]] is L exact dots per probe — bounded
    * by probes × [[PqRefineL]], corpus-size-independent.
    */
  def pqRefine(spark: SparkSession, dir: String): DataFrame = {
    val (scored, p) = pqAdcScored(spark, dir)
    val w = Window.partitionBy("probe_id").orderBy(col("adc_u").desc, col("vec_id"))
    val short = scored.filter(col("vec_id") =!= col("probe_id"))
      .withColumn("adc_rank", row_number().over(w).cast("long"))
      .filter(col("adc_rank") <= PqRefineL)
    // exact cosine on the bounded shortlist, then the REAL top-5
    val base = emb(spark, dir).select(col("vec_id"), col("embedding"),
      dot(col("embedding"), col("embedding")).as("vn2"))
    val exact = short.join(base, Seq("vec_id"))
      .join(broadcast(p.select(col("probe_id"), col("pvec"), col("pn2").as("ppn2"))),
        Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("adc_rank"),
        cosUPre(col("pvec"), col("embedding"), col("ppn2"), col("vn2")).as("cos_u"))
    val w2 = Window.partitionBy("probe_id").orderBy(col("cos_u").desc, col("vec_id"))
    exact.withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("probe_id"), col("rank"), col("vec_id"), col("adc_rank"),
        col("cos_u"))
      .orderBy("probe_id", "rank")
  }

  /** Scalar-quantization shortlist length (the [[PqRefineL]] class). */
  val SqL = 32

  /** Unit-scale symmetric int8 quantization: qᵢ = floor(xᵢ·127/‖x‖ +
    * 0.5) ∈ [−127, 127] — the fixed shared scale is what makes the
    * integer dot a scale-invariant cosine surrogate ACROSS vectors
    * (the per-vector amax scale of [[quantize]] is right for storage
    * round-trips but biases cross-vector ranking by 1/amax).
    */
  private def sqVec(v: Column, n2: Column): Column =
    transform(v, x => when(n2 > 0.0,
      floor(x.cast("double") * lit(127.0) / sqrt(n2) + lit(0.5)).cast("long"))
      .otherwise(lit(0L)))

  /** sim_sq_topk — SCALAR-QUANTIZATION ANN, the remaining member of
    * the quantized-index family (PQ codes 0.75 bits/dim, binary
    * Hamming 1 bit/dim, MRL prefix dims — this is the int8 8-bits/dim
    * point every production vector store ships): the corpus is stored
    * as unit-scale int8 vectors (4× smaller than float32, and the
    * integer dot engages SIMD), the shortlist is the top-[[SqL]] by
    * EXACT INTEGER dot of the quantized vectors (deterministic — no
    * float tie seam), and the final top-5 is exact cosine on that
    * bounded shortlist, the [[pqRefine]] refine pattern.
    *
    * Scale shape: one corpus scan × broadcast bounded probe set, the
    * shortlist window per probe, exact re-rank on probes × [[SqL]]
    * rows — corpus-size-independent refine cost, no corpus shuffle.
    */
  def sqTopk(spark: SparkSession, dir: String): DataFrame = {
    val corpus = embPar(spark, dir)
      .withColumn("vn2", dot(col("embedding"), col("embedding")))
      .select(col("vec_id"), col("embedding"), col("vn2"),
        sqVec(col("embedding"), col("vn2")).as("qvec"))
    val p = probes(spark, dir)
      .select(col("probe_id"), col("pvec"), col("pn2"),
        sqVec(col("pvec"), col("pn2")).as("pq"))
    val scored = corpus.crossJoin(broadcast(p))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("embedding"), col("vn2"),
        col("pvec"), col("pn2"),
        call_function("graft_ldot", col("qvec"), col("pq")).as("sq_dot"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("sq_dot").desc, col("vec_id"))
    val short = scored.withColumn("sq_rank", row_number().over(w).cast("long"))
      .filter(col("sq_rank") <= SqL)
    val w2 = Window.partitionBy("probe_id")
      .orderBy(col("cos_u").desc, col("vec_id"))
    short.select(col("probe_id"), col("vec_id"), col("sq_rank"),
        cosUPre(col("pvec"), col("embedding"), col("pn2"), col("vn2"))
          .as("cos_u"))
      .withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("probe_id"), col("rank"), col("vec_id"), col("sq_rank"),
        col("cos_u"))
      .orderBy("probe_id", "rank")
  }

  /** Shared PQ stage: per-(vector, subspace) slices of the corpus. */
  private def pqSubs(spark: SparkSession, dir: String): DataFrame =
    embPar(spark, dir)
      .select(col("vec_id"), explode(expr(s"sequence(0, ${PqM - 1})")).as("m"),
        col("embedding"))
      .select(col("vec_id"), col("m").cast("long").as("m"),
        sub(col("embedding"), col("m")).as("svec"))

  /** Shared PQ stage: the seed codebook (float sub-vectors). */
  private def pqSeedCb(spark: SparkSession, dir: String, n: Long): DataFrame = {
    val wSeed = Window.orderBy("vec_id")
    emb(spark, dir).filter(col("vec_id") % pqCbMod(n) === 0)
      .select(col("vec_id"), col("embedding"))
      .withColumn("cb_idx", (row_number().over(wSeed) - 1).cast("long"))
      .select(col("cb_idx"), explode(expr(s"sequence(0, ${PqM - 1})")).as("m"),
        col("embedding"))
      .select(col("m").cast("long").as("m"), col("cb_idx"),
        sub(col("embedding"), col("m")).as("cvec"))
  }

  /** ⌊L2²·10⁶⌋ of svec vs a FLOAT codeword (cvec) — native
    * [[graft.functions.FloatL2]] kernel (same left-fold double
    * arithmetic as the HOF form, ULP-identical; the lambdas ran
    * interpreted over corpus × codebook assignment rows).
    */
  private def duFloat: Column = floor(
    call_function("graft_fl2", col("svec"), col("cvec")) * lit(1000000.0)).cast("long")

  /** ⌊L2²·10⁶⌋ of svec vs a micro-int codeword (cvq) — native
    * [[graft.functions.FloatL2Quant]] kernel.
    */
  private def duQuant: Column = floor(
    call_function("graft_fl2q", col("svec"), col("cvq")) * lit(1000000.0)).cast("long")

  /** Argmin-L2 encode, keeping the packed (du, cb_idx) long: `% PqKs`
    * recovers the code, `div PqKs` the quantization error — the latter
    * is what the Lloyd convergence spec sums.
    *
    * JOIN formulation — the spec-pinned cross-check reference for
    * [[pqEncodeK]], which the queries now run: same rows, but this
    * form materializes corpus × (M·Ks) join rows through a
    * min-aggregate.
    */
  private[graft] def pqEncodePacked(subs: DataFrame, cb: DataFrame, du: Column): DataFrame =
    subs.join(broadcast(cb), Seq("m"))
      .select(col("vec_id"), col("m"), (du * PqKs + col("cb_idx")).as("packed"))
      .groupBy("vec_id", "m")
      .agg(min(col("packed")).as("packed"))

  /** Encode against a FLOAT codebook: argmin L2, packed tiebreak
    * (join-formulation reference of the kernel path).
    */
  private[graft] def pqEncode(subs: DataFrame, cb: DataFrame): DataFrame =
    pqEncodePacked(subs, cb, duFloat)
      .select(col("vec_id"), col("m"), (col("packed") % PqKs).as("cb_idx"))

  /** One-row flattened codebook (cb_keys, cb_flat): entry e owns key
    * m·[[PqKs]]+cb_idx and the D codeword elements at [e·D, (e+1)·D)
    * — the broadcast payload of [[pqEncodeK]]. array_sort orders the
    * entries by (m, cb_idx); the pair is unique, so the codeword
    * arrays never enter the comparison.
    */
  private def pqCbFlat(cb: DataFrame, vcol: String): DataFrame =
    cb.agg(
      expr(s"transform(array_sort(collect_list(struct(m, cb_idx, $vcol))), " +
        s"s -> s.m * $PqKs + s.cb_idx)").as("cb_keys"),
      expr(s"flatten(transform(array_sort(collect_list(struct(m, cb_idx, $vcol))), " +
        s"s -> s.$vcol))").as("cb_flat"))

  private val scalarViewSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Attach the flattened codebook to `df` as ONE scalar-subquery
    * struct column: computed once before the main query and embedded
    * as a literal — a 1-row broadcast without ANY join node, so the
    * no-cross-product plan audit stays intact (a
    * crossJoin(broadcast(1-row)) would plan a
    * BroadcastNestedLoopJoin). The temp view binds at ANALYSIS time
    * (the withColumn below analyzes eagerly); the name is unique per
    * call — two queries built CONCURRENTLY on one SparkSession must
    * never race view replacement against analysis — and the view is
    * dropped as soon as the consuming Dataset is constructed, so
    * nothing leaks into the user's temp-view namespace.
    */
  private def withScalarStruct(df: DataFrame, one: DataFrame,
      f1: String, f2: String, outCol: String): DataFrame = {
    val view = s"graft_scalar_cb_${scalarViewSeq.incrementAndGet()}"
    // materialize the 1-row frame FIRST: the optimizer re-plans the
    // scalar subquery per field reference, so an un-checkpointed
    // codebook lineage (a corpus-scaled aggregation) would execute
    // once per referencing column — measured 3.3 → 5.5 s on
    // sim_ivfpq_topk at sf1.0 before this checkpoint
    one.localCheckpoint().createOrReplaceTempView(view)
    try df.withColumn(outCol, expr(s"(select struct($f1, $f2) from $view)"))
    finally df.sparkSession.catalog.dropTempView(view)
  }

  /** KERNEL encode — [[graft.functions.PqArgmin]] against the
    * flattened broadcast codebook: the same (vec_id[, carry], m,
    * packed) rows as [[pqEncodePacked]] (equivalence spec-pinned),
    * with the corpus × (M·Ks) broadcast join + min-aggregate
    * collapsed into ONE codegen'd map-only call per vector — zero
    * encode explode, zero encode shuffle, the full argmin runs inside
    * whole-stage codegen. Subspaces the codebook lost (Lloyd
    * drop-outs) surface as null slots and are filtered, matching the
    * inner join's vanished groups. `mode` picks the du arithmetic
    * (0 float codebook, 1 micro-int, 2 exact-integer doubles — see
    * [[graft.functions.GraftPq.argmin]]).
    */
  /** `subquery = true` attaches the codebook as a scalar-subquery
    * struct — no join node, which the sim_pq_topk / sim_pq_kmeans
    * no-cross-product plan audit requires. `subquery = false` uses a
    * 1-row broadcast crossJoin instead: a single-plan form whose
    * codebook lineage participates in exchange REUSE across the
    * consuming query (the ivfpq path computes its residual frame in
    * both the encode and the codebook; chopping it behind eager
    * subquery checkpoints measured 3.3 → 4.6 s at sf1.0).
    */
  private def pqEncodeK(vecs: DataFrame, vecCol: String, cb: DataFrame,
      vcol: String, mode: Int, carry: Seq[String] = Nil,
      subquery: Boolean = true): DataFrame = {
    val flat = pqCbFlat(cb, vcol)
    val withCb =
      if (subquery)
        withScalarStruct(vecs, flat, "cb_keys", "cb_flat", "cbs")
          .withColumn("cb_keys", col("cbs.cb_keys"))
          .withColumn("cb_flat", col("cbs.cb_flat"))
      else vecs.crossJoin(broadcast(flat))
    withCb
      .select(Seq(col("vec_id")) ++ carry.map(col) :+
        posexplode(call_function("graft_pq_argmin", col(vecCol),
          col("cb_keys"), col("cb_flat"), lit(PqKs), lit(mode)))
          .as(Seq("m0", "packed")): _*)
      .filter(col("packed").isNotNull)
      .select(Seq(col("vec_id")) ++ carry.map(col) :+
        col("m0").cast("long").as("m") :+ col("packed"): _*)
  }

  /** Micro-int sub-vectors (vec_id, m, xqv) kept WHOLE — ⌊x·10⁶⌋ per
    * element, element order = dim order (the Lloyd-update input).
    */
  private def pqSubsQ(subs: DataFrame): DataFrame =
    subs.select(col("vec_id"), col("m"),
      expr("transform(svec, x -> cast(floor(cast(x as double) * 1e6) as bigint))")
        .as("xqv"))

  /** One per-subspace Lloyd update: per-(m, codeword) ELEMENT-WISE
    * integer sums ([[graft.functions.VecSumLong]]) divided by the
    * member count — the same `sum div count` per dim as the former
    * long-form (posexplode → (m, cb_idx, pos) groupBy → collect_list
    * + array_sort rebuild), with the explode's ×D shuffled-row
    * multiplier and the rebuild sort gone: the vectors stay whole
    * through ONE ObjectHashAggregate. Codewords that attract no
    * vectors drop out (both engines identically). ≤ M·[[PqKs]]
    * output rows.
    */
  private def pqLloydCb(subsQ: DataFrame, codes: DataFrame): DataFrame =
    subsQ.join(codes, Seq("vec_id", "m"))
      .groupBy("m", "cb_idx")
      .agg(call_function("graft_vlsum", col("xqv")).as("sums"),
        count(lit(1)).as("cnt"))
      .select(col("m"), col("cb_idx"),
        expr("transform(sums, s -> s div cnt)").as("cvq"))
      .withColumn("cn2",
        aggregate(transform(col("cvq"),
          q => (q.cast("double") * lit(1.0e-6)) * (q.cast("double") * lit(1.0e-6))),
          lit(0.0), (acc, v) => acc + v))

  /** Total quantization error Σ_(v,m) ⌊L2²·10⁶⌋ of a packed-encode
    * frame — the objective Lloyd minimizes; the convergence spec pins
    * it monotone non-increasing across rounds (slack: floor +
    * micro-int codeword quantization each perturb a term by ≤ a few
    * units).
    */
  private[graft] def pqObjective(packedCodes: DataFrame): Long =
    packedCodes.agg(sum(expr(s"packed div $PqKs"))).head().getLong(0)

  /** Per-round packed-encode frames of the [[pqKmeans]] Lloyd loop
    * (index 0 = seed-codebook encode).
    */
  private[graft] def pqLloydPacked(spark: SparkSession, dir: String,
      rounds: Int): Seq[DataFrame] = {
    val n = emb(spark, dir).count()
    val vecs = embPar(spark, dir).select(col("vec_id"), col("embedding"))
    val subsQ = pqSubsQ(pqSubs(spark, dir))
    var packed = pqEncodeK(vecs, "embedding", pqSeedCb(spark, dir, n), "cvec", 0)
    val out = scala.collection.mutable.ArrayBuffer(packed)
    for (_ <- 1 to rounds) {
      val codes = packed.select(col("vec_id"), col("m"), (col("packed") % PqKs).as("cb_idx"))
      val cb = pqLloydCb(subsQ, codes).localCheckpoint()
      packed = pqEncodeK(vecs, "embedding", cb, "cvq", 1)
      out += packed
    }
    out.toSeq
  }

  /** sim_pq_kmeans — PQ codebook TRAINING: [[LloydRounds]] Lloyd
    * refinements per subspace over the seed-codebook assignment. Each
    * update is exact integer end-to-end (the [[ivfKmeans]] rule):
    * sub-vector elements quantize to micro-ints, each (subspace,
    * codeword, dim) refines to `sum div count` — order-independent
    * under any partitioning, so the refined codebook is bit-identical
    * in the oracle (unrolled round CTEs) — then the corpus re-encodes
    * against the refined (micro-int) codewords, the loop repeats, and
    * probes score by the same integer-floored ADC as [[pqTopk]].
    * Codewords that attract no vectors drop out of the refined book
    * (both engines identically); assignment shifts toward real data
    * density — the training loop a production PQ index runs a few
    * times before freezing the codebook. Convergence is spec-pinned:
    * [[pqObjective]] is monotone non-increasing across rounds.
    *
    * Scale: each round is one explode + two map-side-combined
    * HashAggregates over (m, codeword, dim) — ≤ M·[[PqKs]]·D cells —
    * plus a broadcast re-encode of the ≤ M·[[PqKs]]-row codebook,
    * localCheckpoint'd per round so the final plan is R-independent.
    */
  def pqKmeans(spark: SparkSession, dir: String): DataFrame = {
    val n = emb(spark, dir).count()
    val vecs = embPar(spark, dir).select(col("vec_id"), col("embedding"))
    val subsQ = pqSubsQ(pqSubs(spark, dir))
    var codes1 = pqEncodeK(vecs, "embedding", pqSeedCb(spark, dir, n), "cvec", 0)
      .select(col("vec_id"), col("m"), (col("packed") % PqKs).as("cb_idx"))
    var cb1: DataFrame = null
    for (_ <- 1 to LloydRounds) {
      cb1 = pqLloydCb(subsQ, codes1).localCheckpoint()
      codes1 = pqEncodeK(vecs, "embedding", cb1, "cvq", 1)
        .select(col("vec_id"), col("m"), (col("packed") % PqKs).as("cb_idx"))
    }
    // ADC against the refined book
    val p = emb(spark, dir).filter(col("vec_id") % ivfProbeMod(n) === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"),
        dot(col("embedding"), col("embedding")).as("pn2"))
    val lut = p
      .select(col("probe_id"), col("pn2"), col("pvec"),
        explode(expr(s"sequence(0, ${PqM - 1})")).as("m"))
      .select(col("probe_id"), col("pn2"), col("m").cast("long").as("m"),
        sub(col("pvec"), col("m")).as("psub"))
      .join(broadcast(cb1), Seq("m"))
      .select(col("probe_id"), col("pn2"), col("m"), col("cb_idx"),
        floor(dotQ(col("psub"), col("cvq")) * lit(1.0e9)).cast("long").as("pdot_su"),
        floor(col("cn2") * lit(1.0e9)).cast("long").as("cn2_su"))
    val scored = codes1.join(broadcast(lut), Seq("m", "cb_idx"))
      .groupBy("probe_id", "vec_id")
      .agg(sum(col("pdot_su")).as("adc_su"), sum(col("cn2_su")).as("vhat_su"),
        max(col("pn2")).as("pn2"))
      .withColumn("adc_u",
        when(col("vhat_su") > 0,
          floor(col("adc_su").cast("double") / lit(1.0e9)
            / (sqrt(col("pn2")) * sqrt(col("vhat_su").cast("double") / lit(1.0e9)))
            * lit(1000000.0)).cast("long"))
          .otherwise(0L))
    val w = Window.partitionBy("probe_id").orderBy(col("adc_u").desc, col("vec_id"))
    val top = scored.filter(col("vec_id") =!= col("probe_id"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
    val base = emb(spark, dir).select(col("vec_id"), col("embedding"),
      dot(col("embedding"), col("embedding")).as("vn2"))
    top.join(base, Seq("vec_id"))
      .join(broadcast(p.select(col("probe_id"), col("pvec"), col("pn2").as("ppn2"))),
        Seq("probe_id"))
      .select(col("probe_id"), col("rank"), col("vec_id"), col("adc_u"),
        cosUPre(col("pvec"), col("embedding"), col("ppn2"), col("vn2")).as("cos_u"))
      .orderBy("probe_id", "rank")
  }

  /** Power-iteration rounds for [[pcaPower]]. */
  val PcaRounds = 3

  /** embed_pca_power — top principal component of the embedding
    * corpus by [[PcaRounds]] rounds of power iteration, the
    * dimensionality-reduction / whitening front-end of an ANN or
    * clustering pipeline. Exact-integer end-to-end: elements quantize
    * to micro-ints, per-dim means are `sum div n`, and each round is
    * v ← Xᶜᵀ(Xᶜ v) computed as two integer aggregations — per-vector
    * scores s = Σ cq·v (rescaled `div 10⁶` so the next product stays
    * in long range) and per-dim sums of `(cq·s) div 2²⁰` (the
    * pre-sum rescale bounds the running total at ANY corpus size:
    * |term| ≤ 2⁻²⁰·(1.1·10⁶)·(7·10⁷) ≈ 7·10⁷, so even 10⁹ rows stay
    * under 2⁶³). Normalization is the one float step — an
    * order-FIXED fold over the 64 dims (array_sort before aggregate;
    * the oracle's list(… ORDER BY dim) is the same chain) — and
    * re-floors to a micro-int unit vector, so every cross-engine
    * value is an integer. Rayleigh-quotient growth across rounds is
    * spec-asserted.
    *
    * Scale: each round is two map-side-combined HashAggregates
    * against the broadcast 64-row v frame, and each round's 64-row
    * result is `localCheckpoint`ed (the [[Dedup.connectedComponents]]
    * lineage-truncation pattern) — WITHOUT it the round chain's plan
    * references the corpus-sized centered frame combinatorially (a
    * naive lazy composition measured 97 parquet scans for 3 rounds —
    * caught by PlanAuditSpec); with it, 2 corpus traversals per
    * round, exactly. At 100 TB you'd additionally persist the
    * centered long-form once; the math is unchanged.
    */
  /** Long-form micro-int matrix of the corpus: (vec_id, dim 1-based, xq). */
  private def embXq(spark: SparkSession, dir: String): DataFrame =
    embPar(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos0", "x")))
      .select(col("vec_id"), (col("pos0") + 1).cast("long").as("dim"),
        expr("cast(floor(cast(x as double) * 1e6) as bigint)").as("xq"))

  /** Per-dim integer micro means (`sum div n`), lineage-truncated. */
  private def embMeans(spark: SparkSession, dir: String, n: Long): DataFrame =
    embXq(spark, dir).groupBy("dim")
      .agg(expr(s"sum(xq) div ${n}L").as("mean_q"))
      .localCheckpoint()

  /** The [[pcaPower]] fit: (means, centered long-form, final raw vr,
    * final unit component) — shared with [[pcaProject]].
    *
    * Refit per call: embed_pca_power and embed_project each run the
    * power iteration in their own call. The centered long form that
    * [[pcaProject]] applies the component to is the fit's own
    * checkpointed frame, not a second corpus scan.
    */
  private def pcaFit(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val n = emb(spark, dir).count()
    val xl = embXq(spark, dir)
    val means = embMeans(spark, dir, n)
    // referenced twice per power round (the projection AND the
    // re-expansion): checkpoint so the explode+center runs once
    val cent = xl.join(broadcast(means), Seq("dim"))
      .select(col("vec_id"), col("dim"), (col("xq") - col("mean_q")).as("cq"))
      .localCheckpoint()
    val v0 = means.select(col("dim"),
      when(col("dim") === 1, 1000000L).otherwise(0L).cast("long").as("v_u"))
    def round(v: DataFrame): (DataFrame, DataFrame) = {
      val s = cent.join(broadcast(v), Seq("dim"))
        .groupBy("vec_id").agg(sum(col("cq") * col("v_u")).as("sraw"))
        .select(col("vec_id"), expr("sraw div 1000000").as("sp"))
      val vr = cent.join(s, Seq("vec_id"))
        .groupBy("dim").agg(sum(expr("(cq * sp) div 1048576")).as("vr"))
        .localCheckpoint() // 64 rows; truncates the per-round lineage
      val n2 = vr.agg(expr(
        """aggregate(transform(array_sort(collect_list(struct(dim, vr))),
          |  s -> cast(s.vr as double) * cast(s.vr as double)),
          |  cast(0.0 as double), (a, b) -> a + b)""".stripMargin).as("n2"))
      val vNext = vr.crossJoin(broadcast(n2))
        .select(col("dim"),
          floor(lit(1000000.0) * col("vr") / sqrt(col("n2"))).cast("long").as("v_u"))
      (vr, vNext)
    }
    val (vrFinal, vFinal) = (1 to PcaRounds).foldLeft((v0, v0)) {
      case ((_, v), _) => round(v)
    }
    (means, cent, vrFinal, vFinal)
  }

  def pcaPower(spark: SparkSession, dir: String): DataFrame = {
    val (means, _, vrFinal, vFinal) = pcaFit(spark, dir)
    means.join(vrFinal, Seq("dim"))
      .join(vFinal.select(col("dim"), col("v_u").as("pc1_u")), Seq("dim"))
      .select(col("dim"), col("mean_q"), col("vr"), col("pc1_u"))
      .orderBy("dim")
  }

  /** embed_project — the APPLY face of [[pcaPower]] (the train→apply
    * rule [[graft.ops.TextAnalysis.bpeEncode]] follows): every vector
    * projects onto the trained top component. Per vector: `proj_u` =
    * Σ cq·pc1 div 10⁶ — the micro-unit signed 1-D reduced
    * representation — and `cn2_u` = Σ cq² div 2²⁰ — the centered
    * energy, whose gap to proj²∕2²⁰ is the whitening residual. Both
    * exact integers via the [[pcaPower]] overflow rules (per-element
    * pre-scale before the sum), so the row is bit-identical in the
    * oracle. ONE corpus traversal against the broadcast 64-row
    * component; spec pins Cauchy–Schwarz (proj² ≤ ‖c‖²) and the
    * near-zero projection mean of a centered corpus.
    */
  def pcaProject(spark: SparkSession, dir: String): DataFrame = {
    val (_, cent, _, vFinal) = pcaFit(spark, dir)
    cent.join(broadcast(vFinal), Seq("dim"))
      .groupBy("vec_id")
      .agg(expr("sum(cq * v_u) div 1000000").as("proj_u"),
        sum(expr("(cq * cq) div 1048576")).as("cn2_u"))
      .orderBy("vec_id")
  }

  /** stats_cov_matrix — exact covariance + correlation matrix of the
    * embedding dimensions (upper triangle, long form) — the profiling
    * artifact behind whitening/PCA decisions and feature audits.
    * Within each VECTOR the dim pairs (i ≤ j) come from a second
    * posexplode over `slice(embedding, i, 64-i+1)` — a within-row
    * cross product, never a join — then centered micro-int products
    * pre-scale `div 2²⁰` before the (i,j)-keyed sum (the
    * [[pcaPower]] overflow rule: |term| ≤ 1.2·10⁶ keeps 10⁹-row
    * corpora under 2⁶³), and cov = `sum div n` stays integer.
    * Correlation is the one float: `⌊10⁶·cov∕√(varᵢ·varⱼ)⌋` from
    * three integers through the identical IEEE chain both engines.
    *
    * At 100 TB: ONE corpus traversal (64·65∕2 = 2080 pair rows per
    * vector) into ONE map-side-combined HashAggregate onto the
    * bounded 2080-cell key domain; the corr decorate joins run on
    * that tiny frame.
    */
  def covMatrix(spark: SparkSession, dir: String): DataFrame = {
    val n = emb(spark, dir).count()
    val means = embMeans(spark, dir, n)
    val pairs = embPar(spark, dir)
      .select(col("vec_id"), col("embedding"),
        posexplode(col("embedding")).as(Seq("i0", "xi")))
      .select(col("vec_id"), (col("i0") + 1).cast("long").as("i"),
        expr("cast(floor(cast(xi as double) * 1e6) as bigint)").as("xqi"),
        posexplode(expr("slice(embedding, i0 + 1, 64 - i0)")).as(Seq("j0", "xj")))
      .select(col("vec_id"), col("i"), (col("i") + col("j0")).cast("long").as("j"),
        col("xqi"),
        expr("cast(floor(cast(xj as double) * 1e6) as bigint)").as("xqj"))
    val cov = pairs
      .join(broadcast(means.select(col("dim").as("i"), col("mean_q").as("mi"))), Seq("i"))
      .join(broadcast(means.select(col("dim").as("j"), col("mean_q").as("mj"))), Seq("j"))
      .select(col("i"), col("j"),
        expr("((xqi - mi) * (xqj - mj)) div 1048576").as("t"))
      .groupBy("i", "j")
      .agg(expr(s"sum(t) div ${n}L").as("cov_u"), count(lit(1)).as("n_used"))
    val vars = cov.filter(col("i") === col("j"))
      .select(col("i").as("d"), col("cov_u").as("var_u"))
    cov
      .join(broadcast(vars.select(col("d").as("i"), col("var_u").as("var_i"))), Seq("i"))
      .join(broadcast(vars.select(col("d").as("j"), col("var_u").as("var_j"))), Seq("j"))
      .select(col("i"), col("j"), col("n_used"), col("cov_u"),
        when(col("var_i") > 0 && col("var_j") > 0,
          floor(lit(1000000.0) * col("cov_u") /
            sqrt(col("var_i").cast("double") * col("var_j").cast("double"))).cast("long"))
          .otherwise(0L).as("corr_u"))
      .orderBy("i", "j")
  }

  /** New-arrival modulus for [[indexRefresh]]: vec_id ≡ 0 (mod 7)
    * models the day's embedding batch; the rest is the indexed
    * corpus whose assignment is already persisted.
    */
  val RefreshNewMod = 7L

  /** The persisted index artifact [[indexRefresh]] merges into:
    * (vec_id, cell) for the historical corpus, assigned against the
    * frozen base-derived centroids. localCheckpoint stands in for the
    * stored table — at 100 TB this is a bucketed parquet artifact
    * that only ever receives appends.
    */
  private[graft] def refreshBaseIndex(spark: SparkSession, dir: String,
      cents: DataFrame): DataFrame = {
    val base = embPar(spark, dir).filter(col("vec_id") % RefreshNewMod =!= 0)
      .withColumn("vn2", dot(col("embedding"), col("embedding")))
    nearestCell(scoredSeed(base, cents)).localCheckpoint()
  }

  /** Frozen centroids of the refresh index: derived from the BASE
    * side only (k ≤ √n_base), so the day's arrivals never move them —
    * the property that makes the incremental merge ≡ a full rebuild.
    */
  private[graft] def refreshCents(spark: SparkSession, dir: String): DataFrame = {
    val nBase = emb(spark, dir).filter(col("vec_id") % RefreshNewMod =!= 0).count()
    emb(spark, dir)
      .filter(col("vec_id") % RefreshNewMod =!= 0 &&
        col("vec_id") % ivfCentMod(nBase) === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"),
        dot(col("embedding"), col("embedding")).as("cn2"))
  }

  /** sim_index_refresh — INCREMENTAL ANN-index maintenance: the
    * daily-embedding-ingest twin of dedup_incremental. A full index
    * rebuild re-assigns the whole corpus every day — O(corpus) work
    * for an O(batch) question. Instead the historical corpus keeps
    * its (vec_id, cell) assignment as a persisted artifact
    * ([[refreshBaseIndex]]), the centroids are frozen from the base
    * side ([[refreshCents]]), and the refresh scores ONLY the new
    * batch (vec_id ≡ 0 mod [[RefreshNewMod]]) against the broadcast
    * centroids — O(batch × k) — then unions the stored rows
    * untouched. Because the centroids are frozen, the merged index
    * is bit-identical to a from-scratch rebuild: the oracle assigns
    * the FULL corpus in one pass, so a hash-green row certifies
    * merge ≡ rebuild; the poisoned-artifact spec certifies the base
    * side is read, never recomputed.
    */
  def indexRefresh(spark: SparkSession, dir: String): DataFrame = {
    val cents = refreshCents(spark, dir)
    indexRefreshVs(spark, dir, cents, refreshBaseIndex(spark, dir, cents))
  }

  /** [[indexRefresh]] against an explicit persisted artifact — the
    * seam the poisoned-artifact and written-and-reloaded specs drive.
    */
  private[graft] def indexRefreshVs(spark: SparkSession, dir: String,
      cents: DataFrame, baseIdx: DataFrame): DataFrame = {
    val fresh = embPar(spark, dir).filter(col("vec_id") % RefreshNewMod === 0)
      .withColumn("vn2", dot(col("embedding"), col("embedding")))
    val newIdx = nearestCell(scoredSeed(fresh, cents))
    baseIdx.select(col("vec_id"), col("cell"), lit(0L).as("is_new"))
      .unionByName(newIdx.select(col("vec_id"), col("cell"), lit(1L).as("is_new")))
      .orderBy("vec_id")
  }

  /** sim_recall_eval — the ANN-index EVALUATION harness: per-probe
    * recall@5 of BOTH approximate indexes ([[lshTopk]] multi-table
    * sign-LSH and [[ivfTopk]] 2-probe IVF) against exact brute-force
    * ground truth over the SHARED bounded probe set
    * ([[ivfProbeMod]], ≤64 probes at any corpus size — the same
    * probes both indexes serve, so hit sets join directly). Every
    * production ANN deployment runs exactly this loop after each
    * index build / parameter change; the measured recalls quoted in
    * the [[lshTopk]]/[[ivfTopk]] scaladocs become a regression-gated
    * artifact instead of prose.
    *
    * Scale shape: ground truth is ONE corpus scan × the ≤64-probe
    * broadcast (O(n) at any corpus size, never all-pairs) with a
    * WindowGroupLimit-pruned top-5; the two index runs are the
    * operators under test unchanged; the recall join touches only
    * 5-row-per-probe frames. Integer recall (hits·100 div 5) — no
    * float crosses the engine boundary.
    */
  def recallEval(spark: SparkSession, dir: String): DataFrame = {
    val n = emb(spark, dir).count()
    val p = emb(spark, dir).filter(col("vec_id") % ivfProbeMod(n) === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"),
        dot(col("embedding"), col("embedding")).as("pn2"))
    val scored = embPar(spark, dir)
      .withColumn("vn2", dot(col("embedding"), col("embedding")))
      .crossJoin(broadcast(p))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        cosUPre(col("pvec"), col("embedding"), col("pn2"), col("vn2")).as("cos_u"))
    val w = Window.partitionBy("probe_id").orderBy(col("cos_u").desc, col("vec_id"))
    val gt = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5).select("probe_id", "vec_id")
    val lsh = lshTopk(spark, dir).select(col("probe_id"), col("vec_id"))
      .withColumn("hl", lit(1L))
    val ivf = ivfTopk(spark, dir).select(col("probe_id"), col("vec_id"))
      .withColumn("hi", lit(1L))
    gt.join(lsh, Seq("probe_id", "vec_id"), "left")
      .join(ivf, Seq("probe_id", "vec_id"), "left")
      .groupBy("probe_id")
      .agg(sum(coalesce(col("hl"), lit(0L))).as("hits_lsh"),
        sum(coalesce(col("hi"), lit(0L))).as("hits_ivf"))
      .select(col("probe_id"),
        col("hits_lsh"), expr("hits_lsh * 100 div 5").as("recall_lsh_pct"),
        col("hits_ivf"), expr("hits_ivf * 100 div 5").as("recall_ivf_pct"))
      .orderBy("probe_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_recall_eval" -> (recallEval _),
    "sim_index_refresh" -> (indexRefresh _),
    "stats_cov_matrix" -> (covMatrix _),
    "embed_pca_power" -> (pcaPower _),
    "embed_project" -> (pcaProject _),
    "sim_hybrid_rrf" -> (hybridRrf _),
    "sim_bm25_topk" -> (bm25Topk _),
    "stats_split_leakage" -> (splitLeakage _),
    "sim_maxsim" -> (maxsim _),
    "sim_mrl_topk" -> (mrlTopk _),
    "sim_mmr_topk" -> (mmrTopk _),
    "sim_ivfpq_topk" -> (ivfpqTopk _),
    "sim_filtered_topk" -> (filteredTopk _),
    "sim_hamming_topk" -> (hammingTopk _),
    "sim_pq_topk" -> (pqTopk _),
    "sim_pq_refine" -> (pqRefine _),
    "sim_sq_topk" -> (sqTopk _),
    "sim_ivfpq_refine" -> (ivfpqRefine _),
    "sim_pq_kmeans" -> (pqKmeans _),
    "sim_knn_graph" -> (knnGraph _),
    "sim_nndescent" -> (nnDescent _),
    "sim_graph_topk" -> (graphTopk _),
    "sim_graph_topk2" -> (graphTopk2 _),
    "stats_label_errors" -> (labelErrors _),
    "sim_brute_topk" -> (bruteTopk _),
    "sim_range_search" -> (rangeSearch _),
    "sim_lsh_topk" -> (lshTopk _),
    "sim_pairs_thresh" -> (pairsThresh _),
    "sim_ivf_topk" -> (ivfTopk _),
    "sim_ivf_kmeans" -> (ivfKmeans _),
    "embed_quantize" -> (quantize _)
  )
}
