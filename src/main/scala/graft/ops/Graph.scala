package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Iterative graph analytics over the document near-dup graph —
  * PageRank beside [[Dedup.connectedComponents]]' labeling, showing
  * the general bounded-round message-passing shape (per round: one
  * edge join + one vertex aggregation, lineage truncated).
  */
object Graph {

  /** Fixed PageRank rounds — bounded so the oracle can unroll the
    * recurrence; convergence-to-fixpoint would swap the constant for
    * the [[Dedup.connectedComponents]]-style changed-count loop.
    */
  val PrRounds = 3

  /** Damping in percent and the per-vertex base in micro-units:
    * r₀ = 10⁶; r_{t+1}(v) = 150000 + (85·Σ_{u→v} (r_t(u) div deg u))
    * div 100 — every step is integer division, so ranks are exact,
    * order-independent under any partitioning, and bit-identical in
    * the unrolled DuckDB oracle (a float PageRank would accumulate
    * partition-order-dependent rounding).
    */
  val PrDampPct = 85L
  val PrBaseU = 150000L
  val PrInitU = 1000000L

  /** The undirected near-dup candidate graph of the MinHash family:
    * every [[Dedup.bandCandidates]] pair in both directions as
    * (doc_a, doc_b), emitted from one pass over the pairs and pinned,
    * so a consumer that joins or aggregates it several times runs the
    * signature build once.
    */
  private def undPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.bandCandidates(Dedup.signatures(spark, dir))
      .select(inline(array(
        struct(col("doc_a"), col("doc_b")),
        struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))))
      .localCheckpoint()

  /** graph_pagerank — [[PrRounds]] rounds of integer PageRank over
    * the UNDIRECTED near-dup candidate graph (the shared MinHash
    * band-collision edges of [[Dedup.bandCandidates]]), ranking the
    * most-connected duplicate hubs — the "which boilerplate family is
    * biggest" signal a cleaning pipeline reports.
    *
    * Scale shape per round: one edge⋈rank equi-join and one dst-keyed
    * sum (map-side combined) — the iterative-join pattern of
    * [[Dedup.connectedComponents]], O(E) per round with
    * `localCheckpoint` lineage truncation, never a driver collect.
    */
  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    // undirected: both directions carry contributions
    val edges = undPairs(spark, dir).toDF("src", "dst")
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val verts = Tables(spark, dir, "documents").select(col("doc_id"))
    var rank = verts.withColumn("r", lit(PrInitU))
    for (_ <- 1 to PrRounds) {
      val contrib = edges
        .join(rank.withColumnRenamed("doc_id", "src"), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("s"))
      rank = verts
        .join(contrib.withColumnRenamed("dst", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          (lit(PrBaseU) + expr(s"($PrDampPct * coalesce(s, 0L)) div 100")).as("r"))
        .localCheckpoint()
    }
    rank.join(deg.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("r").as("rank_u"),
        coalesce(col("deg"), lit(0L)).as("degree"))
      .orderBy("doc_id")
  }

  /** BFS rounds — hop distances beyond this report as unreached. */
  val BfsRounds = 4

  /** graph_bfs — bounded multi-source BFS over the same undirected
    * near-dup candidate graph: hop distance from the benchmark seed
    * set (doc_id ≡ 0 mod 97, the decontamination sentinel ids) for
    * every document within [[BfsRounds]] hops, −1 beyond — the
    * "contamination blast radius" signal: how close each training doc
    * sits to a held-out benchmark doc through near-dup chains (exact
    * decontamination removes hop-1; the radius ranks what hop-2+
    * would remove under a stricter policy).
    *
    * Per round: one edge⋈frontier equi-join + one min aggregation
    * (map-side combined) with `localCheckpoint` truncation — the
    * [[pagerank]] message-passing shape with min instead of sum, and
    * the bounded-round cousin of [[Dedup.connectedComponents]]'
    * fixpoint loop.
    */
  def bfs(spark: SparkSession, dir: String): DataFrame = {
    val edges = undPairs(spark, dir).toDF("src", "dst")
    var dist = Tables(spark, dir, "documents").select(col("doc_id"))
      .filter(col("doc_id") % 97 === 0)
      .withColumn("dist", lit(0L))
      .localCheckpoint()
    for (_ <- 1 to BfsRounds) {
      val nxt = edges
        .join(dist.withColumnRenamed("doc_id", "src"), Seq("src"))
        .select(col("dst").as("doc_id"), (col("dist") + 1L).as("dist"))
      dist = dist.union(nxt)
        .groupBy("doc_id").agg(min(col("dist")).as("dist"))
        .localCheckpoint()
    }
    Tables(spark, dir, "documents").select(col("doc_id"))
      .join(dist, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("dist"), lit(-1L)).as("dist"))
      .orderBy("doc_id")
  }

  /** graph_triangles — per-document triangle membership in the
    * near-dup candidate graph (triangle density separates genuine
    * boilerplate FAMILIES from chance band collisions — a clique of
    * near-dups is triangle-rich, a hub of unrelated collisions is
    * not). The classic scale-safe plan: edges are ORIENTED from
    * lower to higher (degree, id) — every triangle then has exactly
    * one wedge vertex, wedge fan-out is bounded by out-degree ≤
    * O(√E) (the Schank–Wagner orientation bound, vs Θ(max-degree²)
    * unoriented) — one self-join builds wedges, one edge join closes
    * them, one explode counts all three corners. Everything
    * equi-joins; no vertex enumerates its full neighborhood square.
    */
  def triangles(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents").select(col("doc_id"))
      .join(triCore(spark, dir)._1, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .orderBy("doc_id")

  /** The per-vertex triangle-count frame plus the degree table —
    * shared by [[triangles]] and [[clusteringCoeff]].
    */
  private def triCore(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val und = undPairs(spark, dir)
    val deg = und.groupBy(col("doc_a").as("v")).agg(count(lit(1)).as("deg"))
    // orient u -> w iff (deg u, u) < (deg w, w): lexicographic struct
    // comparison — exact at any id magnitude (a packed numeric key
    // would alias distinct endpoints once ids outgrow the pack factor)
    val keyed = und
      .join(deg.select(col("v").as("doc_a"), col("deg").as("da")), Seq("doc_a"))
      .join(deg.select(col("v").as("doc_b"), col("deg").as("db")), Seq("doc_b"))
      .filter(struct(col("da"), col("doc_a")) < struct(col("db"), col("doc_b")))
      .select(col("doc_a").as("u"), col("doc_b").as("w"))
      .localCheckpoint()
    val wedges = keyed.as("e1")
      .join(keyed.as("e2"), col("e1.u") === col("e2.u") && col("e1.w") < col("e2.w"))
      .select(col("e1.u").as("a"), col("e1.w").as("b"), col("e2.w").as("c"))
    // close the wedge: the oriented edge b->c (b < c in oriented order
    // is not guaranteed — check both orientations via the undirected set)
    val tri = wedges.join(keyed.select(col("u").as("b"), col("w").as("c"))
        .union(keyed.select(col("w").as("b"), col("u").as("c"))), Seq("b", "c"))
    val perVertex = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
    (perVertex, deg)
  }

  /** graph_clustering_coeff — local clustering coefficient per doc:
    * cc = 2·Δ / (deg·(deg−1)) as an exact micro-int over the shared
    * triangle/degree frames ([[triCore]]) — the density lens that
    * separates clique-like boilerplate families (cc → 1) from hub
    * chance collisions (cc → 0) doc by doc, where [[kcore]] answers
    * it set-wise. Degree-join under a merge hint (corpus-scaled).
    */
  def clusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    val (pv, deg) = triCore(spark, dir)
    Tables(spark, dir, "documents").select(col("doc_id"))
      .join(pv, Seq("doc_id"), "left")
      .join(deg.withColumnRenamed("v", "doc_id").hint("merge"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_triangles"), lit(0L)).as("tri"),
        coalesce(col("deg"), lit(0L)).as("deg"))
      .withColumn("cc_u",
        when(col("deg") >= 2, expr("(2000000 * tri) div (deg * (deg - 1))"))
          .otherwise(0L))
      .orderBy("doc_id")
  }

  /** Middle-vertex degree cap for [[commonNeighbors]] — wedges are
    * only enumerated through middles with degree ≤ this, bounding the
    * per-vertex fan-out at deg² ≤ CnMidCap² and making the whole pass
    * O(E · CnMidCap) instead of Θ(Σ deg²) (a single boilerplate hub
    * of degree 10⁴ would otherwise emit 10⁸ wedges — and hub middles
    * are exactly the ones that carry no link-prediction signal, the
    * standard reason common-neighbor scoring drops them).
    */
  val CnMidCap = 64L

  /** Resource-allocation micro-units: each shared middle b adds
    * 10⁶ div deg(b) — the Zhou–Lü–Zhang RA index in exact integer
    * arithmetic (Adamic–Adar's 1/log deg would be float and
    * engine-divergent).
    */
  val CnRaU = 1000000L

  /** graph_common_neighbors — link prediction over the k-NN
    * similarity graph ([[Similarity.knnGraph]], undirected): for
    * every NON-adjacent pair (a, c) sharing at least one low-degree
    * middle neighbor, the common-neighbor count and the integer
    * resource-allocation score Σ_b 10⁶ div deg(b) — the "these two
    * vectors are probably near-dups even though no LSH bucket caught
    * them directly" recall booster a semantic-dedup deployment layers
    * over its ANN index. (The MinHash band graph is the wrong base
    * here: band collisions are clique-complete per family, so it has
    * no distance-2 pairs at all — the k-NN graph, capped at
    * [[Similarity.KnnK]] per vertex, is exactly the sparse graph
    * link prediction wants.)
    *
    * Scale shape: one degree aggregation, one capped wedge self-join
    * (middles filtered to deg ≤ [[CnMidCap]] BEFORE the join — the
    * k-NN out-degree cap already bounds deg ≲ 2k, the explicit cap
    * keeps the bound under adversarial in-degree hubs), one groupBy
    * (a, c), one anti-join against the existing edge set. Everything
    * equi-joins; no driver collect.
    */
  def commonNeighbors(spark: SparkSession, dir: String): DataFrame =
    cnCore(spark, dir)._1.orderBy("id_a", "id_b")

  /** The non-adjacent common-neighbor pair frame (id_a, id_b, cn,
    * ra_u) plus the degree table — shared by [[commonNeighbors]] and
    * [[jaccardLinks]].
    */
  private def cnCore(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ke = keFrame(spark, dir)
    val und = ke.union(ke.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .localCheckpoint()
    val deg = und.groupBy(col("id_a").as("v")).agg(count(lit(1)).as("deg"))
    // adjacency oriented OUT of the capped middles: (middle b, spoke)
    val spokes = und
      .join(deg.filter(col("deg") <= CnMidCap).withColumnRenamed("v", "id_a"), Seq("id_a"))
      .select(col("id_a").as("b"), col("id_b").as("spoke"), col("deg"))
    val wedges = spokes.as("s1")
      .join(spokes.as("s2"),
        col("s1.b") === col("s2.b") && col("s1.spoke") < col("s2.spoke"))
      .select(col("s1.spoke").as("id_a"), col("s2.spoke").as("id_b"),
        expr(s"$CnRaU div s1.deg").as("ra"))
    val cn = wedges
      .join(und, Seq("id_a", "id_b"), "left_anti")
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("cn"), sum(col("ra")).as("ra_u"))
    (cn, deg)
  }

  /** Result size for [[jaccardLinks]] — the top edge suggestions. */
  val JlTopK = 100

  /** graph_jaccard_links — Jaccard-coefficient link prediction over
    * the k-NN similarity graph: for every NON-adjacent pair with at
    * least one common neighbor (the shared [[cnCore]] wedge frame),
    * score `|Γa ∩ Γb| / |Γa ∪ Γb|` as an exact micro-int
    * `(10⁶·cn) div (deg_a + deg_b − cn)` and emit the global
    * top-[[JlTopK]] (score desc, pair tiebreak) — the "edges the
    * graph is missing" report that drives ANN-index densification
    * and candidate recall audits. Degree joins carry merge hints:
    * the degree table scales with the corpus, so size-based planning
    * must never broadcast it (r9 sweep rule).
    */
  def jaccardLinks(spark: SparkSession, dir: String): DataFrame = {
    val (cn, deg) = cnCore(spark, dir)
    cn
      .join(deg.select(col("v").as("id_a"), col("deg").as("deg_a")).hint("merge"),
        Seq("id_a"))
      .join(deg.select(col("v").as("id_b"), col("deg").as("deg_b")).hint("merge"),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("cn"), col("deg_a"), col("deg_b"),
        expr("(1000000 * cn) div (deg_a + deg_b - cn)").as("j_u"))
      .orderBy(col("j_u").desc, col("id_a"), col("id_b"))
      .limit(JlTopK)
  }

  /** Core threshold and bounded peel rounds for [[kcore]]. */
  val KcoreK = 3L
  val KcoreRounds = 4

  /** graph_kcore — bounded-round [[KcoreK]]-core peeling of the
    * near-dup candidate graph: each round drops every vertex whose
    * degree WITHIN the surviving subgraph is < k, then recomputes
    * induced degrees ([[KcoreRounds]] rounds, the [[PrRounds]]
    * bounded-iteration pattern so the oracle unrolls exactly). The
    * surviving core is the "dense boilerplate nucleus" — the set a
    * cleaning pipeline samples for template mining, versus the
    * pendant chance-collision fringe the peel removes.
    *
    * Per round: one semi-join of the edge set against the surviving
    * vertices (both sides) + one degree aggregation — O(E) per round
    * with `localCheckpoint` truncation, the induced-subgraph cousin
    * of [[pagerank]]'s message rounds.
    */
  def kcore(spark: SparkSession, dir: String): DataFrame = {
    val und = undPairs(spark, dir)
    var live = und.select(col("doc_a").as("v")).distinct()
    var liveDeg = und.groupBy(col("doc_a").as("v")).agg(count(lit(1)).as("deg"))
    for (_ <- 1 to KcoreRounds) {
      live = liveDeg.filter(col("deg") >= KcoreK).select(col("v")).localCheckpoint()
      val induced = und
        .join(live.withColumnRenamed("v", "doc_a"), Seq("doc_a"), "left_semi")
        .join(live.withColumnRenamed("v", "doc_b"), Seq("doc_b"), "left_semi")
      liveDeg = induced.groupBy(col("doc_a").as("v")).agg(count(lit(1)).as("deg"))
    }
    Tables(spark, dir, "documents").select(col("doc_id"))
      .join(liveDeg.filter(col("deg") >= KcoreK)
          .select(col("v").as("doc_id"), col("deg")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("deg").isNotNull).cast("long").as("in_core"),
        coalesce(col("deg"), lit(0L)).as("core_deg"))
      .orderBy("doc_id")
  }

  /** Synchronous label-propagation rounds for [[labelProp]] —
    * bounded like [[PrRounds]] so the oracle unrolls exactly (LPA
    * oscillates under unbounded synchronous updates anyway; fixed
    * rounds with a deterministic tiebreak is the reproducible form).
    */
  val LpRounds = 4

  /** graph_label_prop — bounded-round SYNCHRONOUS label propagation
    * (Raghavan et al. 2007) over the undirected k-NN similarity
    * graph ([[Similarity.knnGraph]]): every vertex starts as its own
    * label; each round it adopts the label most frequent among its
    * neighbors, ties broken by MIN label (the deterministic variant —
    * the classic random tiebreak is irreproducible across engines).
    * After [[LpRounds]] rounds, vertices sharing a label are a
    * community; output carries the community size — the coarse
    * semantic-community partition a curation pipeline shards or
    * per-community caps by, one level coarser than near-dup clusters.
    *
    * Scale shape per round: one edge⋈label equi-join, one
    * (dst, label) count, one per-dst argmax — all map-side-combinable
    * aggregations on the edge partitioning, O(E) per round with
    * `localCheckpoint` truncation; the argmax is a single
    * max(struct(count, -label)) aggregate, never a window over the
    * whole vote set. Isolated vertices (edge-free in both LSH
    * tables) keep their own label through the left join.
    */
  /** The label-propagation core shared by [[labelProp]] and
    * [[modularity]]: (canonical k-NN edge set, per-node labels after
    * [[LpRounds]] rounds) — ke is checkpointed once, labels ride it.
    */
  /** The canonical k-NN edge frame (id_a < id_b) the graph family
    * shares, derived from [[Similarity.knnGraph]] on every call.
    */
  private[graft] def keFrame(spark: SparkSession, dir: String): DataFrame =
    Similarity.knnGraph(spark, dir)
      .select(least(col("vec_id"), col("nbr_id")).as("id_a"),
        greatest(col("vec_id"), col("nbr_id")).as("id_b"))
      .distinct()
      // eager: consumers join ke with itself and with frames derived
      // from it, and a lazy pin that a broadcast job materializes while
      // another stage over the same RDD is submitted can deadlock the
      // driver (RDDCheckpointData vs DAGScheduler.getCacheLocs locks)
      .localCheckpoint()

  private[ops] def lpCore(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ke = keFrame(spark, dir)
    // und is a cheap projection of the checkpointed edge frame — a
    // second checkpoint would just re-materialize the same bytes
    val und = ke.union(ke.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    var lab = Tables(spark, dir, "embeddings")
      .select(col("vec_id").as("v")).withColumn("lab", col("v"))
    for (_ <- 1 to LpRounds) {
      val picked = und
        .join(lab.select(col("v").as("id_a"), col("lab")), Seq("id_a"))
        .groupBy(col("id_b").as("v"), col("lab"))
        .agg(count(lit(1)).as("c"))
        .groupBy("v")
        .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
        .select(col("v"), (-col("m.nl")).as("plab"))
      lab = lab.join(picked, Seq("v"), "left")
        .select(col("v"), coalesce(col("plab"), col("lab")).as("lab"))
        .localCheckpoint()
    }
    (ke, lab)
  }

  def labelProp(spark: SparkSession, dir: String): DataFrame = {
    val (_, lab) = lpCore(spark, dir)
    val sizes = lab.groupBy("lab").agg(count(lit(1)).as("comm_size"))
    lab.join(sizes, Seq("lab"))
      .select(col("v").as("vec_id"), col("lab").as("label"), col("comm_size"))
      .orderBy("vec_id")
  }

  /** graph_modularity — the Newman–Girvan quality of the label-prop
    * partition, in EXACT integer arithmetic: per community c the row
    * carries internal-edge count L_c, degree mass d_c, node count,
    * and the contribution NUMERATOR 4m·L_c − d_c² over the implicit
    * shared denominator 4m² — Q = Σ num_c ∕ 4m², but no division is
    * ever performed, so there is no float (or negative-floor) seam
    * between engines. The audit behind "did the clustering find real
    * structure": Σ num_c ≫ 0 means the partition beats the random
    * null model.
    *
    * Scale shape: rides the SAME checkpointed edge frame as
    * label_prop (one k-NN graph build, not two); L_c is one
    * both-endpoint label join over edges, d_c one degree aggregation
    * — all map-side-combined, output bounded by community count.
    */
  def modularity(spark: SparkSession, dir: String): DataFrame = {
    val (ke, lab) = lpCore(spark, dir)
    val m = ke.agg(count(lit(1)).as("m"))
    val la = lab.select(col("v").as("id_a"), col("lab").as("lab_a"))
    val lb = lab.select(col("v").as("id_b"), col("lab").as("lab_b"))
    val lin = ke.join(la, Seq("id_a")).join(lb, Seq("id_b"))
      .filter(col("lab_a") === col("lab_b"))
      .groupBy(col("lab_a").as("lab"))
      .agg(count(lit(1)).as("l_in"))
    val und = ke.union(ke.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    val deg = und.groupBy(col("id_a").as("v")).agg(count(lit(1)).as("deg"))
    val dsum = lab.join(deg, Seq("v"), "left")
      .groupBy("lab")
      .agg(count(lit(1)).as("n_nodes"),
        sum(coalesce(col("deg"), lit(0L))).as("d_sum"))
    dsum.join(lin, Seq("lab"), "left")
      .crossJoin(broadcast(m))
      .select(col("lab").as("label"), col("n_nodes"),
        coalesce(col("l_in"), lit(0L)).as("l_in"), col("d_sum"),
        (lit(4L) * col("m") * coalesce(col("l_in"), lit(0L)) -
          col("d_sum") * col("d_sum")).as("num_c"))
      .orderBy("label")
  }

  /** Synchronous-move rounds for [[louvain]]. */
  val LvRounds = 3

  /** graph_louvain — MODULARITY-OPTIMIZING community detection (the
    * Louvain local-move phase, Blondel et al. 2008), the classic the
    * graph family measured ([[modularity]]) but never optimized:
    * every node starts as its own community and, per round, moves to
    * the NEIGHBOR community with the best modularity gain. Moves are
    * SYNCHRONOUS (all nodes evaluate against the same current
    * assignment and move together — the parallel-Louvain variant,
    * since sequential Louvain's answer depends on visit order, which
    * no distributed engine can promise), [[LvRounds]] rounds, and
    * every gain comparison is EXACT integer arithmetic: candidate C
    * scores 4m·e_{i,C} − 2·deg_i·Σtot'(C) over the shared 4m²
    * denominator (Σtot'(C) excludes i's own degree when C is i's
    * community — the standard remove-first rule), ties to the
    * smaller community id. No division, no float — both engines
    * agree bit-for-bit.
    *
    * Scale shape: rides the SAME checkpointed k-NN edge frame as
    * label_prop/modularity (one graph build); per round the
    * neighbor-community frame is |und| rows, candidate scores ≤
    * n·(k+1) rows, and Σtot is one community-keyed aggregation — all
    * map-side-combined; rounds lineage-truncated. Output is the
    * final assignment with community sizes.
    */
  /** Phase-1 core shared by [[louvain]], [[louvain2]] and
    * [[conductance]]: the edge frame, degree table, edge count, and
    * the assignment after [[LvRounds]] synchronous local-move rounds
    * — one k-NN graph build per call.
    */
  private[ops] def lvCore(spark: SparkSession,
      dir: String): (DataFrame, DataFrame, Long, DataFrame) = {
    val (ke, deg, m, asn, _) = lvCoreN(spark, dir, LvRounds, earlyExit = false)
    (ke, deg, m, asn)
  }

  /** The local-move loop itself, parametrized: up to `maxRounds`
    * synchronous rounds; with `earlyExit` the loop stops at
    * CONVERGENCE — either the assignment FIXPOINT (a_t = a_{t-1}: a
    * round that moved nobody, the real Louvain phase-1 termination
    * rule) or the synchronous variant's known failure mode, a
    * PERIOD-2 OSCILLATION (a_t = a_{t-2}: two cliques of vertices
    * swapping communities forever — synchronous label updates are
    * bipartite-unstable, so on real graphs this, not the fixpoint, is
    * what usually ends the loop). Returns the rounds consumed as the
    * 5th element: the first t satisfying either test, or `maxRounds`.
    *
    * Both exits stay EXACTLY equal to a full `maxRounds` unroll —
    * which is what lets a fixed-depth SQL oracle verify a convergence
    * loop: a fixpoint is idempotent (the move rule is a pure function
    * of the previous assignment), and a detected 2-cycle makes the
    * tail periodic, so the unroll's a_max is whichever of
    * (a_t, a_{t-1}) has maxRounds' parity — one branch, zero extra
    * rounds. Each test is one `limit(1).count()` over a self-join of
    * two n-row checkpointed frames — O(n) per round, negligible
    * against the round itself.
    */
  private[ops] def lvCoreN(spark: SparkSession, dir: String, maxRounds: Int,
      earlyExit: Boolean): (DataFrame, DataFrame, Long, DataFrame, Long) = {
    // ke only — going through lpCore would eagerly pay the
    // label-propagation rounds this family never reads
    val ke = keFrame(spark, dir)
    val und = ke.union(ke.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    val m = ke.count()
    val deg = und.groupBy(col("id_a").as("v")).agg(count(lit(1)).as("deg"))
    // the assignment frame CARRIES the static per-vertex degree (dv,
    // isolated-vertex 0 baked in once): Σtot and the gain scoring both
    // need deg-by-v every round, and re-joining the degree table per
    // round cost two extra exchanges per round (5 joins/round → 3)
    // eager checkpoints: each round joins asn on several sides, and a
    // lazy pin materialized by one of those broadcasts can deadlock
    // the driver (see keFrame); with earlyExit the convergence probe,
    // which reads `next` once, materializes each round instead
    var asn = Tables(spark, dir, "embeddings")
      .select(col("vec_id").as("v"))
      .join(deg, Seq("v"), "left")
      .select(col("v"), col("v").as("comm"),
        coalesce(col("deg"), lit(0L)).as("dv"))
      .localCheckpoint()
    var prev: DataFrame = null // a_{t-2} once t ≥ 2
    var t = 0
    var nRounds = maxRounds.toLong
    var converged = false
    while (t < maxRounds && !converged) {
      t += 1
      val nbrComm = und
        .join(asn.select(col("v").as("id_a"), col("comm")), Seq("id_a"))
        .groupBy(col("id_b").as("v"), col("comm"))
        .agg(count(lit(1)).as("e"))
      // own community enters with its true e when a neighbor shares
      // it (max folds the 0-baseline away), else e = 0
      val cand = nbrComm
        .unionByName(asn.select(col("v"), col("comm"), lit(0L).as("e")))
        .groupBy("v", "comm").agg(max("e").as("e"))
      val stot = asn.groupBy("comm").agg(sum(col("dv")).as("stot"))
      val scored = cand
        .join(asn.select(col("v"), col("comm").as("mycomm"), col("dv")), Seq("v"))
        .join(stot, Seq("comm"))
        .select(col("v"), col("comm"), col("dv"),
          (lit(4L * m) * col("e") - lit(2L) * col("dv") *
            (col("stot") - when(col("comm") === col("mycomm"), col("dv"))
              .otherwise(0L))).as("score"))
      val next = scored
        .groupBy("v")
        .agg(max(struct(col("score"), (-col("comm")).as("nc"))).as("m"),
          max(col("dv")).as("dv")) // dv is constant per v — carried, not joined
        .select(col("v"), (-col("m.nc")).as("comm"), col("dv"))
        .localCheckpoint(eager = !earlyExit)
      if (earlyExit) {
        // ONE action tests both exits: the mismatch counts vs a_{t-1}
        // and a_{t-2} come from a single three-way join aggregation
        // (was two separate limit-probe jobs per round)
        val pv = if (prev != null) prev else asn
        val probe = next
          .join(asn.select(col("v"), col("comm").as("p1")), Seq("v"))
          .join(pv.select(col("v"), col("comm").as("p2")), Seq("v"))
          // coalesce: sum over an EMPTY vertex frame is null — the old
          // limit(1).count() probe converged gracefully on an empty
          // graph, this must too (0 mismatches = converged)
          .agg(coalesce(sum((col("comm") =!= col("p1")).cast("long")), lit(0L))
              .as("d1"),
            coalesce(sum((col("comm") =!= col("p2")).cast("long")), lit(0L))
              .as("d2"))
          .head()
        if (probe.getLong(0) == 0L) {
          // fixpoint: every later round is a no-op — a_max = a_t
          converged = true; nRounds = t.toLong; asn = next
        } else if (prev != null && probe.getLong(1) == 0L) {
          // 2-cycle: the tail alternates a_{t-1}, a_t, a_{t-1}, … —
          // a_max is whichever frame shares maxRounds' parity
          converged = true; nRounds = t.toLong
          if ((maxRounds - t) % 2 == 0) asn = next // else keep a_{t-1}
        }
      }
      if (!converged) { prev = asn; asn = next }
    }
    (ke, deg, m, asn.select(col("v"), col("comm")), nRounds)
  }

  /** graph_conductance — community QUALITY EVALUATION over the final
    * [[louvain]] assignment (the report a clustering pipeline ships
    * with its partition: modularity says how good the whole split is;
    * conductance says which individual communities are well-separated
    * and which leak): per community, node count, internal edge count,
    * cut edge count, volume (Σ degree), and the conductance
    * cut/min(vol, 2m−vol) pinned to ⌊·10⁶⌋ by pure integer division.
    * Singleton-degree-0 communities emit −1 (undefined, not a crash).
    *
    * Scale shape: two assignment joins over the checkpointed edge
    * frame classify every edge internal/cut in one pass; the rest is
    * one community-keyed aggregation — map-side combinable, bounded
    * by the community count. Rides the SAME phase-1 chain as the
    * louvain rows (shared oracle CTEs — assignment and evaluation
    * cannot drift).
    */
  def conductance(spark: SparkSession, dir: String): DataFrame = {
    val (ke, deg, m, asn) = lvCore(spark, dir)
    val edges = ke
      .join(asn.select(col("v").as("id_a"), col("comm").as("ca")), Seq("id_a"))
      .join(asn.select(col("v").as("id_b"), col("comm").as("cb")), Seq("id_b"))
    val internal = edges.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("comm")).agg(count(lit(1)).as("n_internal"))
    val cut = edges.filter(col("ca") =!= col("cb"))
      .select(col("ca").as("comm"))
      .union(edges.filter(col("ca") =!= col("cb")).select(col("cb").as("comm")))
      .groupBy("comm").agg(count(lit(1)).as("n_cut"))
    val vol = asn.join(deg, Seq("v"), "left")
      .groupBy("comm")
      .agg(count(lit(1)).as("n_nodes"),
        sum(coalesce(col("deg"), lit(0L))).as("vol"))
    vol
      .join(internal, Seq("comm"), "left")
      .join(cut, Seq("comm"), "left")
      .select(col("comm"), col("n_nodes"),
        coalesce(col("n_internal"), lit(0L)).as("n_internal"),
        coalesce(col("n_cut"), lit(0L)).as("n_cut"),
        col("vol"))
      .withColumn("cond_u",
        when(least(col("vol"), lit(2L * m) - col("vol")) > 0,
          expr(s"(1000000L * n_cut) div least(vol, ${2 * m}L - vol)"))
          .otherwise(lit(-1L)))
      .orderBy("comm")
  }

  def louvain(spark: SparkSession, dir: String): DataFrame = {
    val (_, _, _, asn) = lvCore(spark, dir)
    val sizes = asn.groupBy("comm").agg(count(lit(1)).as("comm_size"))
    asn.join(sizes, Seq("comm"))
      .select(col("v").as("vec_id"), col("comm"), col("comm_size"))
      .orderBy("vec_id")
  }

  /** Round cap for [[louvainConv]] — the bound that keeps the
    * unrolled oracle finite; the loop normally exits earlier at a
    * stability point (measured: the 2-cycle arrives at round 14 on
    * the sf0.001 corpus, round 9 at sf0.01 — the cap must sit above
    * the settling round for the early exit to demonstrate itself).
    */
  val LvConvMax = 16

  /** Truss order and peel-round cap for [[ktruss]]. */
  val TrussK = 4
  val TrussMax = 8

  /** graph_ktruss — k-TRUSS decomposition, the EDGE analog of k-core
    * (Cohen 2008) and the standard "cohesive subgraph" upgrade: an
    * edge survives iff it participates in ≥ k−2 triangles WITHIN the
    * surviving subgraph, peeled to fixpoint. Where k-core keeps
    * well-connected VERTICES (a star hub passes), the truss demands
    * the connections reinforce each other — a hub with no
    * triangle-closing neighbors peels away — which is why community
    * cores are trussed, not cored. Peeling is monotone (edges only
    * leave), so the fixpoint is guaranteed and EARLY EXIT equals the
    * fixed-depth unroll (the louvainConv trick, simpler: no
    * oscillation is possible); `n_rounds` — the first round that
    * removed nothing, or the cap — is hash-verified via the oracle's
    * per-round edge counts. Output: the surviving edges with their
    * final-graph triangle support.
    *
    * Scale shape: per round ONE wedge join (edges ⋈ adjacency on the
    * shared endpoint, then the closing-edge probe — O(Σ_e deg), the
    * triangle-enumeration bound, never all-pairs) + one count; rounds
    * lineage-truncated; the monotone shrink means later rounds cost
    * less, and the convergence exit stops paying at stability.
    */
  def ktruss(spark: SparkSession, dir: String): DataFrame = {
    val ke0 = keFrame(spark, dir)
    def support(edges: DataFrame): DataFrame = {
      val und = edges.select(col("id_a").as("a"), col("id_b").as("b"))
        .union(edges.select(col("id_b").as("a"), col("id_a").as("b")))
      edges
        .join(und.select(col("a").as("id_a"), col("b").as("w")), Seq("id_a"))
        .join(und.select(col("a").as("id_b"), col("b").as("w")),
          Seq("id_b", "w"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("sup"))
    }
    var e = ke0.select("id_a", "id_b")
    var prevN = e.count()
    var t = 0
    var nRounds = TrussMax.toLong
    var converged = false
    while (t < TrussMax && !converged) {
      t += 1
      val next = e.join(support(e), Seq("id_a", "id_b"), "left")
        .filter(coalesce(col("sup"), lit(0L)) >= TrussK - 2)
        .select("id_a", "id_b")
        // lazy: the count below materializes the checkpoint in one job
        .localCheckpoint(eager = false)
      val n = next.count()
      // monotone peel: equal count ⟺ equal set ⟺ fixpoint
      if (n == prevN) { converged = true; nRounds = t.toLong }
      prevN = n
      e = next
    }
    e.join(support(e), Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"),
        coalesce(col("sup"), lit(0L)).as("sup"))
      .withColumn("n_rounds", lit(nRounds))
      .orderBy("id_a", "id_b")
  }

  /** graph_louvain_conv — the local-move phase run TO CONVERGENCE
    * (the published algorithm's actual phase-1 termination: iterate
    * until no vertex improves its community), capped at [[LvConvMax]]
    * rounds. Convergence here is the synchronous variant's full
    * stability test: fixpoint (a_t = a_{t-1}) OR period-2 oscillation
    * (a_t = a_{t-2} — synchronous moves are bipartite-unstable, so on
    * real graphs the 2-cycle, not the fixpoint, is the usual
    * terminator; this corpus oscillates from round 9 at sf0.01). The
    * emitted
    * `n_rounds` column is the first round passing either test (or the
    * cap) — and the ORACLE computes the same number from its unrolled
    * chain's per-round move/oscillation counts, so the convergence
    * behavior itself is hash-verified, not just the final assignment.
    *
    * Scale shape: identical per-round frames to [[louvain]]; the two
    * stability probes add O(n) narrow self-joins per round. The early
    * exit is pure savings at scale — a converged 100 TB graph stops
    * paying for rounds the fixed-depth variant would still run.
    */
  def louvainConv(spark: SparkSession, dir: String): DataFrame = {
    val (_, _, _, asn, nRounds) =
      lvCoreN(spark, dir, LvConvMax, earlyExit = true)
    val sizes = asn.groupBy("comm").agg(count(lit(1)).as("comm_size"))
    asn.join(sizes, Seq("comm"))
      .select(col("v").as("vec_id"), col("comm"), col("comm_size"))
      .withColumn("n_rounds", lit(nRounds))
      .orderBy("vec_id")
  }

  /** Weighted-move rounds on the contracted graph for [[louvain2]]. */
  val LvRounds2 = 2

  /** graph_louvain2 — the FULL MULTI-LEVEL Louvain loop ([[louvain]]
    * is the local-move phase; the published method's power comes from
    * what follows): CONTRACT each phase-1 community into a super-node
    * — inter-community edge weights are the edge counts they absorb,
    * and a super-node's weighted degree Σ_v∈C deg(v) carries the
    * intra-community mass as self-loop weight implicitly — then run
    * [[LvRounds2]] synchronous WEIGHTED local-move rounds on the
    * contracted graph (gain numerators 4m·w(S,C) − 2·K_S·Σtot'(C),
    * same exact-integer rule with weights in place of counts; m, the
    * total original edge weight, is unchanged by contraction), and
    * project the coarse assignment back to vertices. This is how
    * Louvain escapes the local optimum the move phase plateaus at:
    * whole communities relocate at once, which no single-vertex move
    * can express.
    *
    * Scale shape: the contracted graph is |communities| nodes —
    * typically 1-2 orders smaller — so the phase-2 frames are tiny;
    * contraction itself is two assignment joins over the checkpointed
    * edge frame + one weighted aggregation. Everything stays
    * map-side-combined exact integers; ties to the smaller super-node
    * id, bit-identical in the unrolled oracle.
    */
  def louvain2(spark: SparkSession, dir: String): DataFrame = {
    val (ke, deg, m, asn) = lvCore(spark, dir)
    // contraction: per-edge community pair → weighted undirected edges
    // checkpointed: the undirected union below references ce twice,
    // and each lazy reference would re-run BOTH assignment joins —
    // the frame is ≤|E| narrow rows, the checkpoint is free
    val ce = ke
      .join(asn.select(col("v").as("id_a"), col("comm").as("ca")), Seq("id_a"))
      .join(asn.select(col("v").as("id_b"), col("comm").as("cb")), Seq("id_b"))
      .select(col("ca"), col("cb"))
      .filter(col("ca") =!= col("cb"))
      .localCheckpoint()
    val wund = ce.select(col("ca").as("s"), col("cb").as("d"))
      .union(ce.select(col("cb").as("s"), col("ca").as("d")))
      .groupBy("s", "d").agg(count(lit(1)).as("w"))
      .localCheckpoint()
    // weighted super-node degree = Σ member degrees (carries the
    // intra-community self-loop mass; Σ K = 2m is conserved)
    val kw = asn.join(deg, Seq("v"), "left")
      .groupBy(col("comm").as("s"))
      .agg(sum(coalesce(col("deg"), lit(0L))).as("kw"))
      .localCheckpoint()
    var asn2 = kw.select(col("s").as("v2")).withColumn("comm2", col("v2"))
      .localCheckpoint()
    for (_ <- 1 to LvRounds2) {
      val nbrComm = wund
        .join(asn2.select(col("v2").as("d"), col("comm2")), Seq("d"))
        .groupBy(col("s").as("v2"), col("comm2"))
        .agg(sum("w").as("e"))
      val cand = nbrComm
        .unionByName(asn2.select(col("v2"), col("comm2"), lit(0L).as("e")))
        .groupBy("v2", "comm2").agg(max("e").as("e"))
      val stot = asn2.join(kw.select(col("s").as("v2"), col("kw")), Seq("v2"))
        .groupBy("comm2").agg(sum("kw").as("stot"))
      val scored = cand
        .join(asn2.select(col("v2"), col("comm2").as("mycomm")), Seq("v2"))
        .join(kw.select(col("s").as("v2"), col("kw")), Seq("v2"))
        .join(stot, Seq("comm2"))
        .select(col("v2"), col("comm2"),
          (lit(4L * m) * col("e") - lit(2L) * col("kw") *
            (col("stot") - when(col("comm2") === col("mycomm"), col("kw"))
              .otherwise(0L))).as("score"))
      asn2 = scored
        .groupBy("v2")
        .agg(max(struct(col("score"), (-col("comm2")).as("nc"))).as("m"))
        .select(col("v2"), (-col("m.nc")).as("comm2"))
        .localCheckpoint()
    }
    // project the coarse assignment back to vertices
    val proj = asn.join(asn2.select(col("v2").as("comm"), col("comm2")), Seq("comm"))
      .select(col("v").as("vec_id"), col("comm2").as("comm"))
    val sizes = proj.groupBy("comm").agg(count(lit(1)).as("comm_size"))
    proj.join(sizes, Seq("comm"))
      .select(col("vec_id"), col("comm"), col("comm_size"))
      .orderBy("vec_id")
  }

  /** graph_ppr — PERSONALIZED PageRank: the teleport mass returns to
    * a SEED set (the three smallest node ids in the near-dup graph —
    * deterministic), not uniformly to every vertex, so the converged
    * score is proximity TO THE SEEDS — the "related items for THIS
    * document" recsys primitive global PageRank cannot express. Same
    * exact-integer recurrence as [[pagerank]] (seed·base + damp·Σ
    * contributions, every step integer division), same unrolled
    * closed-form oracle; output restricted to reached vertices
    * (ppr_u > 0 — the ≤[[PrRounds]]-hop seed neighborhood), which is
    * what bounds the result at any corpus size.
    *
    * Scale shape per round: identical to [[pagerank]] — one edge⋈rank
    * equi-join + one dst-keyed map-side-combined sum, lineage
    * truncated per round; the seed frame is O(1).
    */
  def ppr(spark: SparkSession, dir: String): DataFrame = {
    val edges = undPairs(spark, dir).toDF("src", "dst")
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val seeds = edges.select(col("src").as("doc_id")).distinct()
      .orderBy("doc_id").limit(3)
      .withColumn("seed", lit(1L)).localCheckpoint()
    val verts = Tables(spark, dir, "documents").select(col("doc_id"))
      .join(seeds, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("seed"), lit(0L)).as("seed"))
    var rank = verts.withColumn("r", col("seed") * PrInitU)
    for (_ <- 1 to PrRounds) {
      val contrib = edges
        .join(rank.select(col("doc_id").as("src"), col("r")), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("s"))
      rank = verts
        .join(contrib.withColumnRenamed("dst", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("seed"),
          (col("seed") * PrBaseU +
            expr(s"($PrDampPct * coalesce(s, 0L)) div 100")).as("r"))
        .localCheckpoint()
    }
    rank.filter(col("r") > 0L)
      .select(col("doc_id"), col("r").as("ppr_u"))
      .orderBy("doc_id")
  }

  /** The bounded directed TRADE-FLOW graph: supplier-nation →
    * customer-nation edges whose lineitem flow count is strictly
    * above the median flow. The contraction (the multi-join +
    * nation-pair aggregate over lineitem) is the 100 TB work — both
    * dims broadcast, the count map-side combined onto a ≤ 25×25
    * domain; the median is exact arithmetic on that bounded frame.
    */
  private[ops] def tradeEdges(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem").select("l_orderkey", "l_suppkey")
    val o = Tables(spark, dir, "orders").select("o_orderkey", "o_custkey")
    val c = Tables(spark, dir, "customer").select("c_custkey", "c_nationkey")
    val s = Tables(spark, dir, "supplier").select("s_suppkey", "s_nationkey")
    val e0 = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .filter(col("s_nationkey") =!= col("c_nationkey"))
      .groupBy(col("s_nationkey").cast("long").as("src"),
        col("c_nationkey").cast("long").as("dst"))
      .agg(count(lit(1)).as("cnt"))
      // ≤ 25×25 rows, but referenced twice (the median collect below
      // AND the returned filter): without the checkpoint the lineitem
      // contraction — the whole 100 TB cost of this op — executed twice
      .localCheckpoint()
    val cnts = e0.select("cnt").collect().map(_.getLong(0)).sorted
    val m = cnts((cnts.length - 1) / 2) // exact lower median
    e0.filter(col("cnt") > m).select("src", "dst")
  }

  /** Distributed SCC by COLORING (the parallel FW-BW/ColorSCC
    * algorithm): per outer round, (1) forward min-label propagation
    * to fixpoint — f(u) = min over {u} ∪ ancestors within the
    * remaining graph; every color's pivot is the color value itself
    * (f(c) = c by minimality); (2) backward reachability of each
    * pivot WITHIN its color class — safe because any node on a
    * u→…→c path with u ∈ SCC(c) is itself in SCC(c) and therefore
    * carries color c; (3) settle all classes' SCCs at once and peel.
    * Every step is one edge join + one vertex aggregate with
    * `localCheckpoint` lineage truncation — the
    * [[Dedup.connectedComponents]] shape, directed.
    */
  private[ops] def sccOf(spark: SparkSession, edges0: DataFrame): DataFrame = {
    // lazy checkpoints throughout: every loop step is immediately
    // followed by a count action, which materializes the frame — the
    // eager variant paid a second job per step for nothing
    val edges = edges0.filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(eager = false)
    var remaining = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
      .localCheckpoint(eager = false)
    val settledParts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    while (remaining.count() > 0) {
      val re = edges
        .join(remaining.withColumnRenamed("node", "src"), Seq("src"))
        .join(remaining.withColumnRenamed("node", "dst"), Seq("dst"))
        .select("src", "dst").localCheckpoint(eager = false)
      // forward min-label propagation to fixpoint — the changed flag
      // rides the propagation frame itself, so the fixpoint test is a
      // sum over the frame the round materializes anyway (the old
      // variant re-joined f2 against f: one extra exchange per round)
      var f = remaining.withColumn("f", col("node"))
        .localCheckpoint(eager = false)
      var changed = 1L
      while (changed > 0) {
        val inc = re
          .join(f.select(col("node").as("src"), col("f").as("fs")), Seq("src"))
          .groupBy(col("dst").as("node")).agg(min("fs").as("fin"))
        val f2 = f.join(inc, Seq("node"), "left")
          .select(col("node"),
            least(col("f"), coalesce(col("fin"), col("f"))).as("f"),
            (coalesce(col("fin"), col("f")) < col("f")).cast("long").as("chg"))
          .localCheckpoint(eager = false)
        changed = f2.agg(sum(col("chg"))).head().getLong(0)
        f = f2.select("node", "f")
      }
      // backward reachability of pivots within their color class; the
      // frame sizes are tracked across rounds so growth needs ONE
      // count action per round, not two
      var r = f.filter(col("f") === col("node")).select("node")
        .localCheckpoint(eager = false)
      var rN = r.count()
      var grew = 1L
      while (grew > 0) {
        val cand = re
          .join(f.select(col("node").as("src"), col("f").as("fu")), Seq("src"))
          .join(f.select(col("node").as("dst"), col("f").as("fw")), Seq("dst"))
          .filter(col("fu") === col("fw"))
          .join(r.withColumnRenamed("node", "dst"), Seq("dst"))
          .select(col("src").as("node")).distinct()
        val r2 = r.union(cand).distinct().localCheckpoint(eager = false)
        val r2N = r2.count()
        grew = r2N - rN
        rN = r2N
        r = r2
      }
      val settled = f.join(r, Seq("node"))
        .select(col("node"), col("f").as("scc_id"))
        .localCheckpoint(eager = false)
      settledParts += settled
      remaining = remaining
        .join(settled.select("node"), Seq("node"), "left_anti")
        .localCheckpoint(eager = false)
    }
    val scc = settledParts.reduce(_ unionByName _)
    val sizes = scc.groupBy("scc_id").agg(count(lit(1)).as("scc_size"))
    scc.join(sizes, Seq("scc_id")).select("node", "scc_id", "scc_size")
      .orderBy("node")
  }

  /** graph_scc — STRONGLY connected components of the directed
    * trade-flow graph: which nations form mutually-trading blocs once
    * only above-median flows count. The one classic graph primitive
    * the (undirected) CC/label-prop family cannot express: direction
    * matters — A shipping heavily to B does not mean B ships back.
    * SCC id = min member nation; the DuckDB oracle restates the whole
    * thing from first principles (recursive-CTE transitive closure +
    * mutual-reachability minima), so a wrong peel, a color leak, or a
    * missed back-edge all hash-mismatch.
    */
  def scc(spark: SparkSession, dir: String): DataFrame = {
    val out = sccOf(spark, tradeEdges(spark, dir))
    val rows = out.collect().toIndexedSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), out.schema)
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_scc" -> (scc _),
    "graph_ppr" -> (ppr _),
    "graph_louvain" -> (louvain _),
    "graph_louvain2" -> (louvain2 _),
    "graph_louvain_conv" -> (louvainConv _),
    "graph_ktruss" -> (ktruss _),
    "graph_conductance" -> (conductance _),
    "graph_pagerank" -> (pagerank _),
    "graph_bfs" -> (bfs _),
    "graph_triangles" -> (triangles _),
    "graph_common_neighbors" -> (commonNeighbors _),
    "graph_kcore" -> (kcore _),
    "graph_label_prop" -> (labelProp _),
    "graph_modularity" -> (modularity _),
    "graph_jaccard_links" -> (jaccardLinks _),
    "graph_clustering_coeff" -> (clusteringCoeff _)
  )
}
