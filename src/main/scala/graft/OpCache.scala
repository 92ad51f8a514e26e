package graft

/** Central switch + cleanup for the JVM-lifetime persisted-artifact
  * caches (the `ConcurrentHashMap[(corpus dir) → tmpfs parquet path]`
  * pattern in Dedup / Similarity / Graph / Multimodal).
  *
  * The caches exist because many declared operators share pure
  * deterministic intermediate artifacts (MinHash signatures, the
  * verified pair graph, trained index structures). Memoizing them is
  * fine for correctness — every artifact is a pure function of the
  * corpus and the persisted copy is bit-identical to an inline
  * recompute — but it breaks the BENCH contract: a benched query's
  * reported time must include its declared computation, not a warm
  * tmpfs read of a result another query (or an earlier run) built.
  *
  * So `graft.Bench` calls [[disable]] before timing anything (and any
  * main honors `SPARK_GRAFT_NO_CACHE=1`): with caching disabled every
  * [[getOrBuild]] call re-runs its build closure — the identical
  * write + read-back path, so outputs stay bit-identical — and nothing
  * is memoized across queries or runs. Verify / tests keep the caches
  * on (correctness is unaffected either way, and the build/serve specs
  * pin the memoization contract there).
  *
  * One exemption: caches whose SERVE consumers declare index serving
  * as their semantics, with the BUILD separately declared and benched
  * (the r12-sanctioned build/serve split — e.g. [[ops.Similarity]]'s
  * graph index, built by the benched sim_nndescent and served by
  * sim_graph_topk*, spec-pinned to never rebuild). Those call
  * [[getOrBuildPinned]] and stay memoized even under the bench.
  *
  * Cleanup: every artifact root allocated through [[buildArtifact]]
  * is a [[Scratch.keep]] directory, deleted by the one scratch
  * shutdown hook, so repeated benchmark JVMs never accumulate
  * RAM-backed parquet under [[Scratch.root]]; a build that fails
  * midway removes its partial directory before rethrowing.
  */
object OpCache {

  @volatile private var cachingDisabled: Boolean =
    sys.env.get("SPARK_GRAFT_NO_CACHE").exists(v =>
      v == "1" || v.equalsIgnoreCase("true"))

  /** Benchmarks call this before timing: every subsequent
    * [[getOrBuild]] re-runs its build instead of serving a memo.
    */
  def disable(): Unit = cachingDisabled = true

  def isDisabled: Boolean = cachingDisabled

  /** Test hook: flip the switch and restore it (production code only
    * ever disables, permanently, at bench startup).
    */
  private[graft] def setDisabledForTest(v: Boolean): Unit = cachingDisabled = v

  /** Allocate a root that lives until JVM shutdown, run the build
    * against it, rm the partial dir on failure. Returns the root.
    */
  def buildArtifact(prefix: String)(write: String => Unit): String = {
    val root = Scratch.keep(prefix)
    try { write(root); root }
    catch {
      case e: Throwable =>
        Scratch.rm(root)
        throw e
    }
  }

  /** Memoize `build` per key when caching is enabled; ALWAYS rebuild
    * when disabled (bench mode). The build closure is identical either
    * way, so results are bit-identical in both modes.
    */
  def getOrBuild[V](cache: java.util.concurrent.ConcurrentHashMap[String, V],
      key: String)(build: => V): V =
    if (cachingDisabled) build
    else cache.computeIfAbsent(key, _ => build)

  /** Memoize even under the bench — only for declared build/serve
    * splits where the build is its own benched operator and the serve
    * ops' docstrings (and a spec) pin "serve never rebuilds".
    */
  def getOrBuildPinned[V](
      cache: java.util.concurrent.ConcurrentHashMap[String, V],
      key: String)(build: => V): V =
    cache.computeIfAbsent(key, _ => build)
}
