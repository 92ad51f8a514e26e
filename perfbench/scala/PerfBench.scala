package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.octree.{OctreePipeline, PerfbenchCodecs}
import graft.sources.IngestDispatch

/** The benchmark's JVM side: one session, one workload, a timed loop of
  * identical passes, and the checks on every output. `perfbench/run.py`
  * builds and launches it, generates the table inputs, runs the DuckDB
  * oracle compare and prints the result line.
  *
  * Usage: PerfBench --workload W --seed N --seconds S --trace 0|1
  *   --root DIR [--tables DIR] --out FILE --cores N [--plant-failure]
  */
object PerfBench {

  final case class Conf(workload: String, seed: Long, seconds: Double,
      trace: Boolean, root: String, tables: String, out: String, cores: Int,
      plantFailure: Boolean)

  def parse(args: Array[String]): Conf = {
    val kv = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    Conf(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--root"), kv.getOrElse("--tables", ""),
      need("--out"), need("--cores").toInt, args.contains("--plant-failure"))
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val conf = parse(args)
    Memory.start()
    val t0 = System.nanoTime()
    val spark = graft.GraftSession("perfbench", conf.cores)
    // timed passes must recompute every artifact from the inputs
    graft.OpCache.disable()
    val sessionS = secs(t0)
    val run = new Run(spark, conf)
    val wl: Workload = conf.workload match {
      case "octree" => new Octree(run)
      case "queries" => new Queries(run)
      case other => sys.error(s"unknown workload $other")
    }
    try run.execute(wl)
    catch {
      case e: Throwable =>
        run.failed += 1
        run.failures += s"benchmark: $e"
        e.printStackTrace()
    }
    finally {
      Files.writeString(Paths.get(conf.out), run.resultJson(wl, mainMs, sessionS))
      spark.stop()
    }
  }
}

/** Op accounting, checks, timing and tracing shared by every workload. */
final class Run(val spark: SparkSession, val conf: PerfBench.Conf) {
  import PerfBench.{median, secs}

  val tracer = new Tracer(spark)
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  val checks = ArrayBuffer.empty[(String, Boolean, String)]

  val prepareS = ArrayBuffer.empty[Double]
  var warmupS = 0.0
  var checkS = 0.0
  val passS = ArrayBuffer.empty[Double]
  val passBytes = ArrayBuffer.empty[Long]
  val tracedPassS = ArrayBuffer.empty[Double]
  val tracedRoots = ArrayBuffer.empty[Span]
  /** JIT compilation time spent during each timed pass, and the
    * classes Spark generated and compiled in it (codegen cache misses).
    */
  val passJitMs = ArrayBuffer.empty[Double]
  val passCodegen = ArrayBuffer.empty[Double]
  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean
  private def codegenCompiles =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One operation: always counted as attempted; a throw counts as
    * failed and is never retried or dropped from the pass time.
    */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(tracer(name)(body))
    catch {
      case e: Throwable =>
        failed += 1
        failures += s"$name: $e"
        System.err.println(s"[perfbench] op $name failed: $e")
        None
    }
  }

  /** An operation that needs `prev`: when `prev` failed it cannot run,
    * so it is counted as attempted and failed.
    */
  def step[A, B](name: String, prev: Option[A])(f: A => B): Option[B] = prev match {
    case Some(a) => op(name)(f(a))
    case None =>
      attempted += 1; failed += 1
      failures += s"$name: not run, its input failed"
      None
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    val d = if (ok) "" else detail
    checks += ((name, ok, d))
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check $name FAILED $d")
    }
  }

  /** A planted operation that always throws: the self-test for the
    * failure accounting.
    */
  def planted(): Unit =
    if (conf.plantFailure) op("planted_failure") { throw new IllegalStateException("planted failure") }

  def timedCheck[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally checkS += secs(t0)
  }

  private def clearCached(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  def execute(wl: Workload): Unit = {
    for (_ <- 1 to Run.PrepareReps) {
      val t0 = System.nanoTime()
      wl.prepare()
      prepareS += secs(t0)
    }
    timedCheck(wl.reference())
    val t2 = System.nanoTime()
    wl.warmup()
    for (_ <- 1 until wl.warmupPasses) { wl.before(); wl.pass() }
    warmupS = secs(t2)
    timedCheck(wl.warmupChecks())
    clearCached()

    // traced runs alternate untraced and traced passes, at least two of
    // each so that neither side holds only the first, slowest pass; the
    // same run then gives the tracing overhead
    val t0 = System.nanoTime()
    var i = 0
    while (i < (if (conf.trace) 4 else 1) || secs(t0) < conf.seconds) {
      val traced = conf.trace && i % 2 == 1
      wl.before()
      if (traced) tracer.enable()
      val j0 = jit.getTotalCompilationTime
      val c0 = codegenCompiles
      val p0 = System.nanoTime()
      val bytes = tracer("pass") { val b = wl.pass(); planted(); b }
      val dt = secs(p0)
      passJitMs += (jit.getTotalCompilationTime - j0).toDouble
      passCodegen += (codegenCompiles - c0).toDouble
      if (traced) {
        tracer.disable(tracer.lastRoot)
        tracedRoots += tracer.lastRoot
        tracedPassS += dt
      } else {
        passS += dt
        passBytes += bytes
      }
      clearCached()
      i += 1
    }
    timedCheck(wl.finish())
  }

  def resultJson(wl: Workload, mainMs: Long, sessionS: Double): String = {
    val layers: Seq[(String, Double)] =
      if (tracedRoots.isEmpty) Nil
      else {
        def med(f: Span => Double) = median(tracedRoots.map(f).toSeq)
        val busy = med(_.counts.busyMs.get / 1e3)
        val traced = median(tracedPassS.toSeq)
        Seq(
          "spark.jobs" -> med(_.counts.jobs.get.toDouble),
          "spark.stages" -> med(_.counts.stages.get.toDouble),
          "spark.tasks" -> med(_.counts.tasks.get.toDouble),
          "spark.shuffle_write_bytes" -> med(_.counts.shuffleWriteBytes.get.toDouble),
          "spark.spill_bytes" -> med(_.counts.spillBytes.get.toDouble),
          "spark.task_busy_s" -> busy,
          "spark.gc_s" -> med(_.counts.gcMs.get / 1e3),
          "spark.core_util" -> busy / (traced * conf.cores),
          "spark.codegen_classes" -> median(passCodegen.toSeq),
          "trace.overhead" -> traced / median(passS.toSeq)) ++ wl.layers()
      }
    if (conf.trace) {
      val traceFile = new File(conf.out).getParentFile.toPath.resolve("spans.json")
      Files.writeString(traceFile, tracer.toJson)
    }
    def arr(xs: Iterable[Double]) = xs.map(Json.num).mkString("[", ",", "]")
    Json.obj(Seq(
      "main_epoch_ms" -> mainMs.toString,
      "session_s" -> Json.num(sessionS),
      "prepare_s" -> arr(prepareS),
      "warmup_s" -> Json.num(warmupS),
      "check_s" -> Json.num(checkS),
      "pass_s" -> arr(passS),
      "pass_bytes" -> arr(passBytes.map(_.toDouble)),
      "traced_pass_s" -> arr(tracedPassS),
      "pass_jit_ms" -> arr(passJitMs),
      "pass_codegen" -> arr(passCodegen),
      "records" -> wl.records.toString,
      "tree_bytes" -> wl.treeBytes.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
      "checks" -> checks.map { case (n, ok, d) =>
        Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d)))
      }.mkString("[", ",", "]"),
      "memory" -> Json.obj(Memory.report().map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) })))
  }
}

object Run {
  /** Input generation repeats, so set-up reports a median. */
  val PrepareReps = 3
}

/** One workload: set-up steps, then one pass that is timed repeatedly.
  * `pass` returns the bytes it wrote or read.
  */
abstract class Workload(val run: Run) {
  val spark: SparkSession = run.spark
  def conf: PerfBench.Conf = run.conf
  def dir(name: String): String = s"${conf.root}/${conf.workload}/$name"

  /** Input records the program sees. */
  def records: Long
  /** Bytes of the octree the workload stores (0 for query workloads). */
  def treeBytes: Long = 0L
  /** Input generation and staging. */
  def prepare(): Unit
  /** The benchmark's own reference results (not timed as set-up). */
  def reference(): Unit = ()
  /** Untimed set-up of each timed pass (e.g. the resume crash). */
  def before(): Unit = ()
  def pass(): Long
  /** The first pass, timed as set-up. */
  def warmup(): Unit = pass(): Unit
  /** Passes before timing starts, the first being [[warmup]]. */
  def warmupPasses: Int = 1
  /** Exact checks on the warm-up pass's outputs. */
  def warmupChecks(): Unit = ()
  /** Checks after the last pass. */
  def finish(): Unit = ()
  /** Per-layer metrics from the traced passes. */
  def layers(): Seq[(String, Double)]

  /** Median duration and counts of the traced spans named `name`. */
  def spanSeconds(name: String): Double =
    PerfBench.median(run.tracer.named(name).map(_.seconds))
  def spanCount(name: String)(f: Counts => Long): Double =
    PerfBench.median(run.tracer.named(name).map(s => f(s.counts).toDouble))
}

/** The paper's workload in one pass: convert (slice TIFFs → ingest →
  * 6-level arthur pyramid → per-block TIFF + KTX tree), then resume a
  * crashed copy of the tree from the stored pyramid and read the whole
  * copy back from TIFF and from KTX bytes. Before each pass (untimed)
  * the crashed copy is made: the one-shot tree without a seeded half of
  * its files.
  */
final class Octree(run: Run) extends Workload(run) {
  val Edge = 128
  val Leaf: Int = graft.VoxelGrid.Leaf
  val Levels: Int = Integer.numberOfTrailingZeros(Edge / Leaf) + 1
  /** Share of 16³ regions holding data, and voxel density inside them:
    * about 60k voxels in 1.8k tree files.
    */
  val RegionFrac = 0.015
  val Density = 0.9

  private var prepared = 0
  def stage: String = dir(s"stage_$prepared")
  val pyrPath: String = dir("pyramid.parquet")
  val refTree: String = dir("ref")
  /** Each pass converts into a fresh tree and resumes a fresh crashed
    * copy, so nothing is deleted while passes are timed.
    */
  private var passNo = 0
  def tree: String = dir(s"tree_$passNo")
  def work: String = dir(s"work_$passNo")

  var vol: Volume = _
  var stagedBytes = 0L
  var ref: RefPyramid = _
  var refVoxels: VoxelSet = _
  var expectedFiles = 0L
  var files: Seq[String] = Nil
  var crash: Seq[String] = Nil
  private var stored = 0L
  private var convertBytes = 0L
  private var lastResume = (0L, 0L, 0L)

  def records: Long = vol.nonZero
  override def treeBytes: Long = stored

  /** Each repeat stages into a fresh directory: nothing is deleted
    * before the passes, whose file writes a delete's journal commit
    * would slow.
    */
  def prepare(): Unit = {
    prepared += 1
    vol = Volume.generate(conf.seed, Edge, RegionFrac, Density)
    stagedBytes = Volume.stageSlices(vol, stage)
  }

  override def reference(): Unit = {
    ref = RefPyramid(vol, Levels)
    refVoxels = ref.voxels
    expectedFiles = ref.expectedFiles(Leaf)
  }

  /** (files serialized, bytes written, files written) of one tree write. */
  def write(pyr: Option[DataFrame], out: String, skipExisting: Boolean,
      name: String): Option[(Long, Long, Long)] =
    run.step(name, pyr) { p =>
      val r = OctreePipeline.writeTree(spark, p, out, skipExisting)
        .agg(count(lit(1)), sum(col("n_bytes") * col("written")), sum(col("written")))
        .collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

  /** The crash: a copy of the one-shot tree without the crashed files. */
  override def before(): Unit = {
    passNo += 1
    val lost = crash.toSet
    files.filterNot(lost).foreach { f =>
      val t = new File(work, f)
      t.getParentFile.mkdirs()
      Files.copy(new File(refTree, f).toPath, t.toPath)
    }
  }

  /** Slices → ingest → pyramid → tree under `out`; returns the bytes.
    * With `storePyramid` the pyramid is also written as the stored input
    * the resumes start from.
    */
  private def convert(out: String, storePyramid: Boolean = false): Long = {
    val vox = run.op("sources.ingest") {
      IngestDispatch.parseSliceVoxels(spark, stage).localCheckpoint(true)
    }
    val pyr = run.step("octree.pyramid", vox) { v =>
      graft.octree.Pyramid(v, Levels).localCheckpoint(true)
    }
    if (storePyramid) pyr.foreach(_.write.parquet(pyrPath))
    write(pyr, out, skipExisting = false, "octree.write").map {
      case (serialized, bytes, written) =>
        run.check("write_files=expected", serialized == expectedFiles && written == serialized,
          s"$serialized serialized, $written written, $expectedFiles expected")
        if (convertBytes == 0L) convertBytes = bytes
        run.check("write_bytes=first_pass", bytes == convertBytes, s"$bytes vs $convertBytes")
        bytes
    }.getOrElse(0L)
  }

  /** Resume the crashed copy from the stored pyramid, then read it all
    * back from TIFF and from KTX; returns the bytes written and read.
    */
  private def resumeAndReadBack(): Long = {
    val r = write(Some(spark.read.parquet(pyrPath)), work, skipExisting = true, "octree.resume")
    r.foreach { case (serialized, bytes, written) =>
      lastResume = (serialized, bytes, written)
      run.check("resume_written=crashed", written == crash.size && serialized == files.size,
        s"$written written of $serialized serialized; ${crash.size} crashed of ${files.size}")
    }
    val want = refVoxels.aggregate
    val aggs = RefPyramid.aggExprs(Edge)
    for ((fmt, read) <- Seq[(String, String => DataFrame)](
        "tiff" -> (t => OctreePipeline.parseTiffTree(spark, t)),
        "ktx" -> (t => OctreePipeline.parseKtxTree(spark, t)))) {
      run.step(s"octree.readback_$fmt", r) { _ =>
        val g = read(work).agg(aggs.head, aggs.tail: _*).collect()(0)
        val got = (g.getLong(0), g.getLong(1), g.getLong(2))
        run.check(s"readback_${fmt}_aggregate=reference", got == want, s"$got vs $want")
      }
    }
    r.map(_._2 + stored).getOrElse(0L)
  }

  def pass(): Long = convert(tree) + resumeAndReadBack()

  /** The JIT keeps speeding up the codec, parse and write paths for
    * many passes after the cold one (`pass_jit_ms` in the run's
    * stderr): the timed passes start on the flatter part of that curve.
    */
  override def warmupPasses: Int = 6

  /** The first convert writes the one-shot tree every later tree is
    * compared with, and the stored pyramid; its copy gets the first
    * crash. The exact read-back check of the one-shot tree covers both.
    */
  override def warmup(): Unit = {
    convert(refTree, storePyramid = true)
    files = Fs.list(new File(refTree))
    stored = files.map(f => new File(refTree, f).length).sum
    val rng = new java.util.SplittableRandom(conf.seed ^ 0x5eedL)
    crash = files.filter(_ => rng.nextBoolean())
    before()
    resumeAndReadBack(): Unit
  }

  /** Every voxel of the one-shot tree, from TIFF and from KTX bytes,
    * equals the reference pyramid.
    */
  override def warmupChecks(): Unit = {
    def set(df: DataFrame) = VoxelSet.of(df.collect().iterator.map { r =>
      (RefPyramid.key(Edge, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)), r.getLong(5))
    })
    for ((fmt, df) <- Seq("tiff" -> OctreePipeline.parseTiffTree(spark, refTree),
        "ktx" -> OctreePipeline.parseKtxTree(spark, refTree))) {
      val got = set(df.select("level", "c", "z", "y", "x", "v"))
      run.check(s"readback_$fmt=reference",
        got.keys.sameElements(refVoxels.keys) && got.values.sameElements(refVoxels.values),
        s"${got.size} voxels read back vs ${refVoxels.size} in the reference")
    }
  }

  /** The last converted tree and the resumed copy are both
    * byte-identical to the one-shot tree.
    */
  override def finish(): Unit =
    for ((name, root) <- Seq("converted" -> tree, "resumed" -> work)) {
      val got = Fs.list(new File(root))
      val same = got == files && files.forall { f =>
        java.util.Arrays.equals(Files.readAllBytes(new File(root, f).toPath),
          Files.readAllBytes(new File(refTree, f).toPath))
      }
      run.check(s"${name}_tree=oneshot_tree_bytes", same,
        s"${got.size} files vs ${files.size} in the one-shot tree")
    }

  /** Codec throughput over the first 512 occupied leaf blocks. */
  def codecLayers(): Seq[(String, Double)] = {
    val full = ref.byLevel(Levels)
    val nb = Edge / Leaf
    val blocks = (for {
      bz <- (0 until nb).iterator; by <- (0 until nb).iterator; bx <- (0 until nb).iterator
    } yield {
      val vox = for {
        c <- 0 until Volume.Channels; lz <- 0 until Leaf; ly <- 0 until Leaf; lx <- 0 until Leaf
        v = full.get(c, bz * Leaf + lz, by * Leaf + ly, bx * Leaf + lx)
        if v != 0
      } yield (c.toLong, lz.toLong, ly.toLong, lx.toLong, v.toLong)
      (Levels, bz + 1L, by + 1L, bx + 1L, vox)
    }).filter(_._5.nonEmpty).take(512).toSeq
    val (te, td, ke) = PerfbenchCodecs.measure(blocks, 300L * 1000 * 1000)
    Seq("octree.tiff_encode_mb_s" -> te, "octree.tiff_decode_mb_s" -> td,
      "octree.ktx_encode_mb_s" -> ke)
  }

  def layers(): Seq[(String, Double)] = {
    val ingestS = spanSeconds("sources.ingest")
    Seq(
      "sources.ingest_s" -> ingestS,
      "sources.ingest_mb_s" -> stagedBytes / 1e6 / ingestS,
      "octree.pyramid_s" -> spanSeconds("octree.pyramid"),
      "octree.pyramid_shuffle_bytes" -> spanCount("octree.pyramid")(_.shuffleWriteBytes.get),
      "octree.write_s" -> spanSeconds("octree.write"),
      "octree.write_files" -> expectedFiles.toDouble,
      "octree.write_bytes" -> convertBytes.toDouble,
      "octree.resume_s" -> spanSeconds("octree.resume"),
      "octree.resume_useful_ratio" -> lastResume._3.toDouble / lastResume._1,
      "octree.readback_tiff_s" -> spanSeconds("octree.readback_tiff"),
      "octree.readback_ktx_s" -> spanSeconds("octree.readback_ktx"),
      "octree.readback_files" -> files.size.toDouble,
      "octree.bytes_per_voxel" -> stored.toDouble / records) ++ codecLayers()
  }
}

/** Registry queries over generated tables: every op is forced in full
  * (a 64-bit hash over every output row) and must hash the same in
  * every pass as in the warm-up pass, whose output the DuckDB oracle
  * checks.
  */
final class Queries(run: Run) extends Workload(run) {
  import Queries.{Ops => ops}

  val outDir: String = dir("oracle")
  val hashes = scala.collection.mutable.Map.empty[String, String]
  val differs = scala.collection.mutable.Set.empty[String]

  /** Counted by run.py from the generated tables. */
  def records: Long = 0L
  /** Tables are generated by run.py before the JVM starts. */
  def prepare(): Unit = ()

  /** The exact sum of a 64-bit hash of every row, and the row count.
    * Unlike an XOR, a sum does not cancel a duplicated row.
    */
  private def hashOf(df: DataFrame): String = {
    val h = xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
    val r = df.select(h.cast("decimal(20,0)").as("h")).agg(sum("h"), count(lit(1))).collect()(0)
    s"${if (r.isNullAt(0)) "0" else r.getDecimal(0).toPlainString}/${r.getLong(1)}"
  }

  private def span(q: String) = s"${Queries.layerOf(q)}.$q"

  def pass(): Long = {
    for (q <- ops)
      run.op(span(q)) { hashOf(graft.SparkEntry.queries(q)(spark, conf.tables)) }
        .foreach(h => if (hashes.get(q).exists(_ != h)) differs += q)
    0L
  }

  /** The warm-up pass writes each output and its oracle SQL for the
    * DuckDB compare; the hash of what was written anchors the timed
    * passes.
    */
  override def warmup(): Unit = {
    new File(outDir).mkdirs()
    val sql = ops.map(q => q -> Json.str(graft.SparkEntry.oracleSql(q)))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.obj(sql))
    for (q <- ops)
      run.op(span(q)) {
        graft.SparkEntry.queries(q)(spark, conf.tables).coalesce(1).write.parquet(s"$outDir/$q")
      }.foreach(_ => hashes(q) = hashOf(spark.read.parquet(s"$outDir/$q")))
  }

  /** The first pass alone takes about four warm passes; the next ones
    * keep getting a little faster, which the median over the timed
    * passes absorbs.
    */
  override def warmupPasses: Int = 2

  override def finish(): Unit =
    for (q <- ops)
      run.check(s"deterministic:$q", hashes.contains(q) && !differs(q),
        if (hashes.contains(q)) "hash differs across passes" else "no warm-up output")

  def layers(): Seq[(String, Double)] = {
    def opS(q: String) = spanSeconds(span(q))
    def jobs(q: String) = spanCount(span(q))(_.jobs.get)
    val per = ops.flatMap { q =>
      Queries.layerOf(q) match {
        case "ops" => Seq(s"ops.${q}_s" -> opS(q),
          s"ops.${q}_shuffle_bytes" -> spanCount(span(q))(_.shuffleWriteBytes.get),
          s"ops.${q}_jobs" -> jobs(q))
        case "sources" => Seq(s"sources.${q}_s" -> opS(q), s"sources.${q}_jobs" -> jobs(q))
        case _ => Nil
      }
    }
    per ++ Seq(
      "relational.tpch_s" -> ops.filter(Queries.layerOf(_) == "relational").map(opS).sum,
      "plans.asof_s" -> opS("q_asof_native"),
      "plans.range_join_s" -> opS("q_range_join"))
  }
}

object Queries {
  /** A TPC-H row, the two plan rewrites, one table-format op and one
    * quantized similarity search: every layer besides the octree, in a
    * pass of seconds. Each op costs about 100 ms per Spark job here, so
    * the list, not the table size, sets the pass time. `sim_ivfpq_topk`
    * (51 jobs, about 4 s) would double the pass.
    */
  val Ops: Seq[String] = Seq(
    "q3_topk",
    "q_asof_native", "q_range_join",
    "src_stats_prune",
    "sim_sq_topk")

  def layerOf(q: String): String =
    if (q.startsWith("src_")) "sources"
    else if (q == "q_asof_native" || q == "q_range_join") "plans"
    else if (q.startsWith("q")) "relational"
    else "ops"
}
