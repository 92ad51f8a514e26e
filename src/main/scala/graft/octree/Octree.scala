package graft.octree

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.VoxelGrid

/** Octree addressing: block partitioning and octant-path encoding.
  *
  * Re-expresses tiff2octree.py:263 `get_octree_relative_path` (octant
  * digit = 1 + x_bit + 2*y_bit + 4*z_bit per level, most-significant
  * first, root digit elided) and :220 `blockify` / :944
  * `save_tiff_blocks` (leaf partitioning) as pure Column arithmetic —
  * codegen'd, no UDFs, so Catalyst can push/prune around it.
  */
object Addressing {

  /** Octant path string for 1-based block coords at `levels`.
    * Digit i (for bit positions levels-2 .. 0) is
    * `1 + bit(x) + 2*bit(y) + 4*bit(z)` — the reference skips the
    * all-ones root digit, so a level-L block has L-1 digits.
    */
  def octPath(bz: Column, by: Column, bx: Column, levels: Int): Column = {
    val digits = ((levels - 2) to 0 by -1).map { lv =>
      val d = (bCol: Column) => shiftright(bCol - 1, lv).bitwiseAND(lit(1L))
      (lit(1L) + d(bx) + d(by) * 2 + d(bz) * 4).cast("string")
    }
    if (digits.isEmpty) lit("") else concat(digits: _*)
  }

  /** Voxels → (block coords 1-based, leaf offsets). One narrow
    * projection; downstream per-block work groups on (c,bz,by,bx) —
    * at cluster scale the voxel store is written partitioned by this
    * key so block ops are shuffle-free.
    */
  def blockify(voxels: DataFrame, leaf: Int = VoxelGrid.Leaf): DataFrame = {
    require((leaf & (leaf - 1)) == 0, "leaf edge must be a power of two")
    val dup = voxels.columns.toSeq
      .intersect(Seq("bz", "by", "bx", "lz", "ly", "lx"))
    require(dup.isEmpty,
      s"blockify input already carries block columns: ${dup.mkString(",")}")
    val sh = java.lang.Long.numberOfTrailingZeros(leaf.toLong).toInt
    // pass extra columns (e.g. a pyramid `level`) through unchanged
    voxels.select(voxels.columns.map(col).toIndexedSeq ++ Seq(
      (shiftright(col("z"), sh) + 1).as("bz"),
      (shiftright(col("y"), sh) + 1).as("by"),
      (shiftright(col("x"), sh) + 1).as("bx"),
      (col("z") % leaf).as("lz"),
      (col("y") % leaf).as("ly"),
      (col("x") % leaf).as("lx")): _*)
  }

  /** Occupied blocks at full resolution with their octant paths. */
  def blockPaths(voxels: DataFrame, levels: Int = VoxelGrid.Levels,
                 leaf: Int = VoxelGrid.Leaf): DataFrame =
    blockify(voxels, leaf)
      .groupBy("c", "bz", "by", "bx")
      .agg(count(lit(1)).as("n_voxels"), max("v").as("max_v"))
      .withColumn("path", octPath(col("bz"), col("by"), col("bx"), levels))
      .select("c", "bz", "by", "bx", "path", "n_voxels", "max_v")
      .orderBy("c", "bz", "by", "bx")

  /** tiff2octree.py:611 `adjust_dimensions` — shrink each dim to a
    * multiple of 2^levels: `d - d % 2^levels` (the reference's
    * decrement loop, closed form).
    */
  def adjustDim(dCol: String, lvCol: String): Column =
    expr(s"$dCol - $dCol % shiftleft(1L, CAST($lvCol AS INT))")

  /** tiff2octree.py:618 `calc_optimal_nlevels`: smallest lv >= 1 with
    * adjusted-leaf volume < 512³. Expressed per-row over a candidate
    * `lv` explode + min-aggregation (the reference's while loop).
    * Input df needs bigint dims dz,dy,dx and a bigint id column.
    */
  def optimalLevels(dims: DataFrame): DataFrame = {
    val leaf = (d: String) =>
      s"(($d - $d % shiftleft(1L, lv)) div shiftleft(1L, lv - 1))"
    dims
      .withColumn("lv", explode(sequence(lit(1), lit(20))))
      .filter(expr(s"${leaf("dz")} * ${leaf("dy")} * ${leaf("dx")} < 134217728"))
      .groupBy("id", "dz", "dy", "dx")
      .agg(min(col("lv")).cast("long").as("nlevels"))
      .select(col("id"), col("dz"), col("dy"), col("dx"), col("nlevels"),
        adjustDim("dz", "nlevels").as("adj_dz"),
        adjustDim("dy", "nlevels").as("adj_dy"),
        adjustDim("dx", "nlevels").as("adj_dx"))
      .orderBy("id")
  }

  /** ktx/util.py:34 `mipmap_dimension` + :223 `mipmap_shapes`: OpenGL
    * mip chain `max(1, floor(d / 2^lvl))` down to (1,1,1).
    */
  def mipmapDims(dz: Long, dy: Long, dx: Long)(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val maxLvl = 63 - java.lang.Long.numberOfLeadingZeros(Seq(dz, dy, dx).max)
    (0L to maxLvl).map { lvl =>
      (lvl, math.max(1L, dz >> lvl), math.max(1L, dy >> lvl), math.max(1L, dx >> lvl))
    }.toDF("lvl", "mz", "my", "mx")
  }
}

/** The reference's four downsampling kernels over the sparse voxel
  * model: a 2×2×2 (or 2×2 for xy-only) parent group collapses to one
  * voxel via groupBy on halved coordinates — one shuffle per level,
  * with map-side partial aggregation. This Catalyst form serves the
  * single-level rows; [[Pyramid]] folds whole regions in one task and
  * must equal a per-level fold of this function exactly.
  *
  * Implicit-zero semantics: absent voxels are zeros, so e.g.
  * `second_max` of a group with a single present voxel is 0 (then
  * pruned from the sparse output), and `area` divides by the full 8
  * regardless of how many voxels are present — exactly the dense
  * arrays of tiff2octree.py:237/:253 and ktx/util.py:131.
  */
object Downsample {
  /** Kernel ids (reference anchors in scaladoc above):
    *  - `second_max`: tiff2octree.py:237 `downsample_2ndmax`
    *  - `area`:       tiff2octree.py:253 (mean incl. zeros, dtype-truncated)
    *  - `mean_nz`:    ktx/util.py:154 'mean' (NaN-mean over non-zeros)
    *  - `max`:        ktx/util.py:159 'max'
    *  - `arthur`:     ktx/util.py:164 'arthur' (2nd-max, 0→max fallback)
    */
  val kernels = Seq("second_max", "area", "mean_nz", "max", "arthur")

  def apply(voxels: DataFrame, kernel: String, xyOnly: Boolean = false): DataFrame = {
    val z = if (xyOnly) col("z") else shiftright(col("z"), 1)
    val grouped = voxels.groupBy(
      col("c"), z.as("z"), shiftright(col("y"), 1).as("y"), shiftright(col("x"), 1).as("x"))
    val full = if (xyOnly) 4 else 8 // dense subvoxel count incl. implicit zeros
    val cnt = count(lit(1))
    // native two-slot DeclarativeAggregate (see graft.functions.SecondMax)
    // — stays in whole-stage codegen, unlike collect_list + sort_array
    val secondOfPresent = expr("graft_second_max(v)")
    val agged = kernel match {
      case "area" =>
        grouped.agg(expr(s"sum(v) div $full").as("v"))
      case "mean_nz" =>
        grouped.agg(expr("sum(v) div count(1)").as("v"))
      case "max" =>
        grouped.agg(max(col("v")).as("v"))
      case "second_max" =>
        grouped.agg(when(cnt >= 2, secondOfPresent).otherwise(lit(0L)).as("v"))
      case "arthur" =>
        grouped.agg(when(cnt >= 2, secondOfPresent).otherwise(max(col("v"))).as("v"))
      case other => throw new IllegalArgumentException(s"unknown kernel $other")
    }
    agged.filter(col("v") > 0).select("c", "z", "y", "x", "v")
  }

  /** A simple engine-native anti-aliased 2× downsample: a separable
    * 4-tap triangle filter with weights [1,3,3,1]/8 per axis,
    * zero-padded at borders (zero = no-data). The reference's exact
    * `aa`/`spline3` kernels are [[aa]] and [[spline3]]; this triangle
    * variant is kept as the cheap all-integer alternative.
    * Expressed as a contribution-explode — each voxel scatters into
    * its ≤8 destination cells with the product weight — followed by
    * one halved-key groupBy-sum: identical shuffle shape to the box
    * kernels, just 8× the map-side rows (still combined map-side).
    */
  /** Exact separable weights of the reference's anti-aliased kernel
    * (tiff2octree.py:244 `downsample_aa` = skimage `resize(...,
    * anti_aliasing=True)` on the leaf scratch): a σ=0.5 Gaussian
    * pre-smooth (radius 2: taps ∝ [e⁻⁸, e⁻², 1, e⁻², e⁻⁸], scipy
    * 'mirror' boundary — skimage mode 'reflect' maps to ndimage
    * 'mirror') followed by order-1 resampling at output centers
    * 2j+0.5, i.e. the mean of adjacent smoothed samples. For the 4→2
    * axis this composes to one fixed 2×4 matrix; row 1 is row 0
    * mirrored.
    */
  val AaAxis: Array[Array[Double]] = {
    val g1 = math.exp(-2.0); val g2 = math.exp(-8.0)
    val d = 1.0 + 2 * g1 + 2 * g2
    val (n0, n1, n2) = (1.0 / d, g1 / d, g2 / d)
    val row0 = Array((n0 + n1) / 2, (2 * n1 + n0 + n2) / 2, (2 * n2 + n1) / 2, n2 / 2)
    Array(row0, row0.reverse)
  }

  /** Fixed-point scale for the 3-D AA weight products: quantizing the
    * PRODUCT (≤1) at 2⁻⁴⁰ keeps every wq·v term under 2⁵⁶ and the
    * 64-term block sum under 2⁶², while the quantization error
    * (~2⁻⁴⁰ relative) sits far below the uint16 rounding grain — and
    * makes the whole kernel exact integer arithmetic, so Spark and
    * the DuckDB oracle agree bit-for-bit regardless of aggregation
    * order (a double Σ would be partition-order-dependent).
    */
  val AaScaleBits = 40

  /** The 512 quantized 3-D weight products (jz,jy,jx,iz,iy,ix,wq) —
    * single source of truth for the Spark broadcast frame AND the
    * oracle's VALUES table.
    */
  val AaProducts: Seq[(Int, Int, Int, Int, Int, Int, Long)] =
    for {
      jz <- 0 to 1; jy <- 0 to 1; jx <- 0 to 1
      iz <- 0 to 3; iy <- 0 to 3; ix <- 0 to 3
    } yield (jz, jy, jx, iz, iy, ix,
      Math.round(AaAxis(jz)(iz) * AaAxis(jy)(iy) * AaAxis(jx)(ix)
        * (1L << AaScaleBits).toDouble))

  /** oct_down_aa — the reference's anti-aliased 2× downsample with
    * its EXACT kernel weights ([[AaAxis]]), applied per leaf block
    * like the reference's per-scratch call. Scale shape: one
    * broadcast join against the 512-row weight table fans each voxel
    * to its 8 destination cells (the contribution-explode of
    * [[linear]], with the explode folded into the join), then ONE
    * halved-key groupBy summing exact integer wq·v terms map-side.
    * Output value = round(Σ w·x), matching img_as_uint's rint on the
    * unit-scaled resize result (linear kernels commute with the
    * uint16↔[0,1] scaling; np.rint's half-to-even vs our half-up
    * differs only on exact .5 ties, unreachable with irrational
    * weights).
    */
  def aa(voxels: DataFrame, leaf: Int = VoxelGrid.Leaf): DataFrame = {
    val spark = voxels.sparkSession
    import spark.implicits._
    val w = broadcast(AaProducts.toDF("jz", "jy", "jx", "iz", "iy", "ix", "wq"))
    val half = 1L << (AaScaleBits - 1)
    voxels
      .withColumn("iz", (col("z") % leaf).cast("int"))
      .withColumn("iy", (col("y") % leaf).cast("int"))
      .withColumn("ix", (col("x") % leaf).cast("int"))
      .join(w, Seq("iz", "iy", "ix"))
      .groupBy(col("c"),
        (expr(s"z div $leaf") * 2 + col("jz")).as("z"),
        (expr(s"y div $leaf") * 2 + col("jy")).as("y"),
        (expr(s"x div $leaf") * 2 + col("jx")).as("x"))
      .agg(sum(col("wq") * col("v")).as("s"))
      .select(col("c"), col("z"), col("y"), col("x"),
        expr(s"(s + $half) div ${1L << AaScaleBits}").as("v"))
      .filter(col("v") > 0)
      .select("c", "z", "y", "x", "v")
  }

  /** oct_down_spline3 — the reference's cubic-spline 2× downsample
    * (tiff2octree.py:258 `downsample_spline3` = scipy
    * `ndimage.zoom(scratch, 0.5)`) on the engine's 4³ leaves. zoom's
    * output grid (grid_mode=False) samples input coordinate
    * j·(L−1)/(L∕2−1); for L=4 that is j·3 — exactly the knots 0 and
    * 3 — and interpolating splines are EXACT at knots, so the kernel
    * reduces to corner sampling: out(j) = x(3j) per axis, values
    * unchanged. (The reference's IIR prefilter reproduces knot values
    * only to ~1e-9 float error, occasionally visible through astype
    * truncation; that jitter is float noise, not semantics, and is
    * not modeled.) Zero shuffle: a scan-side filter + coordinate map.
    */
  def spline3(voxels: DataFrame, leaf: Int = VoxelGrid.Leaf): DataFrame = {
    require(leaf == 4,
      "spline3 corner-sampling closed form holds for the 4-voxel leaf axis")
    val hi = leaf - 1L
    def o(a: String) =
      expr(s"($a div $leaf) * 2 + (CASE WHEN $a % $leaf = $hi THEN 1L ELSE 0L END)")
    voxels
      .filter((col("z") % leaf === 0 || col("z") % leaf === hi) &&
        (col("y") % leaf === 0 || col("y") % leaf === hi) &&
        (col("x") % leaf === 0 || col("x") % leaf === hi))
      .select(col("c"), o("z").as("z"), o("y").as("y"), o("x").as("x"), col("v"))
  }

  def linear(voxels: DataFrame, grid: Int): DataFrame = {
    val half = grid / 2
    // per-axis destination/weight for choice k: k=0 → main cell w=3,
    // k=1 → side cell w=1 (4-tap [1,3,3,1] split across two outputs)
    def oExpr(a: String, k: String) =
      s"CASE WHEN $k = 0 THEN $a div 2 WHEN $a % 2 = 0 THEN $a div 2 - 1 ELSE ($a + 1) div 2 END"
    def wExpr(k: String) = s"CASE WHEN $k = 0 THEN 3L ELSE 1L END"
    voxels
      .withColumn("kz", explode(sequence(lit(0), lit(1))))
      .withColumn("ky", explode(sequence(lit(0), lit(1))))
      .withColumn("kx", explode(sequence(lit(0), lit(1))))
      .select(col("c"),
        expr(oExpr("z", "kz")).as("oz"), expr(oExpr("y", "ky")).as("oy"),
        expr(oExpr("x", "kx")).as("ox"),
        (expr(wExpr("kz")) * expr(wExpr("ky")) * expr(wExpr("kx")) * col("v")).as("wv"))
      .filter(col("oz").between(0, half - 1) && col("oy").between(0, half - 1) &&
        col("ox").between(0, half - 1))
      .groupBy(col("c"), col("oz").as("z"), col("oy").as("y"), col("ox").as("x"))
      .agg(expr("sum(wv) div 512").as("v"))
      .filter(col("v") > 0)
      .select("c", "z", "y", "x", "v")
  }
}

/** Level-pyramid construction and block-level maintenance ops. */
object Pyramid {

  /** Levels one task builds in memory per region: a region is 2^5 = 32
    * voxels per axis of one channel, so a task's working set is fixed
    * whatever the volume size.
    */
  private val LocalLevels = 5

  /** A leaf voxel keyed for the region shuffle: region coords and the
    * packed in-region offset `(lz << 2s) | (ly << s) | lx`.
    */
  private[octree] case class Keyed(c: Long, rz: Long, ry: Long, rx: Long, li: Int, v: Long)

  /** One output voxel of a downsampled level. */
  private[octree] case class Out(level: Long, c: Long, z: Long, y: Long, x: Long, v: Long)

  /** tiff2octree.py:1062 `downsample_octree_blocks`: every block's
    * levels built from that block's own children. The leaf level is
    * the input itself (no shuffle). Levels L-1 .. L-s come from ONE
    * shuffle keyed by region `(c, z>>s, y>>s, x>>s)`, s = min(L-1, 5):
    * each task folds its regions through all s levels in memory
    * ([[RegionFold]]), one region at a time. A deeper pyramid folds
    * the coarsest local level through this same function again, so
    * a volume needs ⌈(L-1)/5⌉ shuffles instead of one per level.
    *
    * Every level equals the per-level [[Downsample]] fold exactly
    * (implicit zeros, duplicates counted separately, `v = 0` pruned).
    * The output carries no order; consumers group or sort for
    * themselves.
    */
  def apply(voxels: DataFrame, levels: Int = VoxelGrid.Levels,
            kernel: String = "arthur"): DataFrame = {
    val k = Downsample.kernels.indexOf(kernel)
    require(k >= 0, s"unknown kernel $kernel (one of ${Downsample.kernels.mkString(", ")})")
    val leaf = voxels.select(lit(levels.toLong).as("level"),
      col("c"), col("z"), col("y"), col("x"), col("v"))
    if (levels <= 1) return leaf
    val spark = voxels.sparkSession
    import spark.implicits._
    val s = math.min(levels - 1, LocalLevels)
    val m = (1L << s) - 1
    val Seq(c, z, y, x, v) = Seq("c", "z", "y", "x", "v").map(col(_).cast("long"))
    val folded = voxels
      .select(c.as("c"), shiftright(z, s).as("rz"), shiftright(y, s).as("ry"),
        shiftright(x, s).as("rx"),
        shiftleft(z.bitwiseAND(m), 2 * s).bitwiseOR(shiftleft(y.bitwiseAND(m), s))
          .bitwiseOR(x.bitwiseAND(m)).cast("int").as("li"),
        v.as("v"))
      .repartition(col("c"), col("rz"), col("ry"), col("rx"))
      .sortWithinPartitions("c", "rz", "ry", "rx")
      .as[Keyed]
      .mapPartitions(it => new RegionFold(it, levels, s, k))
      .toDF()
    val top = levels - s
    if (top == 1) leaf.union(folded)
    else {
      val rest = apply(folded.filter(col("level") === top).drop("level"), top, kernel)
        .filter(col("level") < top)
      leaf.union(folded).union(rest)
    }
  }

  /** The in-task pyramid of [[apply]]: reduces a partition sorted by
    * region, one region at a time, through `s` 2×2×2 levels. Per level
    * it keeps (count, sum, max, second max) of the children in
    * primitive arrays indexed by packed cell offset, plus the list of
    * touched cells, so a sparse region costs its voxels, not its
    * volume. The box kernels are one scalar reduction of that state
    * (kernel ids index [[Downsample.kernels]]).
    */
  private final class RegionFold(in: Iterator[Keyed], levels: Int, s: Int, kernel: Int)
      extends Iterator[Out] {
    // level k (1..s) has 2^(s-k) cells per axis; index 0 is unused
    private def cells(k: Int) = if (k == 0) 0 else 1 << (3 * (s - k))
    private val cnt = Array.tabulate(s + 1)(k => new Array[Int](cells(k)))
    private val sum = Array.tabulate(s + 1)(k => new Array[Long](cells(k)))
    private val mx = Array.tabulate(s + 1)(k => new Array[Long](cells(k)))
    private val sec = Array.tabulate(s + 1)(k => new Array[Long](cells(k)))
    private val touched = Array.tabulate(s + 1)(k => new Array[Int](cells(k)))
    private val nTouched = new Array[Int](s + 1)

    private val out = scala.collection.mutable.ArrayBuffer.empty[Out]
    private var pos = 0
    private var pending: Keyed = if (in.hasNext) in.next() else null

    /** Parent offset of a child offset that has `b` bits per axis. */
    private def parent(idx: Int, b: Int): Int = {
      val mask = (1 << b) - 1
      val z = idx >>> (2 * b); val y = (idx >>> b) & mask; val x = idx & mask
      ((z >>> 1) << (2 * (b - 1))) | ((y >>> 1) << (b - 1)) | (x >>> 1)
    }

    private def add(k: Int, i: Int, v: Long): Unit =
      if (cnt(k)(i) == 0) {
        cnt(k)(i) = 1; sum(k)(i) = v; mx(k)(i) = v; sec(k)(i) = Long.MinValue
        touched(k)(nTouched(k)) = i; nTouched(k) += 1
      } else {
        cnt(k)(i) += 1; sum(k)(i) += v
        if (v > mx(k)(i)) { sec(k)(i) = mx(k)(i); mx(k)(i) = v }
        else if (v > sec(k)(i)) sec(k)(i) = v
      }

    private def reduce(k: Int, i: Int): Long = {
      val n = cnt(k)(i)
      kernel match {
        case 0 => if (n >= 2) sec(k)(i) else 0L        // second_max
        case 1 => sum(k)(i) / 8                         // area: dense 8 incl. zeros
        case 2 => sum(k)(i) / n                         // mean_nz
        case 3 => mx(k)(i)                              // max
        case _ => if (n >= 2) sec(k)(i) else mx(k)(i)   // arthur
      }
    }

    /** Folds the next region into `out`. */
    private def foldRegion(): Unit = {
      val r = pending
      var cur = r
      while (cur != null && cur.c == r.c && cur.rz == r.rz && cur.ry == r.ry && cur.rx == r.rx) {
        add(1, parent(cur.li, s), cur.v)
        cur = if (in.hasNext) in.next() else null
      }
      pending = cur
      out.clear(); pos = 0
      var k = 1
      while (k <= s) {
        val b = s - k
        val mask = (1 << b) - 1
        var t = 0
        while (t < nTouched(k)) {
          val i = touched(k)(t)
          val v = reduce(k, i)
          cnt(k)(i) = 0
          if (v > 0) {
            out += Out((levels - k).toLong, r.c,
              (r.rz << b) | (i >>> (2 * b)), (r.ry << b) | ((i >>> b) & mask),
              (r.rx << b) | (i & mask), v)
            if (k < s) add(k + 1, parent(i, b), v)
          }
          t += 1
        }
        nTouched(k) = 0
        k += 1
      }
    }

    override def hasNext: Boolean = {
      while (pos >= out.length && pending != null) foldRegion()
      pos < out.length
    }

    override def next(): Out = {
      if (!hasNext) throw new NoSuchElementException
      pos += 1
      out(pos - 1)
    }
  }

  /** Incremental pyramid maintenance — the ingest-batch path a 100 TB
    * volume store runs instead of full rebuilds: a late-arriving
    * delta of full-resolution voxels invalidates ONLY the pyramid
    * cells whose subvoxel cubes contain a delta voxel (a cell at
    * level lv depends on the 2^(levels−lv)-cube below it, so the
    * affected key set at each level is the delta coords shifted
    * right). The result splices, per level, the stale base-pyramid
    * cells OUTSIDE the affected keys (anti join) with a pruned
    * recompute of the affected region (semi join) — and must equal a
    * full rebuild bit-for-bit, which the oracle asserts by sharing
    * oct_pyramid's SQL verbatim.
    *
    * Scale shape: the recompute input is ONE semi join of the
    * full-res scan against the ≤|delta| coarsest-level keys (every
    * finer level's cube telescopes inside the coarsest cube, so one
    * restriction feeds the whole recompute fold); recompute cost
    * tracks the delta footprint, not the volume. Both pyramids are
    * localCheckpoint'd before the per-level splices (the stored-table
    * stand-in — a deployment reads the base pyramid from disk).
    */
  def incremental(base: DataFrame, delta: DataFrame,
      levels: Int = VoxelGrid.Levels, kernel: String = "arthur"): DataFrame = {
    val smax = levels - 1
    def keyed(df: DataFrame, s: Int): DataFrame = df
      .withColumn("kz", shiftright(col("z"), s))
      .withColumn("ky", shiftright(col("y"), s))
      .withColumn("kx", shiftright(col("x"), s))
    val regionKeys = keyed(delta, smax).select("c", "kz", "ky", "kx").distinct()
    val region = keyed(base.union(delta), smax)
      .join(regionKeys, Seq("c", "kz", "ky", "kx"), "left_semi")
      .select("c", "z", "y", "x", "v")
    val basePyr = apply(base, levels, kernel).localCheckpoint()
    val freshPyr = apply(region, levels, kernel).localCheckpoint()
    (1 to levels).map { lv =>
      val s = levels - lv
      val aff = delta.select(col("c"), shiftright(col("z"), s).as("z"),
        shiftright(col("y"), s).as("y"), shiftright(col("x"), s).as("x")).distinct()
      basePyr.filter(col("level") === lv)
        .join(aff, Seq("c", "z", "y", "x"), "left_anti")
        .union(freshPyr.filter(col("level") === lv)
          .join(aff, Seq("c", "z", "y", "x"), "left_semi"))
    }.reduce(_ union _)
      .orderBy("level", "c", "z", "y", "x")
  }

  /** tiff2octree.py:312 `img_data.max() > 0` empty-block pruning, made
    * total: enumerate every block slot of the grid and flag the empty
    * ones (the reference skips writing those files).
    */
  def emptyPrune(spark: SparkSession, voxels: DataFrame,
                 levels: Int = VoxelGrid.Levels): DataFrame = {
    val bnum = 1 << (levels - 1)
    val slots = spark.range(2).select(col("id").as("c"))
      .crossJoin(spark.range(1, bnum + 1).select(col("id").as("bz")))
      .crossJoin(spark.range(1, bnum + 1).select(col("id").as("by")))
      .crossJoin(spark.range(1, bnum + 1).select(col("id").as("bx")))
    val occupied = Addressing.blockify(voxels)
      .groupBy("c", "bz", "by", "bx")
      .agg(count(lit(1)).as("n_voxels"), max("v").as("max_v"))
    slots.join(occupied, Seq("c", "bz", "by", "bx"), "left")
      .select(col("c"), col("bz"), col("by"), col("bx"),
        coalesce(col("n_voxels"), lit(0L)).as("n_voxels"),
        coalesce(col("max_v"), lit(0L)).as("max_v"),
        when(col("max_v").isNull, lit(1L)).otherwise(lit(0L)).as("is_empty"))
      .orderBy("c", "bz", "by", "bx")
  }

  /** `--resume` (tiff2octree.py:359 `check_block`): anti-join the
    * occupied block list against an already-completed listing. The
    * completed set here is a deterministic synthetic predicate; in
    * production it is the sink's file/manifest listing (broadcast —
    * it is only block keys, never voxels).
    */
  def resumeRemaining(voxels: DataFrame): DataFrame = {
    val occupied = Addressing.blockify(voxels)
      .groupBy("c", "bz", "by", "bx").agg(count(lit(1)).as("n_voxels"))
    val completed = occupied.filter((col("bz") + col("by") + col("bx")) % 3 === 0)
      .select("c", "bz", "by", "bx")
    occupied.join(completed, Seq("c", "bz", "by", "bx"), "left_anti")
      .orderBy("c", "bz", "by", "bx")
  }

  /** ktx/util.py:242 `interleave_channel_arrays`: collapse per-channel
    * rows into one multi-channel voxel row (absent channel = 0).
    */
  def interleave(voxels: DataFrame): DataFrame =
    voxels.groupBy("z", "y", "x")
      .agg(
        max(when(col("c") === 0, col("v")).otherwise(lit(0L))).as("v0"),
        max(when(col("c") === 1, col("v")).otherwise(lit(0L))).as("v1"),
        count(lit(1)).as("n_channels"))
      .orderBy("z", "y", "x")

  /** Per-block channel statistics (ktx_from_rendered_tiff.py:223):
    * voxel count, zero fraction vs the dense leaf volume, min/max/sum.
    */
  def blockStats(voxels: DataFrame, leaf: Int = VoxelGrid.Leaf): DataFrame =
    statsOfBlocked(Addressing.blockify(voxels, leaf), leaf)
      .orderBy("c", "bz", "by", "bx")

  /** The aggregation stage of [[blockStats]] over an
    * already-blockified frame: grouping on the STORED block key, so
    * over a persisted bucketed-by-(bz,by,bx) layout it plans with no
    * Exchange at all (VolumeSourceSpec asserts this) — the write-once
    * bucketing shuffle amortized across every later block op.
    */
  def statsOfBlocked(blocked: DataFrame, leaf: Int = VoxelGrid.Leaf): DataFrame = {
    val dense = leaf.toLong * leaf * leaf
    // a multi-level frame (unfiltered read of a persisted pyramid)
    // must not merge pyramid levels into one block
    val keys = (if (blocked.columns.contains("level")) Seq("level") else Nil) ++
      Seq("c", "bz", "by", "bx")
    blocked
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_voxels"), min("v").as("min_v"),
        max("v").as("max_v"), sum("v").as("sum_v"))
      .withColumn("zero_frac", (lit(dense) - col("n_voxels")) / lit(dense.toDouble))
  }
}
