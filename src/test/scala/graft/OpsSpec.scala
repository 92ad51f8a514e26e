package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.ops.{Dedup, Similarity, TextAnalysis}

/** Independent Scala re-derivations of the ops semantics, checked
  * against the Spark implementations on sf0.001 — a third opinion next
  * to the DuckDB oracle (guards against "both sides share the same
  * mistake" in the SQL).
  */
class OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  val dir = "/root/testdata/sf0.001"

  @transient lazy val spark: SparkSession = GraftSession("OpsSpec", 4)

  override def afterAll(): Unit = spark.stop()

  private def docs: Map[Long, String] = {
    import spark.implicits._
    Tables(spark, dir, "documents").select("doc_id", "text")
      .as[(Long, String)].collect().toMap
  }

  private def tokens(text: String): Seq[String] =
    "[a-z0-9]+".r.findAllIn(text.toLowerCase).toSeq

  private def md5Int(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
  }

  test("charlm scores match an independent Scala bigram model") {
    val all = docs
    val bigrams: Map[Long, Seq[String]] =
      all.view.mapValues(t => t.sliding(2).filter(_.length == 2).toSeq).toMap
    val c2 = bigrams.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = c2.groupBy(_._1.take(1)).view.mapValues(_.values.sum).toMap
    val pU = c2.map { case (bg, c) => bg -> (1000000L * c) / c1(bg.take(1)) }
    val expected = all.keys.map { id =>
      val bs = bigrams(id)
      if (bs.isEmpty) (id, 0L, 0L)
      else (id, bs.size.toLong, bs.map(pU).sum / bs.size)
    }.toSeq.sortBy(_._1)
    val got = graft.ops.TextAnalysis.charLm(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
        r.getAs[Long]("lm_u"))).toSeq
    assert(got === expected)
    // micro-probs live in [0, 1e6]; every doc scores within the scale
    assert(got.forall { case (_, _, u) => u >= 0L && u <= 1000000L })
  }

  test("CharBigrams kernel equals the SQL substring form, incl. supplementary plane") {
    import spark.implicits._
    val samples = Seq("", "a", "ab", "abca", "héllo wörld", "日本語テキスト",
      "a😀b🚀c", "😀🚀", "  spaces  x")
    val df = samples.toDF("text")
    val packed = df.selectExpr("graft_char_bigrams(text) AS bg")
      .as[Seq[Long]].collect()
    val ref = df.selectExpr(s"(${TextAnalysis.charBigramsExpr}) AS bg")
      .as[Seq[String]].collect()
    def dec(l: Long): String =
      new String(Character.toChars((l >>> 21).toInt)) +
        new String(Character.toChars((l & 0x1FFFFF).toInt))
    assert(packed.map(_.map(dec)) === ref.map(_.toSeq))
    // the packing is injective: distinct substrings <-> distinct codes
    val allCodes = packed.flatten
    val allStrs = ref.flatten
    assert(allCodes.distinct.length === allStrs.distinct.length)
  }

  test("WindowHashes kernel equals xxhash64(substring) per position, incl. multibyte") {
    import spark.implicits._
    val samples = Seq("", "abc", "abcdef", "ababababab", "héllo wörld héllo",
      "日本語テキストの日本語", "a😀b🚀c😀d🚀e", "x" * 40)
    val df = samples.toDF("text")
    for (l <- Seq(1, 3, 5)) {
      val packed = df.selectExpr(s"graft_window_hashes(text, $l) AS hs")
        .as[Seq[Long]].collect()
      val ref = df.selectExpr(
        s"""CASE WHEN length(text) >= $l THEN
              transform(sequence(1, length(text) - ${l - 1}),
                        i -> xxhash64(substring(text, i, $l)))
            ELSE array_remove(array(0L), 0L) END AS hs""")
        .as[Seq[Long]].collect()
      assert(packed.map(_.toSeq) === ref.map(_.toSeq), s"L=$l")
    }
  }

  test("CharWindows kernel equals the SQL substring-window form, incl. multibyte") {
    import spark.implicits._
    val samples = Seq("", "ab", "abcdef", "héllo wörld", "日本語テキスト",
      "a😀b🚀c😀d", "z" * 35)
    val df = samples.toDF("text")
    for (l <- Seq(1, 2, 4)) {
      val packed = df.selectExpr(s"graft_char_windows(text, $l) AS ws")
        .as[Seq[String]].collect()
      val ref = df.selectExpr(
        s"""CASE WHEN length(text) >= $l THEN
              transform(sequence(1, length(text) - ${l - 1}),
                        i -> substring(text, i, $l))
            ELSE array_remove(array(''), '') END AS ws""")
        .as[Seq[String]].collect()
      assert(packed.map(_.toSeq) === ref.map(_.toSeq), s"L=$l")
    }
  }

  test("TokenNgrams kernel equals the SQL concat_ws form") {
    import spark.implicits._
    val samples: Seq[Seq[String]] = Seq(
      Seq(), Seq("a"), Seq("a", "b"), Seq("the", "quick", "brown", "fox"),
      Seq("wörd", "日本", "😀", "x"), Seq.fill(40)("tok"))
    val df = samples.toDF("t")
    for (n <- Seq(1, 2, 3)) {
      val packed = df.selectExpr(s"graft_token_ngrams(t, $n) AS gs")
        .as[Seq[String]].collect()
      val ref = df.selectExpr(s"(${graft.ops.TextAnalysis.gramsSql(n)}) AS gs")
        .as[Seq[String]].collect()
      assert(packed.map(_.toSeq) === ref.map(_.toSeq), s"n=$n")
    }
  }

  test("AlnumTokens kernel equals the regexp_extract_all(lower) form") {
    import spark.implicits._
    val samples = Seq("", "Hello, World! 42", "  a  b  ", "ALLCAPS",
      "mixed123CASE456", "héllo wörld", "İstanbul Kelvin",
      "日本語 abc 123", "a😀b", "tabs\tand\nnewlines")
    val df = samples.toDF("text")
    val packed = df.selectExpr(s"${graft.ops.TextAnalysis.toksExpr} AS t")
      .as[Seq[String]].collect()
    val ref = df.selectExpr(s"${graft.ops.TextAnalysis.toksSqlExpr} AS t")
      .as[Seq[String]].collect()
    assert(packed.map(_.toSeq) === ref.map(_.toSeq))
  }

  test("LongDot kernel equals the aggregate(zip_with) long form") {
    import spark.implicits._
    val samples: Seq[(Seq[Long], Seq[Long])] = Seq(
      (Seq(), Seq()), (Seq(1L, 2L, 3L), Seq(4L, -5L, 6L)),
      (Seq(1000000L, -999999L), Seq(2000000L, 3L)),
      (Seq(Long.MaxValue / 4, 2L), Seq(2L, 1L)))
    val df = samples.toDF("a", "b")
    val packed = df.selectExpr("graft_ldot(a, b) AS d").as[Long].collect()
    val ref = df.selectExpr(
      "aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (s, p) -> s + p) AS d")
      .as[Long].collect()
    assert(packed.toSeq === ref.toSeq)
    // length mismatch -> null, like zip_with's null padding
    val mm = Seq((Seq(1L, 2L), Seq(1L))).toDF("a", "b")
      .selectExpr("graft_ldot(a, b) AS d").collect()
    assert(mm.head.isNullAt(0))
  }

  test("quantized-vector kernels equal their HOF double-fold forms bit-for-bit") {
    import spark.implicits._
    val fl: Seq[Seq[Float]] = Seq(
      Seq(0.1f, -0.2f, 0.3f), Seq(1e-7f, 2e7f, -3.3f), Seq(0f, 0f, 0f))
    val qs: Seq[Seq[Long]] = Seq(
      Seq(123456L, -999999L, 1L), Seq(0L, 1000000L, -1L), Seq(7L, 8L, 9L))
    val df = fl.zip(qs).toDF("a", "q")
    def bits(c: String) = s"cast($c as string)"
    val rows = df.selectExpr(
      s"${bits("graft_fdotq(a, q)")} AS k1",
      s"${bits("aggregate(zip_with(a, q, (x, v) -> cast(x as double) * (cast(v as double) * 1.0e-6)), cast(0.0 as double), (acc, x) -> acc + x)")} AS h1",
      s"${bits("graft_fl2q(a, q)")} AS k2",
      s"${bits("aggregate(zip_with(a, q, (x, v) -> (cast(x as double) - cast(v as double) * 1.0e-6) * (cast(x as double) - cast(v as double) * 1.0e-6)), cast(0.0 as double), (acc, x) -> acc + x)")} AS h2",
      s"${bits("graft_fl2(a, a)")} AS k3",
      s"${bits("aggregate(zip_with(a, a, (x, c) -> (cast(x as double) - cast(c as double)) * (cast(x as double) - cast(c as double))), cast(0.0 as double), (acc, x) -> acc + x)")} AS h3")
      .collect()
    rows.foreach { r =>
      assert(r.getString(0) === r.getString(1), "fdotq")
      assert(r.getString(2) === r.getString(3), "fl2q")
      assert(r.getString(4) === r.getString(5), "fl2")
    }
  }

  test("pq argmin kernel equals the join-formulation encode (all modes, ties, dropped subspaces)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val M = 4; val D = 3; val Ks = 64
    // deterministic pseudo-random floats; vec 7 gets integer-valued
    // elements so mode 2 is exercised on its contract domain too
    def f(i: Long, j: Int): Float =
      (math.sin(i * 31 + j * 7) * 3).toFloat
    val vecs = (0L until 20L).map(i =>
      (i, (0 until M * D).map(j => f(i, j)).toArray)).toDF("vec_id", "embedding")
    // codebook: m=2 DROPPED entirely; duplicated codeword in m=0
    // (cb_idx 5 and 9 identical → tie must resolve to 5);
    // non-contiguous cb_idx everywhere
    val cwF: Seq[(Long, Long, Array[Float])] =
      Seq((0L, 5L), (0L, 9L), (0L, 41L), (1L, 0L), (1L, 63L), (3L, 17L)).map {
        case (m, k) =>
          val base = if (m == 0 && k == 9) Seq(0L -> 5L) else Seq(m -> k)
          val (bm, bk) = base.head
          (m, k, (0 until D).map(j => f(bm * 100 + bk, j)).toArray)
      }
    val cbF = cwF.toDF("m", "cb_idx", "cvec")
    val subs = vecs
      .select(col("vec_id"), explode(expr(s"sequence(0, ${M - 1})")).as("m"),
        col("embedding"))
      .select(col("vec_id"), col("m").cast("long").as("m"),
        expr(s"slice(embedding, cast(m * $D + 1 as int), $D)").as("svec"))
    def kernel(cb: org.apache.spark.sql.DataFrame, vcol: String, mode: Int) =
      vecs.crossJoin(broadcast(cb.agg(
          expr(s"transform(array_sort(collect_list(struct(m, cb_idx, $vcol))), " +
            s"s -> s.m * $Ks + s.cb_idx)").as("cb_keys"),
          expr(s"flatten(transform(array_sort(collect_list(struct(m, cb_idx, $vcol))), " +
            s"s -> s.$vcol))").as("cb_flat"))))
        .select(col("vec_id"), posexplode(call_function("graft_pq_argmin",
          col("embedding"), col("cb_keys"), col("cb_flat"), lit(Ks), lit(mode)))
          .as(Seq("m0", "packed")))
        .filter(col("packed").isNotNull)
        .select(col("vec_id"), col("m0").cast("long").as("m"), col("packed"))
        .as[(Long, Long, Long)].collect().toSet
    def joinForm(cb: org.apache.spark.sql.DataFrame, du: org.apache.spark.sql.Column) =
      subs.join(broadcast(cb), Seq("m"))
        .select(col("vec_id"), col("m"), (du * Ks + col("cb_idx")).as("packed"))
        .groupBy("vec_id", "m").agg(min("packed").as("packed"))
        .as[(Long, Long, Long)].collect().toSet
    // mode 0: float codebook, floor(l2 * 1e6)
    val k0 = kernel(cbF, "cvec", 0)
    val j0 = joinForm(cbF,
      floor(call_function("graft_fl2", col("svec"), col("cvec")) * lit(1.0e6)).cast("long"))
    assert(k0 === j0 && k0.nonEmpty, "mode 0")
    assert(!k0.exists(_._2 == 2L), "dropped subspace must vanish")
    // the m=0 duplicate codewords tie on du -> lower cb_idx (5) wins
    assert(k0.filter(_._2 == 0L).forall(r => (r._3 % Ks) != 9L), "tie -> lower idx")
    // mode 1: micro-int codebook
    val cbQ = cbF.select(col("m"), col("cb_idx"),
      expr("transform(cvec, x -> cast(floor(cast(x as double) * 1e6) as bigint))").as("cvq"))
    val k1 = kernel(cbQ, "cvq", 1)
    val j1 = joinForm(cbQ,
      floor(call_function("graft_fl2q", col("svec"), col("cvq")) * lit(1.0e6)).cast("long"))
    assert(k1 === j1 && k1.nonEmpty, "mode 1")
    // mode 2: exact-integer-valued doubles; the kernel's direct fold
    // must also equal the a²+b²−2ab expansion the query form used
    val vecsI = vecs.select(col("vec_id"),
      expr("transform(embedding, x -> cast(floor(cast(x as double) * 1e6) as double))").as("embedding"))
    val cbI = cbF.select(col("m"), col("cb_idx"),
      expr("transform(cvec, x -> cast(floor(cast(x as double) * 1e6) as double))").as("cvec"))
    val k2 = vecsI.crossJoin(broadcast(cbI.agg(
        expr(s"transform(array_sort(collect_list(struct(m, cb_idx, cvec))), " +
          s"s -> s.m * $Ks + s.cb_idx)").as("cb_keys"),
        expr(s"flatten(transform(array_sort(collect_list(struct(m, cb_idx, cvec))), " +
          s"s -> s.cvec))").as("cb_flat"))))
      .select(col("vec_id"), posexplode(call_function("graft_pq_argmin",
        col("embedding"), col("cb_keys"), col("cb_flat"), lit(Ks), lit(2)))
        .as(Seq("m0", "packed")))
      .filter(col("packed").isNotNull)
      .select(col("vec_id"), col("m0").cast("long").as("m"), col("packed"))
      .as[(Long, Long, Long)].collect().toSet
    val subsI = vecsI
      .select(col("vec_id"), explode(expr(s"sequence(0, ${M - 1})")).as("m"),
        col("embedding"))
      .select(col("vec_id"), col("m").cast("long").as("m"),
        expr(s"slice(embedding, cast(m * $D + 1 as int), $D)").as("svec"))
    val j2 = subsI.join(broadcast(cbI), Seq("m"))
      .select(col("vec_id"), col("m"),
        (expr("cast(aggregate(zip_with(svec, cvec, (x, c) -> x * x + c * c - 2 * x * c), " +
          "cast(0.0 as double), (a, v) -> a + v) as long)") * Ks + col("cb_idx")).as("packed"))
      .groupBy("vec_id", "m").agg(min("packed").as("packed"))
      .as[(Long, Long, Long)].collect().toSet
    assert(k2 === j2 && k2.nonEmpty, "mode 2 vs expansion form")
  }

  test("argmin_l2 kernel equals the min_by join formulation (incl. duplicate-centroid ties)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def mk(seed: Long): Array[Double] =
      (0 until 4).map(j => math.floor(math.sin(seed * 13 + j * 5) * 1e6)).toArray
    val vecs = (0L until 30L).map(i => (i, mk(i))).toDF("vec_id", "vq")
    // cent_id 40 duplicates cent_id 10's vector -> tie must pick 10
    val cents = Seq(10L -> mk(100), 25L -> mk(101), 40L -> mk(100), 7L -> mk(102))
      .toDF("cent_id", "cq")
    val centArr = cents.agg(
      expr("transform(array_sort(collect_list(struct(cent_id, cq))), s -> s.cent_id)").as("ids"),
      expr("flatten(transform(array_sort(collect_list(struct(cent_id, cq))), s -> s.cq))").as("flat"))
    val kernel = vecs.crossJoin(broadcast(centArr))
      .select(col("vec_id"), element_at(col("ids"),
        (call_function("graft_argmin_l2", col("vq"), col("flat"))
          .getField("idx") + 1).cast("int")).as("cell"))
      .as[(Long, Long)].collect().toMap
    val joinForm = vecs.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        expr("cast(aggregate(zip_with(vq, cq, (a, b) -> (a - b) * (a - b)), " +
          "cast(0.0 as double), (s, v) -> s + v) as long)").as("cdist"))
      .groupBy("vec_id")
      .agg(min_by(col("cent_id"), struct(col("cdist"), col("cent_id"))).as("cell"))
      .as[(Long, Long)].collect().toMap
    assert(kernel === joinForm && kernel.size === 30)
    assert(!kernel.values.exists(_ == 40L), "tie must resolve to the lower cent_id")
  }

  test("vlsum aggregate equals the long-form explode + groupBy rebuild") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // skewed groups incl. a singleton; values exercise negatives and
    // partial-merge boundaries (4 shuffle partitions)
    val rows = (0L until 200L).map { i =>
      (i % 7, (0 until 5).map(j => (i * 31 + j * 17) % 1000 - 500).toArray)
    }
    val df = rows.toDF("k", "v").repartition(4)
    val agg = df.groupBy("k")
      .agg(call_function("graft_vlsum", col("v")).as("sums"))
      .as[(Long, Seq[Long])].collect().toMap
    val longForm = df
      .select(col("k"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("k", "pos").agg(sum("x").as("s"))
      .groupBy("k")
      .agg(expr("transform(array_sort(collect_list(struct(pos, s))), t -> t.s)").as("sums"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(agg === longForm && agg.size === 7)
    // scala re-derivation (third opinion)
    val scalaForm = rows.groupBy(_._1).map { case (k, g) =>
      k -> (0 until 5).map(j => g.map(_._2(j)).sum)
    }
    assert(agg.map { case (k, v) => k -> v.toSeq } === scalaForm)
  }

  test("pca power iteration matches an independent Scala chain; Rayleigh quotient grows") {
    import spark.implicits._
    import graft.ops.Similarity
    val vecs = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val n = vecs.length.toLong
    val d = 64
    val xq = vecs.map { case (_, v) => v.map(x => math.floor(x.toDouble * 1e6).toLong) }
    val meanQ = (0 until d).map(j => xq.map(_(j)).sum / n).toArray
    val cq = xq.map(row => (0 until d).map(j => row(j) - meanQ(j)).toArray)
    def roundOf(v: Array[Long]): (Array[Long], Array[Long]) = {
      val sp = cq.map(row => (0 until d).map(j => row(j) * v(j)).sum / 1000000L)
      val vr = (0 until d).map(j =>
        cq.indices.map(i => (cq(i)(j) * sp(i)) / 1048576L).sum).toArray
      val n2 = vr.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble)
      val vN = vr.map(x => math.floor(1000000.0 * x / math.sqrt(n2)).toLong)
      (vr, vN)
    }
    val v0 = (0 until d).map(j => if (j == 0) 1000000L else 0L).toArray
    val (_, v1) = roundOf(v0)
    val (vr3, v3) = {
      val (_, v2) = roundOf(v1)
      roundOf(v2)
    }
    val expected = (0 until d).map(j => (j + 1L, meanQ(j), vr3(j), v3(j)))
    val got = Similarity.pcaPower(spark, dir).collect()
      .map(r => (r.getAs[Long]("dim"), r.getAs[Long]("mean_q"),
        r.getAs[Long]("vr"), r.getAs[Long]("pc1_u"))).toSeq
    assert(got === expected)
    // pc1 is a unit vector in micro units
    val norm2 = v3.map(x => x / 1e6).map(x => x * x).sum
    assert(math.abs(norm2 - 1.0) < 1e-3, s"pc1 not unit: $norm2")
    // power iteration must not shrink the Rayleigh quotient
    // (quantization allows ~1e-6 relative noise)
    def rayleigh(v: Array[Long]): Double = {
      val s = cq.map(row => (0 until d).map(j => row(j).toDouble * v(j)).sum)
      val num = s.map(x => x * x).sum
      val den = (0 until d).map(j => v(j).toDouble * v(j)).sum
      num / den
    }
    assert(rayleigh(v3) >= rayleigh(v1) * 0.999,
      s"Rayleigh fell: ${rayleigh(v1)} -> ${rayleigh(v3)}")
  }

  test("covariance matrix matches an independent Scala derivation; corr bounded") {
    import spark.implicits._
    import graft.ops.Similarity
    val vecs = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val n = vecs.length.toLong
    val d = 64
    val xq = vecs.map(_._2.map(x => math.floor(x.toDouble * 1e6).toLong))
    val meanQ = (0 until d).map(j => xq.map(_(j)).sum / n)
    val covU = Array.tabulate(d, d) { (i, j) =>
      xq.map(row => ((row(i) - meanQ(i)) * (row(j) - meanQ(j))) / 1048576L).sum / n
    }
    val expected = (for (i <- 0 until d; j <- i until d) yield {
      val (vi, vj) = (covU(i)(i), covU(j)(j))
      val corr = if (vi > 0 && vj > 0)
        math.floor(1000000.0 * covU(i)(j) / math.sqrt(vi.toDouble * vj.toDouble)).toLong
      else 0L
      (i + 1L, j + 1L, n, covU(i)(j), corr)
    }).sortBy(r => (r._1, r._2))
    val got = Similarity.covMatrix(spark, dir).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"), r.getAs[Long]("n_used"),
        r.getAs[Long]("cov_u"), r.getAs[Long]("corr_u"))).toSeq
    assert(got === expected)
    // self-correlation is exactly 1 (in micro units) wherever var > 0,
    // and |corr| never exceeds 1 (floor can leave -1e6 - 1 at worst
    // only via rounding UP of the magnitude, which floor can't do)
    assert(got.filter(r => r._1 == r._2 && r._4 > 0).forall(_._5 === 1000000L))
    assert(got.forall(r => r._5 >= -1000000L && r._5 <= 1000000L))
  }

  test("token histogram totals agree with per-doc token counts") {
    import graft.ops.{Sampling, TextAnalysis}
    val hist = Sampling.tokenHist(spark, dir).collect()
    val total = hist.map(_.getAs[Long]("sum_toks")).sum
    val nDocs = hist.map(_.getAs[Long]("n_docs")).sum
    val perDoc = TextAnalysis.tokens(spark, dir).collect()
      .map(_.getAs[Long]("n_tokens"))
    assert(total === perDoc.sum, "token mass drifted from text_tokens")
    assert(nDocs === perDoc.length.toLong)
    // bucket bounds hold: min/max inside [bucket·w, (bucket+1)·w)
    val w = Sampling.TokHistWidth
    assert(hist.forall { r =>
      val (b, mn, mx) = (r.getAs[Long]("bucket"), r.getAs[Long]("min_toks"),
        r.getAs[Long]("max_toks"))
      mn >= b * w && mx < (b + 1) * w && mn <= mx
    })
  }

  test("pipeline_card agrees with sample_split and text_filter accounting") {
    import graft.ops.{Pipeline, Sampling, TextAnalysis}
    val card = Pipeline.card(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("split")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_chars"), r.getAs[Long]("n_kept"))).toMap
    // same (source, split) doc counts as the split operator
    val split = Sampling.split(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("split")) ->
        r.getAs[Long]("n_docs")).toMap
    assert(card.keySet === split.keySet)
    split.foreach { case (k, n) => assert(card(k)._1 === n, s"doc count drift at $k") }
    // total kept == the filter operator's keep count
    val kept = TextAnalysis.filterDocs(spark, dir).collect()
      .map(_.getAs[Long]("keep")).sum
    assert(card.values.map(_._3).sum === kept)
    // n_chars uses length(text), the filter's n — not the n_chars column
    assert(card.values.forall { case (nd, nc, _) => nc > 0 && nd > 0 })
  }

  test("mixture sampling matches an independent Scala derivation and upsamples rare sources") {
    import spark.implicits._
    val src = Tables(spark, dir, "documents").select("doc_id", "source")
      .as[(Long, String)].collect()
    val bySrc = src.groupBy(_._2).view.mapValues(_.map(_._1).toSeq).toMap
    val wU = bySrc.view.mapValues(ids => math.floor(math.sqrt(ids.size.toDouble) * 1e6).toLong).toMap
    val wTot = wU.values.sum
    val quota = wU.view.mapValues(w => graft.ops.Sampling.MixtureTarget * w / wTot).toMap
    val expected = bySrc.flatMap { case (s, ids) =>
      ids.map(id => (s, id, md5Int(s"$s:$id")))
        .sortBy { case (_, id, h) => (h, id) }
        .take(quota(s).toInt)
        .zipWithIndex.map { case ((_, id, _), i) =>
          (s, id, (i + 1).toLong, ids.size.toLong, quota(s)) }
    }.toSeq.sortBy(r => (r._1, r._3))
    val got = graft.ops.Sampling.mixture(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("rk"), r.getAs[Long]("n_src"), r.getAs[Long]("quota"))).toSeq
    assert(got === expected)
    // temperature α=½ must give every rare source at least the
    // proportional sampling rate of the most common one
    val n = src.length.toLong
    val (rare, common) = (bySrc.minBy(_._2.size), bySrc.maxBy(_._2.size))
    if (rare._2.size < common._2.size) {
      val rateRare = quota(rare._1).toDouble / rare._2.size
      val rateCommon = quota(common._1).toDouble / common._2.size
      assert(rateRare >= rateCommon,
        s"temperature failed to upsample the rare source: $rateRare < $rateCommon (n=$n)")
    }
  }

  test("duplicated-substring spans match an independent Scala interval merge") {
    import graft.ops.Dedup
    val L = Dedup.SubstrL
    val all = docs
    val windows = all.toSeq.flatMap { case (id, t) =>
      (1 to t.length - L + 1).map(i => (id, i.toLong, t.substring(i - 1, i - 1 + L)))
    }
    val dup = windows.groupBy(_._3).filter(_._2.size > 1).keySet
    val expected = all.keys.map { id =>
      val pos = windows.filter(w => w._1 == id && dup(w._3)).map(_._2).sorted
      // merge [p, p+L-1] intervals (adjacent or overlapping join up)
      val spans = pos.foldLeft(List.empty[(Long, Long)]) {
        case ((s, e) :: rest, p) if p <= e + 1 => (s, math.max(e, p + L - 1)) :: rest
        case (acc, p) => (p, p + L - 1) :: acc
      }
      val dupChars = spans.map { case (s, e) => e - s + 1 }.sum
      val len = all(id).length.toLong
      (id, len, spans.size.toLong, dupChars, 1000L * dupChars / len)
    }.toSeq.sortBy(_._1)
    val got = Dedup.substring(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("len"),
        r.getAs[Long]("n_spans"), r.getAs[Long]("dup_chars"),
        r.getAs[Long]("dup_milli"))).toSeq
    assert(got === expected)
    // sanity: spans never cover more than the document
    assert(got.forall { case (_, len, _, dc, _) => dc <= len })
    // the hash-first variant (8-byte shuffle keys + text verify on
    // colliding groups only — the network-cluster swap) must be
    // row-for-row identical: equal strings always hash equal, and a
    // 64-bit collision is text-verified away
    val gotHashed = Dedup.substringHashed(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("len"),
        r.getAs[Long]("n_spans"), r.getAs[Long]("dup_chars"),
        r.getAs[Long]("dup_milli"))).toSeq
    assert(gotHashed === expected, "substringHashed diverged from substring")
  }

  test("bpe merge table matches a Scala re-derivation") {
    // Third opinion vs the DuckDB oracle: rebuild the word histogram
    // and run the merge rounds with java.lang.String.replace — the
    // same left-to-right non-overlapping semantics both engines'
    // replace() defines.
    val wordCnt = docs.values.flatMap(tokens)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val top = wordCnt.toSeq.sortBy { case (w, c) => (-c, w) }
      .take(TextAnalysis.BpeWords)
    var seqs = top.map { case (w, c) => (" " + w.map(_.toString).mkString(" ") + " ", c) }
    val expected = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    for (r <- 1 to TextAnalysis.BpeRounds) {
      val pairCnt = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((s, c) <- seqs) {
        val syms = s.trim.split(" ")
        for (i <- 0 until syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          pairCnt(k) = pairCnt.getOrElse(k, 0L) + c
        }
      }
      val ((a, b), pc) = pairCnt.toSeq.sortBy { case ((x, y), c) => (-c, x, y) }.head
      expected += ((r.toLong, a, b, a + b, pc))
      seqs = seqs.map { case (s, c) => (s.replace(s" $a $b ", s" $a$b "), c) }
    }
    val got = TextAnalysis.bpe(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq
    assert(got === expected.toSeq)

    // ENCODE face: apply the same merges to every distinct corpus word
    // (java String.replace — the engines' replace semantics) and
    // re-derive all three per-doc stats exactly
    val mergeList = expected.map { case (_, a, b, _, _) => (a, b) }
    val encCache = scala.collection.mutable.Map.empty[String, Array[String]]
    def encodeWord(w: String): Array[String] = encCache.getOrElseUpdate(w, {
      var s = " " + w.map(_.toString).mkString(" ") + " "
      for ((a, b) <- mergeList) s = s.replace(s" $a $b ", s" $a$b ")
      s.trim.split(" ")
    })
    val expEnc = docs.map { case (id, text) =>
      val ws = tokens(text)
      val subs = ws.map(encodeWord)
      (id, ws.size.toLong, subs.map(_.length.toLong).sum,
        subs.flatMap(_.map(s => s.length.toLong * s.length)).sum)
    }.toSet
    val gotEnc = TextAnalysis.bpeEncode(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(gotEnc === expEnc, "bpeEncode diverged from the Scala re-derivation")
  }

  test("knn graph: a vector gets edges iff it has a bucket peer in either table") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count()
    val nbits = Similarity.lshBits(n)
    def withPeer(bucketCol: org.apache.spark.sql.Column): Set[Long] = {
      val bs = emb.select(col("vec_id"), bucketCol.as("b")).as[(Long, Long)].collect()
      val cnt = bs.groupBy(_._2).view.mapValues(_.length).toMap
      bs.filter(p => cnt(p._2) > 1).map(_._1).toSet
    }
    val p1 = withPeer(Similarity.bucketN(col("embedding"), nbits))
    val p2 = withPeer(Similarity.bucketT(col("embedding"), Similarity.KnnTable2, nbits))
    val expected = p1 ++ p2
    val got = Similarity.knnGraph(spark, dir)
      .select("vec_id").distinct().as[Long].collect().toSet
    assert(got === expected,
      "vertices with edges must be exactly the vectors with a same-bucket peer in either table")
    // the second table must genuinely rescue vectors the first isolates
    val rescued = p2 -- p1
    info(s"n=$n with-peer=${expected.size} isolated-in-t1=${(n - p1.size)} rescued-by-t2=${rescued.size}")
    assert(rescued.nonEmpty,
      "degree-guarantee union is vacuous: no vector isolated in table 1 found a peer in table 2")
  }

  test("nn-descent refines knn-graph recall and keeps the exact-cosine contract") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val vecs = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
    def cosU(a: Array[Float], b: Array[Float]): Long =
      math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) * 1000000.0).toLong
    val k = Similarity.KnnK
    // exact (brute-force) k-NN ground truth — corpus is tiny at spec scale
    val exact = vecs.keys.map { v =>
      v -> vecs.keys.filter(_ != v).toSeq
        .sortBy(u => (-cosU(vecs(v), vecs(u)), u)).take(k).toSet
    }.toMap
    def edgesOf(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("vec_id", "nbr_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recallOf(e: Map[Long, Set[Long]]): Double =
      vecs.keys.toSeq.map { v =>
        exact(v).intersect(e.getOrElse(v, Set.empty)).size.toDouble / k
      }.sum / vecs.size
    val rows = Similarity.nnDescent(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // exact-cosine + ranking contract: every emitted score is the shared
    // integer-micro cosine, ranks are contiguous from 1 per vertex, and
    // cos_u is non-increasing in rank
    rows.foreach { case (v, _, u, c) =>
      assert(c === cosU(vecs(v), vecs(u)), s"cos_u of ($v,$u)")
    }
    rows.groupBy(_._1).foreach { case (v, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1L to sorted.length).toSeq, s"ranks of $v")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 > b._4 || (a._4 == b._4 && a._3 < b._3), s"order at $v")
        case _ =>
      }
      assert(rs.length <= k)
    }
    // an isolated vector (no bucket peer in either LSH table) has no
    // two-hop path either: nn-descent must not invent edges for it
    val g0 = edgesOf(Similarity.knnGraph(spark, dir))
    val gN = rows.map(t => (t._1, t._3)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    assert(gN.keySet === g0.keySet,
      "nn-descent changed the reachable vertex set")
    // the refinement floor: descent recall must be >= the LSH build it
    // refines (measured: it strictly improves on this corpus)
    val (r0, rN) = (recallOf(g0), recallOf(gN))
    info(f"knn-graph recall@$k: $r0%.3f -> nn-descent: $rN%.3f (${vecs.size} vectors)")
    assert(rN >= r0, f"nn-descent lost recall: $rN%.3f < $r0%.3f")
  }

  test("graph-ANN beam search matches a Scala walk re-derivation and beats the seed scan") {
    import spark.implicits._
    val vecs = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
    def cosU(a: Array[Float], b: Array[Float]): Long =
      math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) * 1000000.0).toLong
    val und = Similarity.nnDescent(spark, dir).collect()
      .flatMap { r =>
        val (v, u) = (r.getAs[Long]("vec_id"), r.getAs[Long]("nbr_id"))
        Seq(v -> u, u -> v)
      }.distinct.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val pmod = Similarity.ivfProbeMod(vecs.size.toLong)
    val probes = vecs.keys.filter(_ % pmod == 0).toSeq.sorted
    val seeds = vecs.keys.filter(_ % pmod == 1).toSeq
    assert(probes.nonEmpty && seeds.nonEmpty)
    def topB(p: Long, cands: Set[Long], b: Int): Seq[Long] =
      (cands - p).toSeq.sortBy(v => (-cosU(vecs(p), vecs(v)), v)).take(b)
    // the full walk re-derived: seed beam, then expand/rescore/keep
    val expected = probes.flatMap { p =>
      var beam = topB(p, seeds.toSet, Similarity.BeamB)
      for (_ <- 1 to Similarity.BeamHops) {
        val cands = beam.toSet ++ beam.flatMap(v => und.getOrElse(v, Set.empty))
        beam = topB(p, cands, Similarity.BeamB)
      }
      beam.take(5).zipWithIndex.map { case (v, i) =>
        (p, (i + 1).toLong, v, cosU(vecs(p), vecs(v)))
      }
    }
    val got = Similarity.graphTopk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected, "beam walk diverged from the Scala re-derivation")
    // the graph walk must add recall over scanning the seeds alone
    def recallOf(res: Map[Long, Set[Long]]): Double =
      probes.map { p =>
        val exact = topB(p, vecs.keySet, 5).toSet
        exact.intersect(res.getOrElse(p, Set.empty)).size.toDouble / 5
      }.sum / probes.size
    val beamR = recallOf(got.groupBy(_._1).view
      .mapValues(_.map(_._3).toSet).toMap)
    val seedR = recallOf(probes.map(p =>
      p -> topB(p, seeds.toSet, 5).toSet).toMap)
    info(f"graph beam recall@5: $beamR%.3f vs seed-scan $seedR%.3f (${probes.size} probes)")
    assert(beamR >= seedR, f"the walk lost recall: $beamR%.3f < $seedR%.3f")
  }

  test("vad segments match a Scala re-derivation; multi-segment clips exist") {
    import graft.ops.Multimodal
    val expected = docs.toSeq.flatMap { case (id, text) =>
      val cps = text.codePoints().toArray
      val samples = Array.tabulate(Multimodal.WavSamples)(i =>
        if (i < cps.length) ((cps(i) % 256) * 257 - 32768).toLong else 0L)
      val energies = samples.grouped(Multimodal.WavFrameLen)
        .map(fr => fr.map(s => s * s).sum).toArray
      val n = energies.length.toLong
      val tot = energies.sum
      val active = energies.map(e => e * n > tot)
      // islands of consecutive active frames
      val segs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var i = 0
      while (i < active.length) {
        if (active(i)) {
          val start = i
          var sumE = 0L
          while (i < active.length && active(i)) { sumE += energies(i); i += 1 }
          segs += ((start.toLong, (i - start).toLong, sumE))
        } else i += 1
      }
      segs.zipWithIndex.map { case ((st, nf, se), k) =>
        (id, (k + 1).toLong, st, nf, se)
      }
    }.sortBy(r => (r._1, r._2))
    val got = Multimodal.vad(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected, "vad diverged from the Scala re-derivation")
    // the island machinery must be exercised: some clip has >1 segment
    assert(expected.exists(_._2 >= 2), "no multi-segment clip at spec scale")
  }

  test("graph-ANN serve split: one persisted index serves both probe cohorts") {
    import spark.implicits._
    // the staged index is memoized per corpus dir: two reads resolve
    // to the SAME parquet files (a rebuild would stage a fresh dir)
    val f1 = Similarity.graphIndex(spark, dir).inputFiles.toSeq.sorted
    val f2 = Similarity.graphIndex(spark, dir).inputFiles.toSeq.sorted
    assert(f1.nonEmpty && f1 === f2, "index was rebuilt instead of reused")
    // the persisted edges are exactly the build op's edges
    val idx = Similarity.graphIndex(spark, dir)
      .select("vec_id", "nbr_id", "cos_u").as[(Long, Long, Long)]
      .collect().toSet
    val built = Similarity.nnDescent(spark, dir)
      .select("vec_id", "nbr_id", "cos_u").as[(Long, Long, Long)]
      .collect().toSet
    assert(idx === built, "persisted index drifted from the build")
    // the second cohort's walk, re-derived: same graph, probes at
    // residue 2 — serving is a pure read path over the shared index
    val vecs = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
    def cosU(a: Array[Float], b: Array[Float]): Long =
      math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) * 1000000.0).toLong
    val und = idx.toSeq.flatMap { case (v, u, _) => Seq(v -> u, u -> v) }
      .distinct.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val pmod = Similarity.ivfProbeMod(vecs.size.toLong)
    val probes = vecs.keys.filter(_ % pmod == 2).toSeq.sorted
    val seeds = vecs.keys.filter(_ % pmod == 1).toSeq
    assert(probes.nonEmpty && seeds.nonEmpty)
    def topB(p: Long, cands: Set[Long], b: Int): Seq[Long] =
      (cands - p).toSeq.sortBy(v => (-cosU(vecs(p), vecs(v)), v)).take(b)
    val expected = probes.flatMap { p =>
      var beam = topB(p, seeds.toSet, Similarity.BeamB)
      for (_ <- 1 to Similarity.BeamHops) {
        val cands = beam.toSet ++ beam.flatMap(v => und.getOrElse(v, Set.empty))
        beam = topB(p, cands, Similarity.BeamB)
      }
      beam.take(5).zipWithIndex.map { case (v, i) =>
        (p, (i + 1).toLong, v, cosU(vecs(p), vecs(v)))
      }
    }
    val got = Similarity.graphTopk2(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected,
      "second-cohort walk diverged from the Scala re-derivation")
  }

  /** Scala phase-1 Louvain re-derivation shared by the two louvain
    * specs: returns (verts, ke, m, deg, nbrs, final assignment).
    */
  private def louvainPhase1(): (Seq[Long], Seq[(Long, Long)], Long,
      Map[Long, Long], Map[Long, Seq[Long]], Map[Long, Long]) = {
    import spark.implicits._
    import graft.ops.Graph
    val verts = Tables(spark, dir, "embeddings").select("vec_id")
      .as[Long].collect().toSeq.sorted
    val ke = Similarity.knnGraph(spark, dir).collect()
      .map { r =>
        val (a, b) = (r.getAs[Long]("vec_id"), r.getAs[Long]("nbr_id"))
        (math.min(a, b), math.max(a, b))
      }.distinct.toSeq
    val m = ke.size.toLong
    val und = ke.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val nbrs = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = nbrs.view.mapValues(_.size.toLong).toMap
    var asn = verts.map(v => v -> v).toMap
    for (_ <- 1 to Graph.LvRounds)
      asn = lvMoveRound(verts, nbrs, deg, m, asn)
    (verts, ke, m, deg, nbrs, asn)
  }

  /** One synchronous local-move round — the shared rule of the three
    * louvain specs.
    */
  private def lvMoveRound(verts: Seq[Long], nbrs: Map[Long, Seq[Long]],
      deg: Map[Long, Long], m: Long,
      asn: Map[Long, Long]): Map[Long, Long] = {
    // .keys is a Set — map BEFORE summing would dedup equal degrees
    val stot = asn.groupBy(_._2).view
      .mapValues(_.keys.toSeq.map(v => deg.getOrElse(v, 0L)).sum).toMap
    verts.map { v =>
      val own = asn(v)
      val e = nbrs.getOrElse(v, Seq.empty).groupBy(asn).view
        .mapValues(_.size.toLong).toMap
      val cands = (e.keySet + own).toSeq
      val dv = deg.getOrElse(v, 0L)
      val best = cands.minBy { c =>
        val sc = 4L * m * e.getOrElse(c, 0L) -
          2L * dv * (stot(c) - (if (c == own) dv else 0L))
        (-sc, c)
      }
      v -> best
    }.toMap
  }

  test("louvain synchronous moves match a Scala re-derivation and beat singletons") {
    val (verts, ke, m, deg, _, asn) = louvainPhase1()
    val sizes = asn.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val expected = verts.map(v => (v, asn(v), sizes(asn(v))))
    val got = graft.ops.Graph.louvain(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expected, "louvain diverged from the Scala re-derivation")
    // the optimized partition must beat the singleton null partition
    // on the exact integer modularity numerator Σ(4m·L_c − d_c²)
    def modNum(a: Map[Long, Long]): Long = {
      val lIn = ke.count { case (x, y) => a(x) == a(y) }.toLong
      // Σ_c d_c² — the penalty term; singletons: Σ_v deg_v²
      val dsq = a.groupBy(_._2).values
        .map(g => { val d = g.keys.toSeq.map(v => deg.getOrElse(v, 0L)).sum; d * d }).sum
      4L * m * lIn - dsq
    }
    val (q0, qF) = (modNum(verts.map(v => v -> v).toMap), modNum(asn))
    info(s"modularity numerator: singleton $q0 -> louvain $qF " +
      s"(communities ${sizes.size}, edges $m)")
    assert(qF > q0, "louvain did not improve on the singleton partition")
  }

  test("louvain convergence loop: stability round count and assignment match the re-derivation") {
    import graft.ops.Graph
    val (verts, _, m, deg, nbrs, _) = louvainPhase1()
    val mx = Graph.LvConvMax
    // re-derivation mirrors the operator's rule: stop at fixpoint
    // (a_t = a_{t-1}) or 2-cycle (a_t = a_{t-2}); on a 2-cycle emit
    // the frame with the cap's parity — the full unroll's a_max
    var asn = verts.map(v => v -> v).toMap
    var prev: Map[Long, Long] = null
    var t = 0
    var nRounds = mx.toLong
    var converged = false
    var viaCycle = false
    while (t < mx && !converged) {
      t += 1
      val next = lvMoveRound(verts, nbrs, deg, m, asn)
      if (next == asn) { converged = true; nRounds = t.toLong; asn = next }
      else if (prev != null && next == prev) {
        converged = true; viaCycle = true; nRounds = t.toLong
        if ((mx - t) % 2 == 0) asn = next // else keep a_{t-1}
      }
      if (!converged) { prev = asn; asn = next }
    }
    val sizes = asn.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val expected = verts.map(v => (v, asn(v), sizes(asn(v)), nRounds))
    val got = Graph.louvainConv(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected,
      "convergence loop diverged from the Scala re-derivation")
    info(s"${if (viaCycle) "2-cycle" else "fixpoint"} after $nRounds/$mx " +
      s"rounds (${sizes.size} communities)")
    // periodicity — the property that makes the early exit equal to
    // the oracle's full unroll: one more round must land back on a
    // frame of the detected cycle (period 1 or 2)
    if (converged) {
      val again = lvMoveRound(verts, nbrs, deg, m, asn)
      assert(again == asn ||
        lvMoveRound(verts, nbrs, deg, m, again) == asn,
        "detected cycle was not periodic")
    }
    // the early exit must actually engage on this corpus — otherwise
    // the row silently degrades to the fixed-depth variant
    assert(converged, s"no stability detected within $mx rounds")
  }

  test("community conductance matches a Scala edge-classification re-derivation") {
    import graft.ops.Graph
    val (verts, ke, m, deg, _, asn) = louvainPhase1()
    val byComm = verts.groupBy(asn)
    val expected = byComm.toSeq.map { case (c, vs) =>
      val internal = ke.count { case (a, b) => asn(a) == c && asn(b) == c }
      val cutE = ke.count { case (a, b) =>
        (asn(a) == c) != (asn(b) == c)
      }
      val vol = vs.map(v => deg.getOrElse(v, 0L)).sum
      val denom = math.min(vol, 2 * m - vol)
      val cond = if (denom > 0) 1000000L * cutE / denom else -1L
      (c, vs.length.toLong, internal.toLong, cutE.toLong, vol, cond)
    }.sortBy(_._1)
    val got = Graph.conductance(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected, "conductance diverged from the re-derivation")
    // the report must discriminate: separated AND leaky communities
    val conds = expected.map(_._6).filter(_ >= 0)
    assert(conds.exists(_ < 500000) && conds.exists(_ > 500000),
      "conductance report is degenerate at spec scale")
  }

  test("k-truss peel matches a Scala re-derivation; truss is strictly inside the graph") {
    import graft.ops.Graph
    val (_, ke, _, _, _, _) = louvainPhase1()
    var edges = ke.toSet
    var t = 0
    var nRounds = Graph.TrussMax.toLong
    var converged = false
    def sup(es: Set[(Long, Long)]): Map[(Long, Long), Long] = {
      val adj = es.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      es.toSeq.map { case (a, b) =>
        (a, b) -> adj.getOrElse(a, Set.empty)
          .intersect(adj.getOrElse(b, Set.empty)).size.toLong
      }.toMap
    }
    while (t < Graph.TrussMax && !converged) {
      t += 1
      val s = sup(edges)
      val next = edges.filter(e => s(e) >= Graph.TrussK - 2)
      if (next.size == edges.size) { converged = true; nRounds = t.toLong }
      edges = next
    }
    val fs = sup(edges)
    val expected = edges.toSeq.sorted
      .map { case (a, b) => (a, b, fs((a, b)), nRounds) }
    val got = Graph.ktruss(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected, "k-truss peel diverged from the re-derivation")
    assert(converged, s"peel did not converge within ${Graph.TrussMax} rounds")
    // the truss is a strict refinement: nonempty, and smaller than the
    // graph (otherwise the peel proved nothing on this corpus)
    assert(edges.nonEmpty && edges.size < ke.size,
      s"degenerate truss: ${edges.size} of ${ke.size} edges")
    info(s"truss ${edges.size}/${ke.size} edges after $nRounds rounds")
  }

  test("multi-level louvain matches a Scala re-derivation of contraction + weighted moves") {
    import graft.ops.Graph
    val (verts, ke, m, deg, _, asn1) = louvainPhase1()
    // contraction: weighted inter-community edges + weighted degrees
    val inter = ke.map { case (a, b) => (asn1(a), asn1(b)) }
      .filter { case (ca, cb) => ca != cb }
    val wund = inter.flatMap { case (ca, cb) => Seq((ca, cb), (cb, ca)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap // (s,d) -> w
    val supers = asn1.values.toSeq.distinct.sorted
    val kw = supers.map { c =>
      c -> asn1.collect { case (v, cc) if cc == c => deg.getOrElse(v, 0L) }.sum
    }.toMap
    val wnbrs = wund.keys.toSeq.groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    var asn2 = supers.map(s => s -> s).toMap
    for (_ <- 1 to Graph.LvRounds2) {
      val stot = asn2.groupBy(_._2).view
        .mapValues(_.keys.toSeq.map(kw).sum).toMap
      asn2 = supers.map { s =>
        val own = asn2(s)
        val e = wnbrs.getOrElse(s, Seq.empty).groupBy(asn2).view
          .mapValues(_.map(d => wund((s, d))).sum).toMap
        val cands = (e.keySet + own).toSeq
        val ks = kw(s)
        val best = cands.minBy { c =>
          val sc = 4L * m * e.getOrElse(c, 0L) -
            2L * ks * (stot(c) - (if (c == own) ks else 0L))
          (-sc, c)
        }
        s -> best
      }.toMap
    }
    val proj = verts.map(v => v -> asn2(asn1(v))).toMap
    val sizes = proj.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val expected = verts.map(v => (v, proj(v), sizes(proj(v))))
    val got = Graph.louvain2(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expected,
      "multi-level louvain diverged from the Scala re-derivation")
    // coarse moves must merge something phase 1 could not
    def modNum(a: Map[Long, Long]): Long = {
      val lIn = ke.count { case (x, y) => a(x) == a(y) }.toLong
      val dsq = a.groupBy(_._2).values
        .map(g => { val d = g.keys.toSeq.map(v => deg.getOrElse(v, 0L)).sum; d * d }).sum
      4L * m * lIn - dsq
    }
    val (q1, q2) = (modNum(asn1), modNum(proj))
    info(s"modularity numerator: phase-1 $q1 -> multi-level $q2 " +
      s"(communities ${asn1.values.toSet.size} -> ${sizes.size})")
    assert(sizes.size < asn1.values.toSet.size,
      "the coarse phase merged nothing at spec scale")
  }

  test("k-center coreset matches a Scala greedy re-derivation") {
    import spark.implicits._
    import graft.ops.Sampling
    val vecs = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
    def cosU(a: Array[Float], b: Array[Float]): Long =
      math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) * 1000000.0).toLong
    val seed = vecs.keys.minBy(id => (md5Int(s"cs:$id"), id))
    var chosen = Vector(seed)
    val expected = scala.collection.mutable.ArrayBuffer((1L, seed, 2000000L))
    for (r <- 2 to Sampling.CoresetK) {
      val minD = vecs.keys.map { v =>
        v -> chosen.map(c => 1000000L - cosU(vecs(v), vecs(c))).min
      }.toMap
      val next = vecs.keys.maxBy(v => (minD(v), -v))
      expected += ((r.toLong, next, minD(next)))
      chosen :+= next
    }
    val got = Sampling.coreset(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expected.toSeq)
    // the coverage radius can only shrink as centers are added
    val radii = got.drop(1).map(_._3)
    radii.sliding(2).foreach { case Seq(a, b) => assert(b <= a, s"radius grew: $got") }
  }

  test("diverse sample covers every occupied bucket exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count()
    val nbits = graft.ops.Similarity.lshBits(n)
    val buckets = emb.select(col("vec_id"),
        graft.ops.Similarity.bucketN(col("embedding"), nbits).as("b"))
      .as[(Long, Long)].collect().toMap
    val rows = graft.ops.Sampling.diverse(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(rows.map(_._1).distinct.length === rows.length, "duplicate bucket rows")
    assert(rows.map(_._1).toSet === buckets.values.toSet, "must cover every occupied bucket")
    rows.foreach { case (b, rep, _) =>
      assert(buckets(rep) === b, s"representative $rep not in bucket $b") }
    assert(rows.map(_._3).sum === n, "bucket populations must partition the corpus")
  }

  test("approx quantiles sit one-sided within a bucket width of exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.relational.Queries.cents
    val vals = Tables(spark, dir, "events")
      .select(col("event_type"), cents(col("value")).as("v"))
      .as[(String, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).sorted).toMap
    val rows = graft.ops.Sampling.approxQuantile(spark, dir).collect()
    assert(rows.length === vals.size * graft.ops.Sampling.QuantPs.size)
    rows.foreach { r =>
      val (t, p, n, est) = (r.getString(0), r.getAs[Long]("p"),
        r.getAs[Long]("n"), r.getAs[Long]("est_c"))
      val sorted = vals(t)
      assert(n === sorted.length.toLong)
      val exact = sorted(((p * n + 99) / 100 - 1).toInt)
      assert(est >= exact && est - exact < graft.ops.Sampling.HistWidthC,
        s"$t p$p: est $est vs exact $exact breaks the one-sided bucket bound")
    }
  }

  test("hll day-partials merge to EXACTLY the one-pass sketch, across real days") {
    val rows = graft.ops.Sampling.hllMerge(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // register-wise max IS the union: the merged estimate must equal
      // the direct estimate bit-for-bit, not just approximately
      assert(r.getAs[Boolean]("merge_exact"),
        s"${r.getString(0)}: merged ${r.getAs[Long]("est_u")} != " +
          s"direct ${r.getAs[Long]("direct_u")}")
      // and the merge must actually span multiple day-partials —
      // otherwise the test proves nothing about re-aggregation
      assert(r.getAs[Long]("n_days") > 1L,
        s"${r.getString(0)}: only ${r.getAs[Long]("n_days")} day partial(s)")
    }
  }

  test("hll estimate lands within the m=64 error envelope") {
    val rows = graft.ops.Sampling.hllDistinct(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val est = r.getAs[Long]("est_u").toDouble / 1000.0
      val exact = r.getAs[Long]("exact_distinct").toDouble
      assert(r.getAs[Long]("m_used") <= graft.ops.Sampling.HllM)
      // σ ≈ 1.04/√64 = 13%; allow 3σ for the tiny test cardinalities
      assert(math.abs(est - exact) <= 0.4 * exact + 3,
        s"${r.getString(0)}: est $est vs exact $exact outside the envelope")
    }
  }

  test("png decode round-trips known pixels through the real JDK codec") {
    // "AB" -> pixels [65, 66, 0, ..., 0]: mean_u = 1e6*131/64,
    // checksum = 1*65 + 2*66 = 197 — and the decode path must have
    // gone through actual PNG bytes, not the in-memory raster
    // independent expectation for every doc from the raw text
    val expected = docs.map { case (id, text) =>
      val cps = text.codePoints().toArray
      val px = (0 until 64).map(i => if (i < cps.length) cps(i) % 256 else 0)
      id -> ((1000000L * px.sum) / 64,
        px.zipWithIndex.map { case (p, i) => (i + 1).toLong * p }.sum)
    }
    val df = graft.ops.Multimodal.decodePng(spark, dir)
    assert(df.columns.toSeq === Seq("doc_id", "width", "height", "mean_u", "px_checksum"))
    val got = df.collect().map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("mean_u"), r.getAs[Long]("px_checksum")))).toMap
    assert(got === expected)
  }

  test("wav decode round-trips known samples through the real JDK codec") {
    // sample i = (cp(i) % 256)*257 - 32768, silence past the text end;
    // PCM is lossless, so sums/checksum/peak from the decoded frames
    // must equal the same features derived straight from the text
    import graft.ops.Multimodal.{WavSamples, WavRate}
    val expected = docs.map { case (id, text) =>
      val cps = text.codePoints().toArray
      val s = (0 until WavSamples).map(i =>
        if (i < cps.length) (cps(i) % 256) * 257 - 32768 else 0)
      id -> ((s.map(_.toLong).sum,
        s.zipWithIndex.map { case (v, i) => (i + 1).toLong * v }.sum,
        s.map(v => math.abs(v.toLong)).max))
    }
    val df = graft.ops.Multimodal.decodeWav(spark, dir)
    assert(df.columns.toSeq === Seq(
      "doc_id", "n_samples", "sample_rate", "sum_s", "s_checksum", "peak"))
    val got = df.collect().map { r =>
      assert(r.getAs[Long]("n_samples") === WavSamples.toLong)
      assert(r.getAs[Long]("sample_rate") === WavRate.toLong)
      r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("sum_s"), r.getAs[Long]("s_checksum"), r.getAs[Long]("peak")))
    }.toMap
    assert(got === expected)
  }

  test("audio frame features match a direct PCM re-derivation") {
    // the codec round trip is pinned by the wav-decode spec; here the
    // FRAMING must match: per 64-sample frame, energy Σs², adjacent
    // sign-change count, peak, and sum derived straight from the text
    import graft.ops.Multimodal.{WavSamples, WavFrameLen}
    val expected = docs.toSeq.sortBy(_._1).flatMap { case (id, text) =>
      val cps = text.codePoints().toArray
      val s = (0 until WavSamples).map(i =>
        if (i < cps.length) (cps(i) % 256) * 257 - 32768 else 0)
      s.grouped(WavFrameLen).zipWithIndex.map { case (fr, fi) =>
        val zcr = fr.sliding(2).count { case Seq(a, b) => a.toLong * b < 0; case _ => false }
        (id, fi.toLong, fr.length.toLong,
          fr.map(v => v.toLong * v).sum, zcr.toLong,
          fr.map(v => math.abs(v.toLong)).max, fr.map(_.toLong).sum)
      }
    }
    val got = graft.ops.Multimodal.audioFeats(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got === expected)
    // every doc frames completely: n_samples / frame_len frames each
    assert(got.groupBy(_._1).values.forall(_.length === WavSamples / WavFrameLen))
  }

  test("jp2 decode round-trips known 16-bit pages through our own entropy codec") {
    // pixel i = (cp(i) % 256)*257, zero past the text end; the 5/3
    // transform is reversible, so decoded-pixel features must equal
    // the same features derived straight from the text
    import graft.ops.Multimodal.Jp2Edge
    val n = Jp2Edge * Jp2Edge
    val expected = docs.map { case (id, text) =>
      val cps = text.codePoints().toArray
      val px = (0 until n).map(i => if (i < cps.length) ((cps(i) % 256) * 257).toLong else 0L)
      id -> ((px.sum,
        px.zipWithIndex.map { case (p, i) => (i + 1).toLong * p }.sum,
        px.max))
    }
    val df = graft.ops.Multimodal.decodeJp2(spark, dir)
    assert(df.columns.toSeq === Seq(
      "doc_id", "width", "height", "sum_p", "p_checksum", "peak"))
    val got = df.collect().map { r =>
      assert(r.getAs[Long]("width") === Jp2Edge.toLong)
      assert(r.getAs[Long]("height") === Jp2Edge.toLong)
      r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("sum_p"), r.getAs[Long]("p_checksum"), r.getAs[Long]("peak")))
    }.toMap
    assert(got === expected)
  }

  test("patchify emits exactly the fitting 4x4 patches with exact code-point sums") {
    val rows = graft.ops.Multimodal.patchify(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), (r.getString(3), r.getLong(4))))
      .toMap
    val expected = docs.flatMap { case (id, text) =>
      for {
        py <- 0L to 1L; px <- 0L to 3L
        if text.length >= (py * 4 + 3) * 16 + px * 4 + 4
      } yield {
        val patch = (0 until 4).map { r =>
          text.substring(((py * 4 + r) * 16 + px * 4).toInt, ((py * 4 + r) * 16 + px * 4 + 4).toInt)
        }.mkString
        ((id, px, py), (patch, patch.map(_.toLong).sum))
      }
    }
    assert(rows === expected)
  }

  test("pca projection obeys Cauchy-Schwarz and centers near zero") {
    val rows = Similarity.pcaProject(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, proj, cn2) =>
      // proj² (micro²) ≤ ‖c‖² = cn2·2²⁰ (+2% integer-floor slack)
      assert(proj.toDouble * proj <= 1.02 * cn2.toDouble * 1048576 + 1048576,
        s"vector $id: projection exceeds its centered norm")
    }
    // the corpus is centered, so projections must sum to ~0
    // (each integer mean/floor step contributes < 1 micro-unit/vector)
    val n = rows.length.toLong
    val total = rows.map(_._2).sum
    assert(math.abs(total) <= 70 * n, s"projection sum $total not near zero for n=$n")
    // and the component must actually separate vectors
    assert(rows.map(_._2).distinct.length > n / 10, "projections are degenerate")
  }

  test("ivf Lloyd objective is monotone non-decreasing across rounds") {
    // Spherical k-means: assignment maximizes Σ max-cos given
    // centroids; the mean update improves it given assignment (cos to
    // the cell mean ≡ cos to the normalized mean). Exact monotonicity
    // holds for the true objective; the measured integer one can slip
    // by < 1 micro-unit per vector from the ⌊cos·10⁶⌋ floor plus the
    // micro-int centroid quantization — hence the 2n slack.
    val scoreds = Similarity.ivfLloydScored(spark, dir, 3)
    val objs = scoreds.map(Similarity.cellObjective)
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    objs.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a - 2 * n, s"ivf objective regressed beyond slack: ${objs.mkString(" -> ")}")
    }
    // the first refinement must genuinely move the needle, not no-op
    assert(objs(1) > objs(0), s"first Lloyd round did not improve: ${objs.mkString(" -> ")}")
    info(s"ivf objectives (sum max cos_u): ${objs.mkString(" -> ")}")
  }

  test("pq Lloyd quantization error is monotone non-increasing across rounds") {
    // Classic Lloyd on L2: assignment minimizes per-item error given
    // the codebook; the per-(m, codeword, dim) mean minimizes summed
    // squared error given assignment. Slack: the ⌊L2²·10⁶⌋ floor
    // (< 1/term) plus micro-int codeword quantization (≤ D·10⁻⁶ per
    // term ⇒ ≤ a few units of 10⁻⁶) — 2 units per (vec, m) term.
    val packs = Similarity.pqLloydPacked(spark, dir, 3)
    val errs = packs.map(Similarity.pqObjective)
    val nTerms = spark.read.parquet(s"$dir/embeddings.parquet").count() * Similarity.PqM
    errs.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 2 * nTerms, s"pq error grew beyond slack: ${errs.mkString(" -> ")}")
    }
    assert(errs(1) < errs(0), s"first Lloyd round did not reduce error: ${errs.mkString(" -> ")}")
    info(s"pq quantization errors: ${errs.mkString(" -> ")}")
  }

  test("minhash signatures match an independent Scala derivation") {
    val got = Dedup.minhash(spark, dir).collect()
      .map(r => r.getLong(0) -> (0 until Dedup.MinhashK).map(j => r.getLong(1 + j))).toMap
    val texts = docs
    var checked = 0
    for ((id, text) <- texts.toSeq.sortBy(_._1).take(25)) {
      val t = tokens(text)
      if (t.length >= 3) {
        val shingles = t.sliding(3).map(_.mkString(" ")).toSeq.distinct
        val hs = shingles.map(md5Int)
        val expected = (0 until Dedup.MinhashK).map { j =>
          val (a, b) = Dedup.perm(j)
          hs.map(h => (a * h + b) % Dedup.MinhashP).min
        }
        assert(got(id) === expected, s"doc $id")
        checked += 1
      }
    }
    assert(checked > 10)
  }

  test("simhash matches an independent Scala derivation") {
    val got = Dedup.simhash(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((id, text) <- docs.toSeq.sortBy(_._1).take(25)) {
      val hs = tokens(text).distinct.map(md5Int)
      if (hs.nonEmpty) {
        val expected = (0 until 32).map { i =>
          val vote = hs.map(h => if (((h >> i) & 1) == 1) 1 else -1).sum
          if (vote > 0) 1L << i else 0L
        }.sum
        assert(got(id) === expected, s"doc $id")
      }
    }
  }

  test("cosine cos_u matches an independent double fold") {
    import spark.implicits._
    val vecs = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
    def cosU(a: Array[Float], b: Array[Float]): Long =
      math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) * 1000000.0).toLong
    val got = Similarity.bruteTopk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.nonEmpty)
    got.foreach { case ((p, v), cu) =>
      assert(cu === cosU(vecs(p), vecs(v)), s"pair ($p,$v)")
    }
  }

  test("sim_mmr_topk matches a full Scala greedy MMR re-derivation") {
    import spark.implicits._
    val vecs = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
    def cosU(a: Array[Float], b: Array[Float]): Long =
      math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) * 1000000.0).toLong
    val probes = vecs.keys.filter(_ % 101 == 0).toSeq.sorted
    val expect = probes.flatMap { p =>
      val short = vecs.toSeq.filter(_._1 != p)
        .map { case (id, v) => (id, cosU(vecs(p), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(Similarity.MmrShortlist)
      // (id, rel, mmr): pick 1 is max relevance with mmr = rel
      var sel = Vector((short.head._1, short.head._2, short.head._2))
      var cand = short.tail
      while (sel.length < Similarity.MmrK && cand.nonEmpty) {
        val scoredC = cand.map { case (id, rel) =>
          val maxSim = sel.map(s => cosU(vecs(id), vecs(s._1))).max
          (id, rel, rel - maxSim)
        }
        val best = scoredC.minBy { case (i, _, m) => (-m, i) }
        sel :+= best
        cand = cand.filterNot(_._1 == best._1)
      }
      sel.zipWithIndex.map { case ((id, rel, mmr), i) =>
        (p, (i + 1).toLong, id, rel, mmr)
      }
    }
    val got = Similarity.mmrTopk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === expect)
  }

  test("label-error flags match a majority-vote re-derivation over the knn graph") {
    import spark.implicits._
    val labels = Tables(spark, dir, "embeddings").select("vec_id", "label")
      .as[(Long, Int)].collect().toMap.view.mapValues(_.toLong).toMap
    val edges = Similarity.knnGraph(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("nbr_id"))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val got = graft.ops.Similarity.labelErrors(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(got.size === labels.size)
    labels.foreach { case (v, own) =>
      val nbrs = edges.getOrElse(v, Seq.empty).map(labels)
      val (expMaj, expCnt) =
        if (nbrs.isEmpty) (-1L, 0L)
        else {
          val grouped = nbrs.groupBy(identity).view.mapValues(_.size.toLong).toSeq
          val m = grouped.minBy { case (l, c) => (-c, l) }
          (m._1, m._2)
        }
      val expAgree = nbrs.count(_ == own).toLong
      val expFlag = if (expMaj != own && expCnt * 2 > nbrs.size) 1L else 0L
      assert(got(v) === ((own, nbrs.size.toLong, expMaj, expCnt, expAgree, expFlag)),
        s"vec $v")
    }
    // the screen is non-trivial on this corpus: both flag arms occur
    assert(got.values.exists(_._6 == 1L) && got.values.exists(_._6 == 0L))
  }

  test("hamming ANN distances are exact and recall stays above the floor") {
    import spark.implicits._
    val vecs = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    def sig(v: Array[Float]): Long =
      (0 until 64).map(d => if (v(d) > 0f) 1L << d else 0L).sum
    val rows = Similarity.hammingTopk(spark, dir).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"), r.getAs[Long]("ham")))
    assert(rows.nonEmpty)
    rows.foreach { case (p, v, h) =>
      assert(h === java.lang.Long.bitCount(sig(vecs(p)) ^ sig(vecs(v))).toLong,
        s"hamming of ($p,$v)")
    }
    // recall@5 vs exact cosine over the SAME probe set (Scala brute):
    // the shortlist-then-rerank pipeline must beat the raw signature
    // ranking (measured ≈0.22) by a wide margin
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
    def cos(a: Array[Float], b: Array[Float]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val mine = rows.map(t => (t._1, t._2)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val recall = mine.keys.toSeq.map { p =>
      val exact = vecs.keys.filter(_ != p).toSeq
        .sortBy(v => (-cos(vecs(p), vecs(v)), v)).take(5).toSet
      exact.intersect(mine(p)).size.toDouble / 5
    }.sum / mine.size
    info(f"hamming shortlist-rerank recall@5 (${mine.size} probes): $recall%.3f")
    assert(recall >= 0.45, f"hamming rerank recall collapsed: $recall%.3f")
  }

  test("moment power sums merge by addition and satisfy Cauchy-Schwarz") {
    import org.apache.spark.sql.functions._
    val whole = ops.Sampling.moments(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    whole.foreach { case (t, (n, s1, s2)) =>
      assert(n * s2 >= s1 * s1, s"$t: E[v²] < E[v]² — impossible")
    }
    // partials over a day-parity split re-merge to the whole by
    // addition — the mergeability contract, re-derived independently
    val ev = Tables(spark, dir, "events")
      .withColumn("sec", graft.relational.Queries.nsToSec(col("ts")))
      .select(col("event_type"), floor(col("value")).cast("long").as("v"),
        (expr("sec div 86400L") % 2).as("par"))
    val parts = ev.groupBy("event_type", "par")
      .agg(count(lit(1)).as("n"), sum("v").as("s1"),
        sum(col("v") * col("v")).as("s2"))
      .groupBy("event_type")
      .agg(sum("n").as("n"), sum("s1").as("s1"), sum("s2").as("s2"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(parts === whole, "power-sum partials did not re-merge")
  }

  test("sq topk: int8 bound, high recall, exact-cosine order") {
    val vecs = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
    def cos(a: Array[Float], b: Array[Float]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    // the quantization respects the int8 envelope on every vector
    vecs.values.foreach { v =>
      val n = math.sqrt(dot(v, v))
      v.foreach { x =>
        val q = math.floor(x.toDouble * 127.0 / n + 0.5)
        assert(q >= -127 && q <= 127, s"quantized value $q outside int8")
      }
    }
    val rows = Similarity.sqTopk(spark, dir).collect()
    val mine = rows.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = mine.keys.toSeq.map { p =>
      val exact = vecs.keys.filter(_ != p).toSeq
        .sortBy(v => (-cos(vecs(p), vecs(v)), v)).take(5).toSet
      exact.intersect(mine(p)).size.toDouble / 5
    }.sum / mine.size
    info(f"sq shortlist-rerank recall@5 (${mine.size} probes): $recall%.3f")
    // int8 at 8 bits/dim should land near-exact — well above the
    // hamming (1 bit/dim, floor 0.45) and pq (0.75 bits/dim) siblings
    assert(recall >= 0.85, f"sq recall collapsed: $recall%.3f")
    // emitted order is the exact-cosine order
    rows.groupBy(_.getAs[Long]("probe_id")).foreach { case (p, rs) =>
      val cosines = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("cos_u"))
      assert(cosines === cosines.sortBy(-_), s"probe $p not cosine-ordered")
    }
  }

  test("pq refine beats raw pq recall on the same probes and keeps exact cosines") {
    import spark.implicits._
    val vecs = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
    def cos(a: Array[Float], b: Array[Float]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    def recallOf(rows: Seq[(Long, Long)]): Double = {
      val mine = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      mine.keys.toSeq.map { p =>
        val exact = vecs.keys.filter(_ != p).toSeq
          .sortBy(v => (-cos(vecs(p), vecs(v)), v)).take(5).toSet
        exact.intersect(mine(p)).size.toDouble / 5
      }.sum / mine.size
    }
    val refined = Similarity.pqRefine(spark, dir).collect()
    val rRef = recallOf(refined.map(r =>
      (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"))).toSeq)
    val rRaw = recallOf(Similarity.pqTopk(spark, dir).collect().map(r =>
      (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"))).toSeq)
    info(f"pq refine recall@5: $rRef%.3f vs raw adc $rRaw%.3f")
    assert(rRef >= rRaw, f"the exact re-rank lost recall: $rRef%.3f < $rRaw%.3f")
    assert(rRef >= 0.6, f"refine recall collapsed: $rRef%.3f")
    // the composed IVF-ADC index gains the same way on ITS probe set
    // (recall here is vs the probed-cells candidate ceiling)
    val rIvfRef = recallOf(Similarity.ivfpqRefine(spark, dir).collect().map(r =>
      (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"))).toSeq)
    val rIvfRaw = recallOf(Similarity.ivfpqTopk(spark, dir).collect().map(r =>
      (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"))).toSeq)
    info(f"ivfpq refine recall@5: $rIvfRef%.3f vs raw adc $rIvfRaw%.3f")
    assert(rIvfRef >= rIvfRaw,
      f"ivfpq re-rank lost recall: $rIvfRef%.3f < $rIvfRaw%.3f")
    // the ride-along cosine is the exact one, and the emitted order is
    // the exact-cosine order (not the ADC order)
    refined.groupBy(_.getAs[Long]("probe_id")).foreach { case (p, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      val cosines = sorted.map(_.getAs[Long]("cos_u"))
      assert(cosines === cosines.sortBy(-_), s"probe $p not cosine-ordered")
      sorted.foreach { r =>
        val expected = math.floor(
          cos(vecs(p), vecs(r.getAs[Long]("vec_id"))) * 1e6).toLong
        assert(math.abs(r.getAs[Long]("cos_u") - expected) <= 1,
          s"probe $p vec ${r.getAs[Long]("vec_id")} cosine drifted")
      }
    }
  }

  test("filtered ANN returns only the probe's label with dense ranks") {
    import spark.implicits._
    val labels = Tables(spark, dir, "embeddings").select("vec_id", "label")
      .as[(Long, Int)].collect().toMap.view.mapValues(_.toLong).toMap
    val rows = Similarity.filteredTopk(spark, dir).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Long]("label")))
    assert(rows.nonEmpty)
    rows.foreach { case (p, _, v, l) =>
      assert(l === labels(p), s"probe $p got a foreign-label result")
      assert(l === labels(v), s"result $v mislabeled")
    }
    rows.groupBy(_._1).foreach { case (p, es) =>
      assert(es.map(_._2).sorted.toSeq === (1L to es.length).toSeq, s"ranks of $p not dense")
      assert(es.length <= 5)
    }
  }

  test("hybrid rrf fusion matches a Scala re-derivation") {
    import spark.implicits._
    val vecs = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
    def cosU(a: Array[Float], b: Array[Float]): Long =
      math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) * 1000000.0).toLong
    val n = docs.size.toLong
    val pmod = Similarity.ivfProbeMod(n)
    // inverted bigram index with the stopphrase prune
    val docBigrams = docs.map { case (id, text) =>
      id -> tokens(text).sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet
    }
    val df = docBigrams.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val idf = df.collect { case (g, d) if d * 4 <= n =>
      g -> math.floor(1000000.0 * n / d).toLong }.toMap
    val probes = docs.keys.filter(_ % pmod == 0).toSeq.sorted
    val expected = probes.flatMap { p =>
      val pg = docBigrams(p).filter(idf.contains)
      // lexical recall depth mirrors the engine: top-HybridShortlist
      // by (lex_u desc, doc_id) BEFORE the dense rerank join
      val cands = docBigrams.collect {
        case (d, gs) if d != p && gs.exists(pg.contains) =>
          (d, pg.intersect(gs).toSeq.map(idf).sum)
      }.toSeq
        .sortBy { case (d, l) => (-l, d) }
        .take(Similarity.HybridShortlist)
        .filter { case (d, _) => vecs.contains(d) }
        .map { case (d, l) => (d, l, cosU(vecs(p), vecs(d))) }
      if (cands.isEmpty) Nil else {
        val lexRank = cands.sortBy { case (d, l, _) => (-l, d) }
          .zipWithIndex.map { case ((d, _, _), i) => d -> (i + 1L) }.toMap
        val cosRank = cands.sortBy { case (d, _, c) => (-c, d) }
          .zipWithIndex.map { case ((d, _, _), i) => d -> (i + 1L) }.toMap
        cands.map { case (d, l, c) =>
          val rrf = 1000000L / (Similarity.RrfK + lexRank(d)) +
            1000000L / (Similarity.RrfK + cosRank(d))
          (d, rrf, l, c, lexRank(d), cosRank(d))
        }.sortBy { case (d, rrf, _, _, _, _) => (-rrf, d) }.take(5)
          .zipWithIndex.map { case ((d, rrf, l, c, lr, cr), i) =>
            (p, i + 1L, d, rrf, l, c, lr, cr) }
      }
    }.toSet
    val got = Similarity.hybridRrf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSet
    assert(got === expected)
  }

  test("rolling fingerprint matches an independent fold") {
    val got = TextAnalysis.fingerprint(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    for ((id, text) <- docs.toSeq.sortBy(_._1).take(25)) {
      val expected = tokens(text).foldLeft(0L)((h, t) => (h * 31 + md5Int(t)) % 2147483647L)
      assert(got(id) === expected, s"doc $id")
    }
  }

  test("ngram_jaccard finds true pairs straddling a length-bucket edge") {
    // Two near-dup docs with 15 vs 17 distinct tokens: the retired
    // (lang, nt div 8) blocking put them in buckets 1 vs 2 and silently
    // dropped the pair; the LSH band-candidate path must find it.
    import spark.implicits._
    val t15 = (1 to 15).map(i => f"w$i%02d")
    val a = t15.mkString(" ")                      // 15 tokens
    val b = (t15 ++ Seq("u16", "u17")).mkString(" ") // 17 tokens, J = 15/17
    val c = (1 to 20).map(i => f"zz$i%02d").mkString(" ") // unrelated
    Scratch.withDir("ngram_spec") { tmp =>
      Seq((1L, "en", a, "synthetic"), (2L, "en", b, "synthetic"),
          (3L, "en", c, "synthetic"))
        .toDF("doc_id", "lang", "text", "source")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val got = graft.ops.Dedup.ngramJaccard(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(5))).toMap
      assert(got.contains((1L, 2L)), "straddling near-dup pair must be found")
      assert(got((1L, 2L)) === ((15L, 17L))) // inter=15, uni=17
      assert(!got.keySet.exists { case (x, y) => x == 3L || y == 3L })
    }
  }

  test("dedup_cluster labels connected near-dup components with min id") {
    import spark.implicits._
    val t15 = (1 to 15).map(i => f"w$i%02d")
    val a = t15.mkString(" ")
    val b = (t15 ++ Seq("u16", "u17")).mkString(" ")
    val c = (t15 ++ Seq("u16", "u17", "u18", "u19")).mkString(" ")
    val d = (1 to 20).map(i => f"zz$i%02d").mkString(" ") // singleton
    Scratch.withDir("cluster_spec") { tmp =>
      Seq((10L, "en", a, "s"), (11L, "en", b, "s"), (12L, "en", c, "s"),
          (13L, "en", d, "s"))
        .toDF("doc_id", "lang", "text", "source")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val got = graft.ops.Dedup.cluster(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === Set((10L, 10L, 3L), (11L, 10L, 3L), (12L, 10L, 3L), (13L, 13L, 1L)))
    }
  }

  test("sample_budget: bucket-threshold selection equals the global greedy prefix") {
    val byDoc = docs.map { case (id, text) =>
      val ts = tokens(text)
      val nTok = ts.length.toLong
      val qU = if (nTok > 0) ts.distinct.length.toLong * 1000000L / nTok else 0L
      (id, qU, nTok)
    }.toSeq
    val budget = byDoc.map(_._3).sum / graft.ops.Sampling.BudgetDiv
    // the naive rule: global (quality desc, doc_id) order, inclusive
    // cumulative tokens within budget
    val ordered = byDoc.sortBy { case (id, q, _) => (-q, id) }
    var cum = 0L
    val expect = ordered.takeWhile { case (_, _, n) => cum += n; cum <= budget }
      .map { case (id, q, n) => id -> ((q, n)) }.toMap
    val got = graft.ops.Sampling.budget(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === expect)
    assert(got.nonEmpty && got.size < byDoc.size,
      "budget selection should be a strict non-empty subset")
  }

  test("sample_curriculum phases match a sort-based decile re-derivation") {
    val rows = graft.ops.Sampling.curriculum(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val scores = rows.map(_._2).sorted
    val n = scores.length.toLong
    // threshold k = min score with cumulative count >= max(1, k*n/10)
    val thresholds = (1 to 9).map { k =>
      val rank = math.max(1L, k * n / 10)
      scores(rank.toInt - 1)
    }
    rows.foreach { case (id, s, p) =>
      val expect = thresholds.count(s >= _).toLong
      assert(p === expect, s"doc $id score $s")
    }
    // phases are monotone in score and the extremes are populated
    assert(rows.filter(_._3 == 0L).nonEmpty && rows.filter(_._3 == 9L).nonEmpty)
  }

  test("stats_exact_median equals the sort-based median per group") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val vals = Tables(spark, dir, "events")
      .select(col("event_type"), graft.relational.Queries.cents(col("value")))
      .as[(String, Long)].collect()
    val expect = vals.groupBy(_._1).map { case (t, xs) =>
      val s = xs.map(_._2).sorted
      val n = s.length
      val v1 = s((n + 1) / 2 - 1)
      val v2 = s((n + 2) / 2 - 1)
      t -> (n.toLong, v1, v2, (v1 + v2) / 2)
    }
    val got = graft.ops.Sampling.exactMedian(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got === expect)
  }

  test("pipeline_incr stages every ingest-day verdict with the right reason") {
    import spark.implicits._
    // 25 alpha tokens, >100 chars: passes every quality rule
    def longText(prefix: String): String =
      (1 to 25).map(i => f"$prefix$i%02dword").mkString(" ")
    val benchText = longText("bench")
    val corpusText = longText("corpus")
    Scratch.withDir("pincr_spec") { tmp =>
      Seq(
        (97L, "en", benchText, "s"),            // benchmark doc (mod 97)
        (1L, "en", corpusText, "s"),            // retained old corpus
        (8L, "en", "x", "s"),                   // batch: fails quality
        (12L, "en", corpusText, "s"),           // batch: near-dup of old 1
        (4L, "en", benchText, "s"),             // batch: contaminated
        (16L, "en", longText("fresh"), "s"))    // batch: admitted
        .toDF("doc_id", "lang", "text", "source")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val got = graft.ops.Pipeline.incr(spark, tmp).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getString(6))).toMap
      assert(got(8L) === ((0L, -1L, -1L, -1L, 0L, "quality")))
      assert(got(12L) === ((1L, 1L, 1L, -1L, 0L, "dup")))
      // contaminated: all 23 shingles of the benchmark doc hit
      assert(got(4L)._1 === 1L && got(4L)._3 === -1L &&
        got(4L)._4 >= 3L && got(4L)._6 === "contaminated")
      assert(got(16L) === ((1L, 0L, -1L, 0L, 1L, "admitted")))
      assert(got.size === 4) // 97 (benchmark) and 1 (old) are not batch rows
    }
  }

  test("the band index survives a parquet round trip with identical verdicts") {
    // the 100 TB claim is that the banded frame is a PERSISTED
    // artifact probed across ingest days: write it to disk, reload,
    // and the admission table must be bit-identical
    val inline = graft.ops.Dedup.incremental(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    Scratch.withDir("bandidx_spec") { tmp =>
      graft.ops.Dedup.incrementalBands(spark, dir)
        .write.mode("overwrite").parquet(s"$tmp/band_index.parquet")
      val reloaded = spark.read.parquet(s"$tmp/band_index.parquet")
      val viaDisk = graft.ops.Dedup.incrementalVs(spark, dir, reloaded).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(inline.nonEmpty && viaDisk.toSeq === inline.toSeq)
    }
  }

  test("dedup_incremental admits against the corpus index with first-occurrence self-dup resolution") {
    import spark.implicits._
    val ta = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val tb = "kilo lima mike november oscar papa quebec romeo sierra tango"
    val tc = "uniform victor whiskey xray yankee zulu anchor breeze canyon dune"
    Scratch.withDir("incr_spec") { tmp =>
      // old corpus: 1 (=A), 5 (unique); new batch (%4==0): 4 (=A, dup of
      // OLD 1), 8 (=B, first occurrence in batch), 12 (=B, dup of
      // EARLIER-IN-BATCH 8), 16 (=C, unique -> kept)
      Seq((1L, "en", ta, "s"), (5L, "en", tc + " extra stray tokens here", "s"),
          (4L, "en", ta, "s"), (8L, "en", tb, "s"), (12L, "en", tb, "s"),
          (16L, "en", "one two three four five six seven eight nine ten", "s"))
        .toDF("doc_id", "lang", "text", "source")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val got = graft.ops.Dedup.incremental(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got === Set(
        (4L, 1L, 1L, 0L),   // candidate {1}, verified dup of old 1
        (8L, 0L, -1L, 1L),  // later batch twin 12 is NOT its candidate
        (12L, 1L, 8L, 0L),  // resolves to its earlier in-batch twin
        (16L, 0L, -1L, 1L)))
    }
  }

  test("dedup_keep_best keeps the highest-quality cluster member, not the min id") {
    import spark.implicits._
    val t15 = (1 to 15).map(i => f"w$i%02d")
    val a = t15.mkString(" ")
    val b = (t15 ++ Seq("u16", "u17")).mkString(" ")
    // same token core (near-dup of a and b) but stopword-rich -> the
    // composite quality score is strictly highest on the LARGEST id
    val c = (t15 ++ Seq("the", "and", "of", "to", "is", "in")).mkString(" ")
    val d = (1 to 20).map(i => f"zz$i%02d").mkString(" ") // singleton
    Scratch.withDir("keepbest_spec") { tmp =>
      Seq((10L, "en", a, "s"), (11L, "en", b, "s"), (12L, "en", c, "s"),
          (13L, "en", d, "s"))
        .toDF("doc_id", "lang", "text", "source")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val rows = graft.ops.Dedup.keepBest(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
      // survivor re-derived from the frame's own scores: argmax by
      // (score_u, -doc_id) per cluster
      rows.groupBy(_._2).foreach { case (_, members) =>
        val expect = members.maxBy(m => (m._4, -m._1))._1
        assert(members.forall(_._5 === expect), s"survivor mismatch in $members")
        assert(members.forall(m => (m._6 === 1L) === (m._1 === expect)))
      }
      // and the fixture is non-trivial: cluster {10,11,12} keeps 12
      // (best score), NOT the min id 10 that dedup_cluster would pick
      val trio = rows.filter(r => Set(10L, 11L, 12L).contains(r._1))
      assert(trio.length === 3 && trio.forall(_._5 === 12L))
      assert(rows.find(_._1 === 13L).get._6 === 1L)
    }
  }

  test("dedup_curve sweeps monotonically and agrees with ngram_jaccard at tau=0.5") {
    val rows = Dedup.curve(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq === (50L to 95L by 5L))
    // raising the threshold can only shrink the surviving set
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._2 <= lo._2, s"pairs grew from tau=${lo._1} to ${hi._1}")
      assert(hi._3 <= lo._3, s"docs grew from tau=${lo._1} to ${hi._1}")
    }
    // the tau=0.50 point IS dedup_ngram_jaccard's verified pair set
    val jac = Dedup.ngramJaccard(spark, dir).collect()
    assert(rows.head._2 === jac.length.toLong)
    assert(rows.head._3 ===
      jac.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct.length.toLong)
    // each doc in a pair is counted once; ppm arithmetic is the
    // floored integer division over the true corpus size
    val n = Tables(spark, dir, "documents").count()
    rows.foreach { r =>
      assert(r._3 <= 2 * r._2)
      assert(r._4 === r._3 * 1000000L / n)
    }
    // the fixture is non-trivial: some pair survives only below the
    // top threshold (the curve actually bends)
    assert(rows.head._2 > rows.last._2)
  }

  test("sample_soft_dedup keeps one hash-uniform survivor per cluster with HT weights") {
    import spark.implicits._
    val t15 = (1 to 15).map(i => f"w$i%02d")
    val a = t15.mkString(" ")
    val b = (t15 ++ Seq("u16", "u17")).mkString(" ")
    val c = (t15 ++ Seq("v16", "v17")).mkString(" ")
    val d = (1 to 20).map(i => f"zz$i%02d").mkString(" ") // singleton
    Scratch.withDir("softdedup_spec") { tmp =>
      Seq((10L, "en", a, "s"), (11L, "en", b, "s"), (12L, "en", c, "s"),
          (13L, "en", d, "s"))
        .toDF("doc_id", "lang", "text", "source")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val rows = graft.ops.Sampling.softDedup(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
      assert(rows.map(_._1).toSet === Set(10L, 11L, 12L, 13L))
      // exactly one survivor per cluster, chosen by (u_hash, doc_id) min
      // — NOT the min id, unless the hash happens to rank it first
      rows.groupBy(_._2).foreach { case (_, members) =>
        val expect = members.minBy(m => (m._4, m._1))._1
        assert(members.count(_._5 === 1L) === 1)
        assert(members.find(_._5 === 1L).get._1 === expect)
        // the survivor carries the full cluster mass; others carry none
        members.foreach { m =>
          assert(m._6 === (if (m._1 === expect) m._3 else 0L))
        }
      }
      // Horvitz-Thompson invariant: total carried weight == corpus size
      assert(rows.map(_._6).sum === rows.length.toLong)
      // the hash is the spec's own md5 re-derivation (engine-independent)
      rows.foreach(m => assert(m._4 === md5Int(s"sd:${m._1}")))
    }
  }

  test("connected components converge on a deep chain within default rounds") {
    // a 400-node path has diameter 399: min-label propagation would
    // need ~399 rounds; star contraction must land the single
    // component inside the default maxRounds=25 (O(log² n))
    import org.apache.spark.sql.functions._
    val n = 400L
    val chain = spark.range(n - 1)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    // shuffle ids through an affine bijection mod n so the chain is
    // NOT min-sorted along its length (the easy case for contraction)
    val scramble = (c: org.apache.spark.sql.Column) => (c * 173 + 41) % n
    val pairs = chain.select(scramble(col("doc_a")).as("doc_a"),
      scramble(col("doc_b")).as("doc_b"))
    val verts = spark.range(n).select(col("id").as("doc_id"))
    val got = graft.ops.Dedup.connectedComponents(pairs, verts).collect()
    assert(got.length === n)
    assert(got.forall(r => r.getLong(1) === 0L && r.getLong(2) === n),
      "every vertex labeled with the component min 0 and size n")
    // and isolated vertices stay singletons alongside a component
    val verts2 = spark.range(n + 3).select(col("id").as("doc_id"))
    val got2 = graft.ops.Dedup.connectedComponents(pairs, verts2)
      .filter(col("doc_id") >= n).collect()
    assert(got2.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ===
      Set((n, n, 1L), (n + 1, n + 1, 1L), (n + 2, n + 2, 1L)))
  }

  test("LSH pair-blocking candidate count grows sub-quadratically") {
    // lshBits scales bucket count with corpus size: 8× the vectors
    // must NOT produce 64× the within-bucket candidate pairs.
    import org.apache.spark.sql.functions._
    assert(Similarity.lshBits(5000) === 8)     // sf-scale: unchanged
    assert(Similarity.lshBits(16384) === 8)
    assert(Similarity.lshBits(131072) === 11)
    assert(Similarity.lshBits(Long.MaxValue) === 24)
    // per-(id,dim) independent pseudo-random components — a smooth
    // formula like sin(id*64+d) is rank-2 (all vectors on a circle),
    // which caps the reachable bucket count at ~2·nbits
    def synth(n: Long) = spark.range(n).select(col("id").as("vec_id"),
      expr("transform(sequence(1, 64), d -> cast(hash(id, d) as float))")
        .as("embedding"))
    def candidatePairs(n: Long): Long =
      synth(n)
        .select(Similarity.bucketN(col("embedding"), Similarity.lshBits(n)).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
        .agg(sum(expr("cnt * (cnt - 1) div 2"))).collect()(0).getLong(0)
    val small = candidatePairs(16384)   //  8 bits: 256 buckets
    val big = candidatePairs(131072)    // 11 bits: 2048 buckets
    assert(small > 0 && big > 0)
    // quadratic growth at fixed buckets would be 64×; with scaled
    // buckets the expectation is 8× — allow generous headroom
    assert(big < 20 * small, s"candidates grew $small -> $big")
  }

  test("capped band candidates bound a degenerate identical family to O(c) star edges") {
    // The pathological LSH input: one boilerplate family of 1000 docs
    // with IDENTICAL signatures (all 4 bands collide for every pair —
    // uncapped output would be C(1000,2) ≈ 5·10⁵ pairs, and 10⁶ docs
    // would make it 5·10¹¹: no join-input skew split can bound pair
    // OUTPUT). The capped stage must emit exactly c−1 star edges.
    import org.apache.spark.sql.functions._
    val family = spark.range(1000).select(col("id").as("doc_id"),
      lit(7L).as("mh0"), lit(7L).as("mh1"), lit(7L).as("mh2"), lit(7L).as("mh3"),
      lit(7L).as("mh4"), lit(7L).as("mh5"), lit(7L).as("mh6"), lit(7L).as("mh7"))
    // plus a small genuine bucket: 5 docs sharing only band 0
    val smallB = spark.range(2000, 2005).select(col("id").as("doc_id"),
      lit(9L).as("mh0"), lit(9L).as("mh1"), (col("id") * 11).as("mh2"),
      (col("id") * 13).as("mh3"), (col("id") * 17).as("mh4"),
      (col("id") * 19).as("mh5"), (col("id") * 23).as("mh6"),
      (col("id") * 29).as("mh7"))
    val capped = Dedup.bandCandidatesCapped(family.union(smallB), cap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val stars = capped.filter(_._3 == 1L)
    val exactPairs = capped.filter(_._3 == 0L)
    assert(stars.length === 999, s"family must shrink to c-1 star edges, got ${stars.length}")
    assert(stars.forall { case (a, b, _) => a === 0L && b >= 1L && b <= 999L },
      "star edges must anchor at the bucket-min doc")
    assert(exactPairs.length === 10) // C(5,2) genuine candidates
    // connectivity is what clustering needs — the star family must
    // stay ONE component labeled by its minimum id
    val pairsDf = Dedup.bandCandidatesCapped(family.union(smallB), cap = 8)
      .select(col("doc_a"), col("doc_b"))
    val verts = family.union(smallB).select(col("doc_id"))
    val comps = Dedup.connectedComponents(pairsDf, verts).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(comps.filter(_._2 == 0L).length === 1000, "family fractured under capping")
    assert(comps.filter(_._1 < 1000L).forall(_._3 == 1000L))
  }

  test("multi-table ANN bucket bits scale with corpus size (bounded candidate growth)") {
    // lshAnnBits mirrors lshBits for the multi-table path: 8× the
    // vectors must NOT produce 64× the same-bucket candidate pairs
    // (the r4 fixed 64-bucket geometry did exactly that). The probe
    // set shares ivfProbeMod, whose ≤64 bound is asserted below.
    import org.apache.spark.sql.functions._
    assert(Similarity.lshAnnBits(500) === 6)
    assert(Similarity.lshAnnBits(5000) === 9)
    assert(Similarity.lshAnnBits(16384) === 10)
    assert(Similarity.lshAnnBits(131072) === 13)
    assert(Similarity.lshAnnBits(Long.MaxValue) === Similarity.LshMaxBits)
    def synth(n: Long) = spark.range(n).select(col("id").as("vec_id"),
      expr("transform(sequence(1, 64), d -> cast(hash(id, d) as float))")
        .as("embedding"))
    // one select per table, unioned: fusing every table's bucketT into
    // one posexplode(array(...)) outgrows the 64 KB generated-method
    // limit (see lshPlanesDf); with fallback off such a plan fails here
    def candidatePairs(n: Long): Long = {
      val nbits = Similarity.lshAnnBits(n)
      val vecs = synth(n)
      (0 until Similarity.LshTables).map(t =>
          vecs.select(lit(t).as("t"),
            Similarity.bucketT(col("embedding"), t, nbits).as("bucket")))
        .reduce(_ union _)
        .groupBy("t", "bucket").agg(count(lit(1)).as("cnt"))
        .agg(sum(expr("cnt * (cnt - 1) div 2"))).collect()(0).getLong(0)
    }
    val fallback = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val (small, big) =
      try (candidatePairs(16384),   // 10 bits: 1024 buckets/table
        candidatePairs(131072))     // 13 bits: 8192 buckets/table
      finally fallback.fold(spark.conf.unset("spark.sql.codegen.fallback"))(
        spark.conf.set("spark.sql.codegen.fallback", _))
    assert(small > 0 && big > 0)
    // with scaled buckets the expectation is 8× (linear); the r4
    // fixed geometry would grow 64× — allow generous headroom
    assert(big < 20 * small, s"ANN candidates grew $small -> $big")
  }

  test("IVF centroid count grows sub-linearly; probe set stays bounded") {
    import Similarity.{ivfCentMod, ivfProbeMod}
    // exact cardinalities of {id : 0 ≤ id < n, id ≡ 0 (mod m)}
    def kCent(n: Long): Long = (n - 1) / ivfCentMod(n) + 1
    def kProbe(n: Long): Long = (n - 1) / ivfProbeMod(n) + 1
    // k ≤ √n at every corpus size (the classic IVF sizing); a fixed
    // modulus (r3's % 499) would give k = n/499 — linear
    Seq(500L, 5000L, 500000L, 5000000L, 5000000000L).foreach { n =>
      assert(kCent(n) * kCent(n) <= 4 * n, s"n=$n k=${kCent(n)} not ~sqrt")
    }
    // 100× the corpus → ~10× the centroids (√100); power-of-two modulus
    // rounding adds ≤2.5×; linear growth would be 100×
    assert(kCent(500000L) <= 25 * kCent(5000L),
      s"centroids grew ${kCent(5000L)} -> ${kCent(500000L)}")
    // the probe broadcast is bounded at any scale
    Seq(500L, 5000L, 5000000L, 5000000000L).foreach { n =>
      assert(kProbe(n) <= 64, s"probe set unbounded at n=$n: ${kProbe(n)}")
    }
  }

  test("text_filter flags synthetic degenerate docs for the right reasons") {
    import spark.implicits._
    val synth = Seq(
      (1L, "Short."),                                           // short + few_tokens
      (2L, "the quick brown fox jumps over one lazy dog while seven bright " +
        "students read many long books about science history art music"),      // clean
      (3L, "12345 67890 " * 20),                                // high_digit + low_alpha
      (4L, ("word " * 60).trim),                                // repetitive (1 distinct / 60)
      (5L, "x".repeat(50) + " the quick brown fox jumps over one lazy dog while " +
        "seven bright students read many long books about science today") // long_token
    ).toDF("doc_id", "text")
    val got = ops.TextAnalysis.filterDocsDf(synth).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("reasons")).toMap
    assert(got(1L) === "short,few_tokens")
    assert(got(2L) === "")
    assert(got(3L).contains("high_digit") && got(3L).contains("low_alpha"))
    assert(got(4L) === "repetitive")
    assert(got(5L) === "long_token")
    val keep = ops.TextAnalysis.filterDocsDf(synth).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keep")).toMap
    assert(keep === Map(1L -> 0L, 2L -> 1L, 3L -> 0L, 4L -> 0L, 5L -> 0L))
  }

  test("text_pii_mask redacts emails, IPs and phones with exact counts") {
    import spark.implicits._
    val synth = Seq(
      (1L, "Contact bob.smith+x@example.co.uk or alice@test.org today"),
      (2L, "Server at 192.168.0.1 and 10.0.0.255, call 555-123-4567 or 555.987.6543"),
      (3L, "No PII here at all")
    ).toDF("doc_id", "text")
    val got = ops.TextAnalysis.piiMaskDf(synth).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_email"), r.getAs[Long]("n_ip"), r.getAs[Long]("n_phone")))).toMap
    assert(got(1L) === ((2L, 0L, 0L)))
    assert(got(2L) === ((0L, 2L, 2L)))
    assert(got(3L) === ((0L, 0L, 0L)))
    // masked_md5 equals the md5 of an independently masked text — the
    // same sequential global replace chain in plain Java regex — which
    // also proves no residual PII survives the chain
    def maskScala(t: String): String = t
      .replaceAll(ops.TextAnalysis.emailPat, "<EMAIL>")
      .replaceAll(ops.TextAnalysis.ipPat, "<IP>")
      .replaceAll(ops.TextAnalysis.phonePat, "<PHONE>")
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val wantMd5 = Map(1L -> "Contact bob.smith+x@example.co.uk or alice@test.org today",
      2L -> "Server at 192.168.0.1 and 10.0.0.255, call 555-123-4567 or 555.987.6543",
      3L -> "No PII here at all").map { case (id, t) =>
      val m = maskScala(t)
      assert(!m.matches(s".*(${ops.TextAnalysis.emailPat}|${ops.TextAnalysis.ipPat}|${ops.TextAnalysis.phonePat}).*"))
      id -> md5Hex(m)
    }
    val gotMd5 = ops.TextAnalysis.piiMaskDf(synth).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("masked_md5")).toMap
    assert(gotMd5 === wantMd5)
  }

  test("Df-based text ops survive empty and whitespace-only docs") {
    import spark.implicits._
    val synth = Seq((1L, ""), (2L, "   "), (3L, "ok then")).toDF("doc_id", "text")
    assert(ops.TextAnalysis.filterDocsDf(synth).count() === 3)
    assert(ops.TextAnalysis.piiMaskDf(synth).count() === 3)
    val flags = ops.TextAnalysis.filterDocsDf(synth).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keep")).toMap
    assert(flags(1L) === 0L) // empty doc is filtered, not crashed on
  }

  test("sample_stratified matches an independent hash-rank derivation") {
    import spark.implicits._
    val got = ops.Sampling.stratified(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"))).toSet
    val bySource = Tables(spark, dir, "documents").select("doc_id", "source")
      .as[(Long, String)].collect().groupBy(_._2)
    val want = bySource.toSeq.flatMap { case (src, rows) =>
      rows.toSeq.map { case (id, _) => (src, id, md5Int(s"$src:$id")) }
        .sortBy(t => (t._3, t._2)).take(ops.Sampling.StratumK)
        .map(t => (t._1, t._2))
    }.toSet
    assert(got === want)
    // every stratum is capped at K
    got.groupBy(_._1).foreach { case (_, s) =>
      assert(s.size <= ops.Sampling.StratumK)
    }
  }

  test("agg_kmv_distinct estimates within KMV error bounds and is exact under K") {
    val rows = ops.Sampling.kmvDistinct(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (kUsed, exact, est) = (r.getAs[Long]("k_used"),
        r.getAs[Long]("exact_users"), r.getAs[Long]("est_distinct"))
      if (kUsed < ops.Sampling.KmvK) assert(est === r.getAs[Long]("n_hash_distinct"))
      else {
        // KMV standard error ~ 1/sqrt(K-2): allow 4 sigma
        val sigma = 4.0 / math.sqrt(ops.Sampling.KmvK - 2.0)
        assert(math.abs(est - exact) <= sigma * exact + 2,
          s"est $est vs exact $exact for ${r.getString(0)}")
      }
    }
  }

  test("dedup_decontaminate matches an independent shingle-overlap derivation") {
    val texts = docs
    def shingleSet(t: String): Set[String] = {
      val tk = tokens(t)
      if (tk.size >= 3) tk.sliding(3).map(_.mkString(" ")).toSet else Set.empty[String]
    }
    val bench = texts.filter(_._1 % 97 == 0).values.flatMap(shingleSet).toSet
    val want = texts.toSeq.flatMap { case (id, t) =>
      if (id % 97 == 0) None
      else {
        val sh = shingleSet(t)
        if (sh.isEmpty) None
        else Some(id -> ((sh.size.toLong, sh.count(bench.contains).toLong)))
      }
    }.toMap
    val got = ops.Dedup.decontaminate(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_shingles"), r.getAs[Long]("n_hit")))).toMap
    assert(got === want)
  }

  test("dedup_containment matches an independent rare-shingle derivation") {
    val texts = docs
    def shingleSet(t: String): Set[String] = {
      val tk = tokens(t)
      if (tk.size >= 3) tk.sliding(3).map(_.mkString(" ")).toSet else Set.empty[String]
    }
    val sh = texts.view.mapValues(shingleSet).toMap
    val df = sh.values.toSeq.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rare = sh.view.mapValues(_.filter(s => df(s) <= ops.Dedup.ContainDfCap)).toMap
    val want = (for {
      (a, ra) <- rare.toSeq; (b, rb) <- rare.toSeq
      if a != b
      shared = ra.intersect(rb).size.toLong
      if shared >= ops.Dedup.ContainMinShared
      inter = sh(a).intersect(sh(b)).size.toLong
      if sh(a).nonEmpty && inter * 100 >= ops.Dedup.ContainTauPct * sh(a).size
    } yield (a, b) -> ((inter, sh(a).size.toLong, sh(b).size.toLong,
      inter * 100 / sh(a).size))).toMap
    val got = ops.Dedup.containment(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getAs[Long]("inter"),
        r.getAs[Long]("ns_sub"), r.getAs[Long]("ns_sup"),
        r.getAs[Long]("cont_pct")))).toMap
    assert(got === want)
    assert(want.nonEmpty, "corpus never exercised containment — thresholds too tight")
  }

  test("sample_class_balance: deterministic fractional replication re-derived") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val labels = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label")).as[(Long, Int)].collect()
    val counts = labels.groupBy(_._2).map { case (l, v) => l -> v.length.toLong }
    val maxN = counts.values.max
    val expected = labels.groupBy(_._2).map { case (l, vs) =>
      val w = 1000000L * maxN / counts(l)
      val reps = vs.map { case (id, _) =>
        w / 1000000L + (if (md5Int(s"bal:$id") % 1000000L < w % 1000000L) 1L else 0L)
      }.sum
      (l, counts(l), w, reps)
    }.toSeq.sortBy(_._1)
    val got = ops.Sampling.classBalance(spark, dir)
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(got === expected)
    // every class is upsampled to within one-per-vector of the target
    got.foreach { case (_, n, w, up) =>
      assert(up >= n && up >= n * (w / 1000000L) && up <= n * (w / 1000000L + 1))
    }
    assert(got.exists(_._3 === 1000000L), "the majority class must keep weight 1")
  }

  test("text_ccnet_buckets: exact 10/40/50 split, scores ordered across buckets") {
    import org.apache.spark.sql.functions.col
    val rows = ops.TextAnalysis.ccnetBuckets(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("min_lm_u"),
          r.getAs[Long]("max_lm_u"))).toMap
    val perSource = Tables(spark, dir, "documents")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perSource.foreach { case (src, n) =>
      def g(b: String) = rows.get((src, b)).map(_._1).getOrElse(0L)
      assert(g("head") === n / 10, s"$src head size")
      assert(g("middle") === n / 2 - n / 10, s"$src middle size")
      assert(g("head") + g("middle") + g("tail") === n, s"$src accounting")
      // quality ordering: every head score >= every middle score, etc.
      for ((hi, lo) <- Seq(("head", "middle"), ("middle", "tail")))
        (rows.get((src, hi)), rows.get((src, lo))) match {
          case (Some(h), Some(l)) => assert(h._2 >= l._3, s"$src $hi/$lo order")
          case _ =>
        }
    }
  }

  test("stats_diversity: exact concentration bounds hold per source") {
    val rows = ops.Sampling.diversity(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, v, c2, conc, top) = (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("vocab"), r.getAs[Long]("sum_c2"),
        r.getAs[Long]("conc_ppm"), r.getAs[Long]("top_ppm"))
      // Cauchy–Schwarz floor: Σc² ≥ N²/V; ceiling: Σc² ≤ max_c·N ≤ N²
      assert(v * c2 >= n * n, s"${r.getString(0)}: Σc² below the uniform floor")
      assert(c2 <= n * n)
      assert(conc >= 1000000L / v - 1 && conc <= 1000000L)
      assert(top >= 1000000L / v - 1 && top <= 1000000L)
      // concentration is at least the top token's squared share
      assert(conc * 1000000L >= top * top - 2 * top,
        s"${r.getString(0)}: λ below top²")
    }
  }

  test("src_stats_prune: the stats-planned read prunes files yet loses no match") {
    import org.apache.spark.sql.functions._
    val r = graft.sources.StatsPrune.statsPrune(spark, dir).collect()(0)
    assert(r.getAs[Long]("files_read") < r.getAs[Long]("files_total"),
      "no file was pruned — the stats plan is a full scan")
    assert(r.getAs[Long]("n_match") <= r.getAs[Long]("rows_read"))
    // full-scan truth computed independently
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("total_c"))
    val mk = o.agg(max("k")).collect()(0).getLong(0)
    val (lo, hi) = ((30L * mk) / 100L, (35L * mk) / 100L)
    val full = o.filter(col("k") >= lo && col("k") <= hi)
      .agg(count(lit(1)), sum("total_c"), sum("k")).collect()(0)
    assert(r.getAs[Long]("n_match") === full.getLong(0))
    assert(r.getAs[Long]("sum_total_c") === full.getLong(1))
    assert(r.getAs[Long]("sum_key") === full.getLong(2))
  }

  test("src_zorder_store: the z-clustered layout prunes the 2-D box yet loses no match") {
    import org.apache.spark.sql.functions._
    val r = graft.sources.ZOrderStore.zorderStore(spark, dir).collect()(0)
    assert(r.getAs[Long]("files_read") < r.getAs[Long]("files_total"),
      "no file was pruned — the z layout did not skip on the 2-D box")
    assert(r.getAs[Long]("n_match") <= r.getAs[Long]("rows_read"))
    // full-scan truth computed independently
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
        floor(col("l_extendedprice") * 100).cast("long").as("price_c"))
    val m = li.agg(max("pk"), max("sk")).collect()(0)
    val (mpk, msk) = (m.getLong(0), m.getLong(1))
    val full = li.filter(col("pk") >= (30L * mpk) / 100L &&
        col("pk") <= (35L * mpk) / 100L &&
        col("sk") >= (30L * msk) / 100L && col("sk") <= (35L * msk) / 100L)
      .agg(count(lit(1)), sum("price_c"), sum("pk")).collect()(0)
    assert(r.getAs[Long]("n_match") === full.getLong(0))
    assert(r.getAs[Long]("sum_price_c") === full.getLong(1))
    assert(r.getAs[Long]("sum_pk") === full.getLong(2))
  }

  test("graph_modularity: exact identities hold and the partition beats the null model") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = ops.Graph.modularity(spark, dir).collect()
    val m = ops.Similarity.knnGraph(spark, dir)
      .select(org.apache.spark.sql.functions.least(col("vec_id"), col("nbr_id")),
        org.apache.spark.sql.functions.greatest(col("vec_id"), col("nbr_id")))
      .distinct().count()
    // Σ d_c = 2m (every edge contributes two degree endpoints)
    assert(rows.map(_.getAs[Long]("d_sum")).sum === 2L * m)
    // internal edges can never exceed the edge count
    val lIn = rows.map(_.getAs[Long]("l_in")).sum
    assert(lIn <= m && lIn > 0)
    // per-row numerator identity against the emitted columns
    rows.foreach { r =>
      assert(r.getAs[Long]("num_c") ===
        4L * m * r.getAs[Long]("l_in") -
          r.getAs[Long]("d_sum") * r.getAs[Long]("d_sum"))
    }
    // Q = Σ num_c / 4m² must be positive: the LP communities capture
    // real k-NN structure, not the random-graph null
    assert(rows.map(_.getAs[Long]("num_c")).sum > 0L)
    // node accounting: every embedding lands in exactly one community
    assert(rows.map(_.getAs[Long]("n_nodes")).sum ===
      Tables(spark, dir, "embeddings").count())
  }

  test("pipeline_backfill splice equals the full recompute, with real pruning") {
    import org.apache.spark.sql.functions._
    val got = ops.Pipeline.backfill(spark, dir)
    val nRe = got.filter(col("recomputed")).count()
    val nKeep = got.filter(!col("recomputed")).count()
    assert(nRe > 0, "no day was recomputed — the correction arm is dead")
    assert(nKeep > 0, "every day was recomputed — the pruning arm is dead")
    // full recompute over the corrected table must equal the splice
    val full = Tables(spark, dir, "events")
      .withColumn("sec", graft.relational.Queries.nsToSec(col("ts")))
      .select(col("event_id"), col("event_type"),
        expr("(sec div 86400L)").as("day"),
        floor(col("value") * 100).cast("long").as("value_c"))
      .withColumn("value_c",
        when(col("event_id") % ops.Pipeline.BackfillMod === 0 &&
          col("day") % 7 === 3, col("value_c") + 7L).otherwise(col("value_c")))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_value_c"))
    val g = got.select("day", "event_type", "n", "sum_value_c")
      .collect().map(_.toSeq).toSet
    val f = full.collect().map(_.toSeq).toSet
    assert(g === f)
  }

  test("dedup_normalized merges case/punctuation variants byte-exact dedup misses") {
    import spark.implicits._
    val df = Seq(
      (1L, "Hello, World!"), (2L, "hello world"), (3L, "HELLO -- WORLD"),
      (4L, "something else entirely")).toDF("doc_id", "text")
    val got = ops.Dedup.normalizedDf(df).collect()
      .map(r => (r.getAs[Long]("canonical"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_variants"))).toSet
    // three raw variants → ONE normalized group carrying n_variants=3
    assert(got === Set((1L, 3L, 3L), (4L, 1L, 1L)))
  }

  test("text_winnow matches a brute-force window-by-window re-derivation") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val k = ops.TextAnalysis.WinnowK
    val w = ops.TextAnalysis.WinnowW
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().take(25)
    def prints(text: String): Set[(Long, Long)] = {
      val nt = text.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
      if (nt.length < k + w - 1) Set.empty
      else {
        val hs = (0 to nt.length - k).map(p => md5Int(nt.substring(p, p + k)))
        // every window start j: rightmost minimum of hs[j .. j+w-1]
        (0 to hs.length - w).map { j =>
          val win = (j until j + w).map(p => (hs(p), p))
          val m = win.map(_._1).min
          val p = win.filter(_._1 == m).map(_._2).max
          (m, p.toLong)
        }.toSet
      }
    }
    val expected = docs.map { case (id, t) => id -> prints(t) }.toMap
    val ids = docs.map(_._1).toSet
    val got = ops.TextAnalysis.winnow(spark, dir).collect()
      .filter(r => ids(r.getAs[Long]("doc_id")))
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val exp = expected(id)
      assert(r.getAs[Long]("n_prints") === exp.size.toLong, s"doc $id print count")
      val chk = exp.toSeq.map { case (h, p) => (p + 1) * (h % 1000000007L) }.sum
      assert(r.getAs[Long]("print_chk") === chk, s"doc $id positional checksum")
    }
    assert(got.length === expected.count(_._2.nonEmpty))
  }

  test("text_winnow guarantee: a shared >= k+w-1 char substring shares a print") {
    import spark.implicits._
    // two otherwise-unrelated docs sharing one >= 11-char normalized
    // run ("quartz zebra", 12 chars — the hyphen and the space both
    // normalize to ' ') MUST share a fingerprint — the winnowing
    // local guarantee; a third disjoint doc must share nothing
    val df = Seq(
      (1L, "aaa bbb ccc QUARTZ-ZEBRA ddd eee fff"),
      (2L, "mm nn oo pp quartz zebra qq rr ss tt uu vv"),
      (3L, "totally disjoint content here with no overlap at all")
    ).toDF("doc_id", "text")
    val rows = ops.TextAnalysis.winnowOf(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared")).toMap
    assert(rows(1L) > 0 && rows(2L) > 0, "the guaranteed shared print is missing")
    assert(rows(3L) === 0L, "disjoint doc shares a print")
  }

  test("dedup_containment finds one-way excerpt inclusion (asymmetric by design)") {
    import spark.implicits._
    // doc 1 is a verbatim excerpt of doc 2; doc 3 is unrelated. The
    // minhash bands would MISS (1,2): Jaccard ≈ 12/120 — this is the
    // case the rare-shingle postings path exists for.
    val quote = (0 until 15).map(i => s"alpha$i").mkString(" ")
    val host = quote + " " + (0 until 120).map(i => s"beta$i").mkString(" ")
    val other = (0 until 40).map(i => s"gamma$i").mkString(" ")
    val df = Seq((1L, quote), (2L, host), (3L, other)).toDF("doc_id", "text")
    val got = ops.Dedup.containmentOf(df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L)), "exactly quote ⊑ host, never the reverse")
  }

  test("sim_range_search returns exactly the cosine ball (brute-force re-derivation)") {
    import spark.implicits._
    val vecs = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
    def cosU(a: Array[Float], b: Array[Float]): Long =
      math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) * 1000000.0).toLong
    val want = (for {
      p <- vecs.keys.filter(_ % 101 == 0); v <- vecs.keys; if v != p
      c = cosU(vecs(p), vecs(v)); if c >= ops.Similarity.RangeTauU
    } yield (p, v) -> c).toMap
    val got = ops.Similarity.rangeSearch(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === want)
    assert(want.nonEmpty, "empty ball — the radius is untested at this scale")
  }

  test("mm_phash_cluster equals a union-find closure over the phash pairs") {
    val pairs = ops.Multimodal.phash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map(docs.keys.map(k => k -> k).toSeq: _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val lbl = docs.keys.map(k => k -> find(k)).toMap
    val sizes = lbl.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = lbl.map { case (d, c) => d -> ((c, sizes(c))) }
    val got = ops.Multimodal.phashCluster(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === want)
    assert(want.values.exists(_._2 > 1), "no image family bigger than 1 — vacuous")
  }

  test("text_vocab_growth matches a Scala first-occurrence derivation") {
    val texts = docs
    val mx = texts.keys.max
    def dec(id: Long): Long = id * 10 / (mx + 1)
    val tk = texts.toSeq.flatMap { case (id, t) => tokens(t).map(tok => (dec(id), tok)) }
    val occ = tk.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val firsts = tk.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
      .values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val decs = occ.keys.toSeq.sorted
    var cumT = 0L; var cumV = 0L
    val want = decs.map { d =>
      cumT += occ(d); cumV += firsts.getOrElse(d, 0L)
      (d, cumT, cumV, firsts.getOrElse(d, 0L))
    }
    val got = ops.TextAnalysis.vocabGrowth(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === want)
    // Heaps-shape (weak form — the sf0.001 synthetic vocabulary is
    // near-closed): cumulative vocab is nondecreasing and the late
    // deciles add no more new types than the first one
    assert(want.sliding(2).forall(p => p(1)._3 >= p(0)._3))
    assert(want.last._4 <= want.head._4 && want.head._4 > 0)
  }

  test("stats_gini matches the Scala sorted-rank formula and stays in [0, 1e6)") {
    val rows = Tables(spark, dir, "documents")
      .selectExpr("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val want = rows.groupBy(_._2).map { case (src, rs) =>
      val xs = rs.sortBy(r => (r._3, r._1)).map(_._3)
      val n = xs.length.toLong
      val sumX = xs.sum
      val rankMass = xs.zipWithIndex.map { case (x, i) => (i + 1L) * x }.sum
      val num = 2 * rankMass - (n + 1) * sumX
      src -> ((n, sumX, num, n * sumX, 1000000L * num / (n * sumX)))
    }
    val got = ops.Sampling.gini(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got === want)
    got.values.foreach { case (_, _, _, _, g) => assert(g >= 0L && g < 1000000L) }
    assert(got.values.exists(_._5 > 0L), "all sources perfectly uniform — vacuous")
  }

  test("stats_mad_outliers matches a Scala sort-based median/MAD derivation") {
    val rows = Tables(spark, dir, "documents")
      .selectExpr("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def med(xs: Seq[Long]): Long = {
      val s = xs.sorted
      val v1 = s((xs.size + 1) / 2 - 1); val v2 = s((xs.size + 2) / 2 - 1)
      (v1 + v2) / 2
    }
    val want = rows.groupBy(_._2).map { case (src, rs) =>
      val m = med(rs.map(_._3).toSeq)
      val devs = rs.map(r => (r._1, math.abs(r._3 - m)))
      val mad = med(devs.map(_._2).toSeq)
      val out = devs.filter(_._2 > ops.Sampling.MadK * math.max(mad, 1L))
      (src, (rs.length.toLong, m, mad, out.length.toLong,
        if (out.isEmpty) -1L else out.map(_._1).min, out.map(_._1).sum))
    }
    val got = ops.Sampling.madOutliers(spark, dir).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got === want)
    assert(want.values.exists(_._4 > 0), "no source has outliers — cut untested")
  }

  test("mm_phash equals the brute-force aHash Hamming scan (banding exact at <=3)") {
    val texts = docs
    def hash(t: String): (Long, Long) = {
      val cps = t.codePoints().toArray
      val px = (0 until 64).map(i => if (i < cps.length) (cps(i) % 256).toLong else 0L)
      val sum = px.sum
      var lo = 0L; var hi = 0L
      for (i <- 0 until 64) if (px(i) * 64 > sum) {
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
      }
      (lo, hi)
    }
    val hs = texts.view.mapValues(hash).toMap
    // brute force over ALL pairs — the pigeonhole claim is that the
    // banded op misses NOTHING at the <=3 cut
    val want = (for {
      a <- hs.keys; b <- hs.keys; if a < b
      h = java.lang.Long.bitCount(hs(a)._1 ^ hs(b)._1) +
        java.lang.Long.bitCount(hs(a)._2 ^ hs(b)._2)
      if h <= ops.Multimodal.PhashHamMax
    } yield (a, b) -> h.toLong).toMap
    val got = ops.Multimodal.phash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === want)
    assert(want.nonEmpty, "corpus has no near-dup images — the cut is untested")
  }

  test("text_nb_classify matches an independent train-and-score derivation") {
    val texts = docs
    val srcOf = Tables(spark, dir, "documents")
      .selectExpr("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val isTrain = texts.keys.map(id =>
      id -> (md5Int(s"nb:$id") % 100 < ops.TextAnalysis.NbTrainPct)).toMap
    val trainTok = texts.toSeq.filter(d => isTrain(d._1))
      .flatMap { case (id, t) => tokens(t).map(tok => (srcOf(id), tok)) }
    val vocab = trainTok.map(_._2).groupBy(identity).view.mapValues(_.size).toSeq
      .sortBy { case (tok, cnt) => (-cnt, tok) }
      .take(ops.TextAnalysis.NbVocabN).map(_._1).toSet
    val classes = trainTok.map(_._1).distinct.sorted
    val cc = trainTok.filter(p => vocab(p._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tot = classes.map(c =>
      c -> cc.collect { case ((cl, _), n) if cl == c => n }.sum).toMap
    def pU(c: String, tok: String): Long =
      (1000000L * (cc.getOrElse((c, tok), 0L) + 1)) /
        (tot(c) + ops.TextAnalysis.NbVocabN)
    val want = texts.toSeq.filter(d => !isTrain(d._1)).map { case (id, t) =>
      val hits = tokens(t).filter(vocab)
      if (hits.isEmpty) id -> (("", 0L, 0L))
      else {
        val best = classes.map(c => (c, hits.map(tok => pU(c, tok)).sum))
          .sortBy { case (c, s) => (-s, c) }.head
        id -> ((best._1, best._2, hits.size.toLong))
      }
    }.toMap
    val got = ops.TextAnalysis.nbClassify(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getAs[String]("pred"),
        r.getAs[Long]("score_u"), r.getAs[Long]("n_hits")))).toMap
    assert(got === want)
    assert(want.nonEmpty && want.values.exists(_._3 > 0))
  }

  test("text_vocab/text_encode match an independent rank-and-encode derivation") {
    val texts = docs
    val allToks = texts.values.toSeq.flatMap(tokens)
    val wantVocab = allToks.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (tok, cnt) => (-cnt, tok) }.take(ops.TextAnalysis.VocabN)
      .zipWithIndex.map { case ((tok, cnt), i) => tok -> ((i + 1L, cnt)) }.toMap
    val gotVocab = ops.TextAnalysis.vocab(spark, dir).collect()
      .map(r => r.getAs[String]("tok") ->
        ((r.getAs[Long]("vocab_id"), r.getAs[Long]("cnt")))).toMap
    assert(gotVocab === wantVocab)
    val gotEnc = ops.TextAnalysis.encode(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"),
        r.getAs[Long]("enc_chk")))).toMap
    assert(gotEnc.size === texts.size, "every doc must appear, even zero-token ones")
    var oovSeen = false
    texts.foreach { case (id, t) =>
      val ids = tokens(t).map(tok => wantVocab.get(tok).map(_._1).getOrElse(0L))
      val chk = ids.zipWithIndex.map { case (v, i) => (i + 1L) * v }.sum
      val oov = ids.count(_ == 0L).toLong
      if (oov > 0) oovSeen = true
      assert(gotEnc(id) === ((ids.size.toLong, oov, chk)), s"doc $id")
    }
    assert(oovSeen, "corpus never exercised the OOV path — raise corpus or lower VocabN")
  }

  test("text_line_dedup matches an independent chunk-overlap derivation") {
    val texts = docs
    def segs(t: String): Set[String] = {
      val tk = tokens(t)
      tk.take(tk.size / ops.TextAnalysis.SegTokens * ops.TextAnalysis.SegTokens)
        .grouped(ops.TextAnalysis.SegTokens).map(_.mkString(" "))
        .filter(_.length >= ops.TextAnalysis.MinSegChars).toSet
    }
    val docCount = texts.values.toSeq.flatMap(t => segs(t).toSeq)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = ops.TextAnalysis.lineDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_segs"), r.getAs[Long]("n_shared")))).toMap
    assert(got.size === texts.size)
    var sharedSeen = false
    texts.foreach { case (id, t) =>
      val s = segs(t)
      val shared = s.count(docCount(_) >= 2).toLong
      if (shared > 0) sharedSeen = true
      assert(got(id) === ((s.size.toLong, shared)), s"doc $id")
    }
    assert(sharedSeen,
      "corpus never exercised the cross-doc sharing path — adjust segmentation")
  }

  test("q_corr matches an independent exact-moment derivation") {
    import spark.implicits._
    // re-derive every moment from the RAW events rows — a third
    // opinion, not a consistency check of the query's own output
    val raw = Tables(spark, dir, "events")
      .select("event_type", "value", "props").as[(String, Double, String)].collect()
    val kPat = """"k"\s*:\s*(\d+)""".r
    val want = raw.toSeq.flatMap { case (et, v, props) =>
      kPat.findFirstMatchIn(props).map { m =>
        (et, math.floor(v * 100).toLong, m.group(1).toLong)
      }
    }.groupBy(_._1).map { case (et, rows) =>
      val (n, sx, sy) = (rows.size.toLong, rows.map(_._2).sum, rows.map(_._3).sum)
      val (sxx, syy, sxy) = (rows.map(r => BigInt(r._2) * r._2).sum,
        rows.map(r => BigInt(r._3) * r._3).sum, rows.map(r => BigInt(r._2) * r._3).sum)
      val num = BigInt(n) * sxy - BigInt(sx) * sy
      val dx = BigInt(n) * sxx - BigInt(sx) * sx
      val dy = BigInt(n) * syy - BigInt(sy) * sy
      val corrU = if (dx > 0 && dy > 0)
        math.floor(num.toDouble / math.sqrt(dx.toDouble) / math.sqrt(dy.toDouble) * 1e6).toLong
      else 0L
      et -> ((n, sx, sy, corrU))
    }
    val got = relational.Queries.qCorr(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n"), r.getAs[Long]("sx"),
        r.getAs[Long]("sy"), r.getAs[Long]("corr_u")))).toMap
    assert(got === want)
  }

  test("text_rep_ngram matches an independent sliding-window derivation") {
    val texts = docs
    val got = ops.TextAnalysis.repNgram(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("dup_2grams"), r.getAs[Long]("dup_3grams"),
        r.getAs[Long]("rep2_milli"), r.getAs[Long]("rep3_milli")))).toMap
    texts.foreach { case (id, t) =>
      val tk = tokens(t)
      def dup(n: Int): (Long, Long) = {
        val g = if (tk.size >= n) tk.sliding(n).map(_.mkString(" ")).toSeq else Nil
        val d = (g.size - g.distinct.size).toLong
        (d, if (g.nonEmpty) d * 1000 / g.size else 0L)
      }
      val ((d2, r2), (d3, r3)) = (dup(2), dup(3))
      assert(got(id) === ((d2, d3, r2, r3)), s"doc $id")
    }
  }

  test("stats_length_deciles matches an independent rank derivation") {
    import spark.implicits._
    val lens = Tables(spark, dir, "documents").select("source", "doc_id", "text")
      .as[(String, Long, String)].collect()
      .map { case (s, id, t) => (s, id, t.length.toLong) }
    val want = lens.toSeq.groupBy(_._1).toSeq.flatMap { case (src, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._2)).map(_._3)
      val n = sorted.size
      (1 to 9).map(d => (src, d.toLong, sorted((d * n + 9) / 10 - 1)))
    }.toSet
    val got = ops.Sampling.lengthDeciles(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("decile"),
        r.getAs[Long]("len_at"))).toSet
    assert(got === want)
  }

  test("native KMV sketch equals the K smallest distinct hashes") {
    import spark.implicits._
    val evs = Tables(spark, dir, "events").select("event_type", "user_id")
      .as[(String, Long)].collect()
    val want: Map[String, (Long, Long)] = evs.toSeq.groupBy(_._1).map { case (et, rows) =>
      val kept = rows.map(r => md5Int(r._2.toString)).distinct.sorted
        .take(ops.Sampling.KmvK)
      et -> ((kept.size.toLong, kept.last))
    }
    val got = ops.Sampling.kmvDistinct(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("k_used"), r.getAs[Long]("kth_hash")))).toMap
    assert(got === want)
  }

  test("embed_quantize matches an independent Scala quantizer") {
    import spark.implicits._
    val got = ops.Similarity.quantize(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("qsum"), r.getAs[Long]("qdot"), r.getAs[Long]("err_u"))).toMap
    val vecs = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect()
    var checked = 0
    vecs.take(50).foreach { case (id, v) =>
      val xd = v.map(_.toDouble)
      val amax = xd.map(math.abs).max
      val q = xd.map(x => if (amax == 0) 0L else math.floor(x * 127.0 / amax + 0.5).toLong)
      assert(q.forall(qi => qi >= -127 && qi <= 127))
      val err = (xd, q).zipped.map((x, qi) =>
        math.floor({ val e = x - (qi * amax) / 127.0; e * e * 1.0e12 }).toLong).sum
      assert(got(id) === ((q.sum, q.map(x => x * x).sum, err)), s"vec $id")
      checked += 1
    }
    assert(checked === 50)
  }

  test("sim_ivf_kmeans ranks are valid and scores agree with brute force") {
    val brute = ops.Similarity.bruteTopk(spark, dir).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id")) -> r.getAs[Long]("cos_u"))
      .toMap
    val km = ops.Similarity.ivfKmeans(spark, dir).collect()
    assert(km.nonEmpty)
    km.groupBy(_.getAs[Long]("probe_id")).foreach { case (p, rows) =>
      val ranks = rows.map(_.getAs[Long]("rank")).sorted.toSeq
      assert(ranks === (1L to rows.length).toSeq, s"probe $p ranks not contiguous")
      assert(rows.length <= 5)
    }
    // every scored pair carries the same exact cosine as brute force
    // (the quantized centroids steer the search; they never change the
    // reported scores)
    km.foreach { r =>
      val key = (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"))
      brute.get(key).foreach(b => assert(b === r.getAs[Long]("cos_u"), s"score drift at $key"))
    }
  }

  test("sim_index_refresh merges O(batch) against the persisted artifact and equals a full rebuild") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val vecs = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
    def cosU(a: Array[Float], b: Array[Float]): Long =
      math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) * 1000000.0).toLong
    // pure-Scala full rebuild: frozen base-derived centroids, every
    // vector assigned from scratch
    val m = Similarity.RefreshNewMod
    val baseIds = vecs.keys.filter(_ % m != 0).toSeq
    val cmod = Similarity.ivfCentMod(baseIds.size.toLong)
    val cents = baseIds.filter(_ % cmod == 0)
    // sub-linear index: k <= sqrt(n_base) centroids (the broadcast bound)
    assert(cents.nonEmpty &&
      cents.size.toLong <= math.ceil(math.sqrt(baseIds.size.toDouble)).toLong)
    def cellOf(v: Long): Long = cents.maxBy(c => (cosU(vecs(v), vecs(c)), -c))
    val expected = vecs.keys.toSeq.sorted
      .map(v => (v, cellOf(v), if (v % m == 0) 1L else 0L))
    val got = Similarity.indexRefresh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expected)
    // poisoned-artifact proof of O(batch): flip one persisted base
    // cell to a sentinel; the refresh must carry it through verbatim
    // (the base side is READ, never re-scored) while the new batch
    // still assigns correctly against the frozen centroids
    val centsDf = Similarity.refreshCents(spark, dir)
    val poisonId = baseIds.min
    val poisoned = Similarity.refreshBaseIndex(spark, dir, centsDf)
      .withColumn("cell",
        when(col("vec_id") === poisonId, lit(-999L)).otherwise(col("cell")))
    val out = Similarity.indexRefreshVs(spark, dir, centsDf, poisoned).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out.find(_._1 === poisonId).get._2 === -999L)
    assert(out.filter(_._3 === 1L) === expected.filter(_._3 === 1L))
  }

  test("pipeline_clean output is canonical, kept, and stratum-capped") {
    val out = ops.Pipeline.clean(spark, dir).collect()
    assert(out.nonEmpty)
    val keep = ops.TextAnalysis.filterDocs(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("keep")).toMap
    val md5s = ops.TextAnalysis.piiMask(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("masked_md5")).toMap
    val groups = md5s.toSeq.filter(kv => keep(kv._1) == 1L).groupBy(_._2)
      .map { case (m, kvs) => m -> ((kvs.map(_._1).min, kvs.size.toLong)) }
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(keep(id) === 1L, s"doc $id not kept by the filter")
      assert(groups(r.getAs[String]("masked_md5")) ===
        ((id, r.getAs[Long]("n_dups"))), s"doc $id not canonical")
    }
    out.groupBy(_.getAs[String]("source")).foreach { case (src, rows) =>
      assert(rows.length <= ops.Sampling.StratumK, s"stratum $src over cap")
    }
  }

  test("GraftExtensions injects native functions for plain spark.sql users") {
    val active = SparkSession.getActiveSession
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try {
      // new session on the shared context, built the way a cluster user
      // would get it from spark.sql.extensions=graft.GraftExtensions
      val s2 = SparkSession.builder()
        .master("local[2]").appName("graft-ext-spec")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s2.sql("SELECT graft_md5_prefix('abc') AS h").collect()(0).getLong(0) ===
        md5Int("abc"))
      assert(s2.sql(
        "SELECT graft_second_max(x) FROM VALUES (5L), (9L), (7L) t(x)")
        .collect()(0).getLong(0) === 7L)
      val kmv = s2.sql(
        "SELECT graft_kmv_kth(x, 2).k_used, graft_kmv_kth(x, 2).kth_hash " +
          "FROM VALUES (30L), (10L), (20L), (10L) t(x)").collect()(0)
      assert((kmv.getLong(0), kmv.getLong(1)) === ((2L, 20L)))
      // the vector-quantization seam: argmin over a 2-entry codebook
      // for subspace 0 (keys 0·64+idx), plus the struct scan + vlsum
      val pq = s2.sql(
        "SELECT graft_pq_argmin(array(cast(1.0 as float), cast(2.0 as float)), " +
          "array(3L, 7L), array(cast(9.0 as float), cast(9.0 as float), " +
          "cast(1.0 as float), cast(2.0 as float)), 64, 0)[0]").collect()(0)
      assert(pq.getLong(0) === 7L, "exact match at idx 7 -> du 0, packed 7")
      val am = s2.sql(
        "SELECT graft_argmin_l2(array(1.0d, 2.0d), " +
          "array(9.0d, 9.0d, 1.0d, 2.0d)).idx").collect()(0)
      assert(am.getLong(0) === 1L)
      val vs = s2.sql(
        "SELECT graft_vlsum(v) FROM VALUES (array(1L, 2L)), (array(10L, 20L)) t(v)")
        .collect()(0).getSeq[Long](0)
      assert(vs === Seq(11L, 22L))
    } finally {
      // always clear first so a missing prior session can't leave the
      // local[2] spec session as the process-wide default
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      active.foreach { a =>
        SparkSession.setActiveSession(a); SparkSession.setDefaultSession(a)
      }
    }
  }

  test("injected optimizer rule rewrites naive second-max SQL to the native aggregate") {
    val active = SparkSession.getActiveSession
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]").appName("graft-rule-spec")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val df = s2.sql(
        """SELECT g, try_element_at(sort_array(collect_list(x), false), 2) AS m2
          |FROM VALUES (1, 5L), (1, 9L), (1, 9L), (2, 3L) t(g, x)
          |GROUP BY g""".stripMargin)
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("graft_second_max"), s"rule did not fire:\n$opt")
      assert(!opt.contains("collect_list"), s"naive aggregate survived:\n$opt")
      // bounded two-long buffer keeps the agg in codegen'd HashAggregate
      val phys = df.queryExecution.executedPlan.toString
      assert(phys.contains("HashAggregate") && !phys.contains("ObjectHashAggregate"))
      val got = df.collect()
        .map(r => r.getInt(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      assert(got(1) === 9L, "duplicates count separately")
      assert(got(2) === -1L, "1-element group is null (try_element_at semantics)")
      // ANSI [1] indexing THROWS on short groups — must NOT be rewritten
      // to the total (null-yielding) aggregate
      val ansi = s2.sql(
        """SELECT g, sort_array(collect_list(x), false)[1] AS m2
          |FROM VALUES (1, 5L), (1, 9L) t(g, x) GROUP BY g""".stripMargin)
      assert(ansi.queryExecution.optimizedPlan.toString.contains("collect_list"))
    } finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      active.foreach { a =>
        SparkSession.setActiveSession(a); SparkSession.setDefaultSession(a)
      }
    }
  }

  test("injected range-join rule buckets plain SQL interval joins into equi-joins") {
    val active = SparkSession.getActiveSession
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]").appName("graft-rangejoin-spec")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      s2.conf.set("spark.graft.rangeJoin.bucketWidth", "10")
      // points 0..99, intervals [k*7, k*7+13) for k = 0..12: interval
      // length 13 > W = 10, so intervals explode to 2-3 buckets and
      // pairs straddle bucket edges - the exactly-once guarantee is
      // exercised, not just the happy path
      val df = s2.sql(
        """SELECT p.t, count(*) AS n, min(i.k) AS mn
          |FROM (SELECT id AS t FROM range(100)) p
          |JOIN (SELECT id AS k, id * 7 AS lo, id * 7 + 13 AS hi FROM range(13)) i
          |  ON p.t >= i.lo AND p.t < i.hi
          |GROUP BY p.t ORDER BY p.t""".stripMargin)
      val phys = df.queryExecution.executedPlan.toString
      assert(!phys.contains("BroadcastNestedLoopJoin") && !phys.contains("CartesianProduct"),
        s"range join not rewritten:\n$phys")
      assert(phys.contains("Generate"), s"no bucket explode in plan:\n$phys")
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // naive reference with the rule disabled
      s2.conf.set("spark.graft.rangeJoin.enabled", "false")
      val naive = s2.sql(
        """SELECT p.t, count(*) AS n, min(i.k) AS mn
          |FROM (SELECT id AS t FROM range(100)) p
          |JOIN (SELECT id AS k, id * 7 AS lo, id * 7 + 13 AS hi FROM range(13)) i
          |  ON p.t >= i.lo AND p.t < i.hi
          |GROUP BY p.t ORDER BY p.t""".stripMargin)
      assert(naive.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
        "kill-switch did not restore the naive plan")
      assert(got.toSeq === naive.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
      s2.conf.set("spark.graft.rangeJoin.enabled", "true")
      // the inclusive BETWEEN form rewrites too, with the exact
      // inclusive-upper match set (boundary points t = hi included)
      val btw = s2.sql(
        """SELECT p.t, count(*) AS n
          |FROM (SELECT id AS t FROM range(100)) p
          |JOIN (SELECT id * 7 AS lo, id * 7 + 13 AS hi FROM range(13)) i
          |  ON p.t BETWEEN i.lo AND i.hi
          |GROUP BY p.t ORDER BY p.t""".stripMargin)
      val physB = btw.queryExecution.executedPlan.toString
      assert(!physB.contains("BroadcastNestedLoopJoin") && physB.contains("Generate"),
        s"BETWEEN form not rewritten:\n$physB")
      val gotB = btw.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val expB = (0L until 100L).map { t =>
        t -> (0L until 13L).count(k => t >= k * 7 && t <= k * 7 + 13).toLong
      }.filter(_._2 > 0).toMap
      assert(gotB === expB)
      // interval-OVERLAP joins rewrite too: both sides explode and the
      // canonical-bucket filter keeps each straddling pair exactly once
      val ovl = s2.sql(
        """SELECT a.k AS ak, count(*) AS n, min(b.k) AS mn
          |FROM (SELECT id AS k, id * 5 AS lo, id * 5 + 8 AS hi FROM range(40)) a
          |JOIN (SELECT id AS k, id * 7 AS lo, id * 7 + 13 AS hi FROM range(13)) b
          |  ON a.lo < b.hi AND b.lo < a.hi
          |GROUP BY a.k ORDER BY ak""".stripMargin)
      val physO = ovl.queryExecution.executedPlan.toString
      assert(!physO.contains("BroadcastNestedLoopJoin") && !physO.contains("CartesianProduct"),
        s"overlap join not rewritten:\n$physO")
      val gotO = ovl.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val expO = (0L until 40L).flatMap { ak =>
        val bs = (0L until 13L).filter(bk => ak * 5 < bk * 7 + 13 && bk * 7 < ak * 5 + 8)
        if (bs.isEmpty) None else Some((ak, bs.size.toLong, bs.min))
      }
      assert(gotO.toSeq === expO)
      // joins that already have an equi key are left alone
      val equi = s2.sql(
        """SELECT count(*) FROM (SELECT id AS k, id AS t FROM range(50)) a
          |JOIN (SELECT id AS k, id AS lo, id + 5 AS hi FROM range(50)) b
          |  ON a.k = b.k AND a.t >= b.lo AND a.t < b.hi""".stripMargin)
      assert(!equi.queryExecution.optimizedPlan.toString.contains("graft_range_bk"))
      assert(equi.collect()(0).getLong(0) === 50L)
    } finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      active.foreach { a =>
        SparkSession.setActiveSession(a); SparkSession.setDefaultSession(a)
      }
    }
  }

  test("text_pack offsets are the exact serial cumsum; invariant under bucket edge") {
    import org.apache.spark.sql.functions._
    val got = TextAnalysis.pack(spark, dir).collect()
    assert(got.nonEmpty)
    // serial re-derivation: concatenated stream offsets in doc_id order
    val lens = docs.toSeq.sortBy(_._1).map { case (id, t) => id -> tokens(t).length.toLong }
    var off = 0L
    val expected = lens.map { case (id, n) => val s = off; off += n; (id, n, s) }
    assert(got.length === expected.length)
    got.sortBy(_.getAs[Long]("doc_id")).zip(expected).foreach {
      case (row, (id, n, s)) =>
        assert(row.getAs[Long]("doc_id") === id)
        assert(row.getAs[Long]("n_tokens") === n, s"doc $id token count")
        assert(row.getAs[Long]("start_tok") === s, s"doc $id offset")
        if (n > 0) {
          val fw = s / TextAnalysis.WinTokens
          val lw = (s + n - 1) / TextAnalysis.WinTokens
          assert(row.getAs[Long]("first_win") === fw)
          assert(row.getAs[Long]("last_win") === lw)
          assert(row.getAs[Long]("n_wins") === lw - fw + 1)
        } else assert(row.getAs[Long]("n_wins") === 0L)
    }
    // the two-level scan must not depend on the bucket width
    val base = Tables(spark, dir, "documents")
      .withColumn("t", expr(TextAnalysis.toksExpr))
      .select(col("doc_id"), expr("cast(size(t) as bigint)").as("n_tokens"))
    val e1 = TextAnalysis.packDf(base, 1L).collect().map(_.toSeq)
    val e7 = TextAnalysis.packDf(base, 7L).collect().map(_.toSeq)
    assert(e1.toSeq === e7.toSeq, "packing changed with bucket edge")
  }

  test("bloom decontamination never misses an exact hit (no false negatives)") {
    val exact = Dedup.decontaminate(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_hit"))).toMap
    val bloom = Dedup.bloomDecontaminate(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_bloom_hit"))).toMap
    assert(bloom.keySet === exact.keySet, "per-doc coverage differs")
    var fp = 0L; var hits = 0L
    exact.foreach { case (id, (nSh, nHit)) =>
      val (bSh, bHit) = bloom(id)
      assert(bSh === nSh, s"doc $id shingle count")
      assert(bHit >= nHit, s"doc $id: bloom missed an exact hit")
      fp += bHit - nHit; hits += nSh
    }
    // documented false-positive rate: ~ (load factor)² per probe pair —
    // at this corpus the filter is lightly loaded; a catastrophic rate
    // would mean the bit math diverged somewhere
    assert(fp.toDouble / hits < 0.2, s"false-positive rate ${fp.toDouble / hits}")
  }

  test("tfidf top terms match an independent Scala derivation") {
    val texts = docs
    val n = texts.size.toLong
    val perDoc = texts.map { case (id, t) => id -> tokens(t) }
    val dfMap = perDoc.values.flatMap(_.distinct).groupBy(identity).map { case (t, v) => t -> v.size.toLong }
    val expected = perDoc.collect { case (id, toks) if toks.nonEmpty =>
      val len = toks.length.toLong
      val scored = toks.groupBy(identity).map { case (tk, occ) =>
        val tf = occ.size.toLong
        (tk, tf, math.floor(1000000.0 * tf * n / dfMap(tk) / len).toLong)
      }.toSeq.sortBy { case (tk, _, s) => (-s, tk) }.take(TextAnalysis.TfidfK)
      id -> scored
    }
    val got = TextAnalysis.tfidf(spark, dir).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.sortBy(_.getAs[Long]("rk"))
        .map(r => (r.getAs[String]("tok"), r.getAs[Long]("tf"),
          r.getAs[Long]("score_u"))).toSeq).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (id, exp) =>
      assert(got(id) === exp, s"doc $id")
    }
  }

  test("count-min sketch only ever overestimates; top-k matches a Scala re-derivation") {
    import spark.implicits._
    import graft.ops.Sampling
    val users = Tables(spark, dir, "events").select("user_id").as[Long].collect()
    def idx(j: Int, u: Long): Long = md5Int(s"$u#$j") % Sampling.CmsWidth
    val cells = Array.fill(Sampling.CmsDepth, Sampling.CmsWidth)(0L)
    users.foreach(u => (0 until Sampling.CmsDepth).foreach(j => cells(j)(idx(j, u).toInt) += 1))
    val exact = users.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val expected = exact.keys.toSeq.map { u =>
      val est = (0 until Sampling.CmsDepth).map(j => cells(j)(idx(j, u).toInt)).min
      (u, exact(u), est)
    }.sortBy { case (u, _, e) => (-e, u) }.take(Sampling.CmsK)
    val got = Sampling.cmsTopk(spark, dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("exact_cnt"), r.getAs[Long]("est_cnt")))
    assert(got.toSeq === expected)
    got.foreach { case (u, ex, est) => assert(est >= ex, s"user $u underestimated") }
  }

  /** Band-collision edges re-derived independently (the minhash
    * spec's math), both directions — shared by the pagerank and bfs
    * re-derivations.
    */
  private def bandEdges: Seq[(Long, Long)] = {
    val sigs = docs.toSeq.flatMap { case (id, text) =>
      val t = tokens(text)
      if (t.length < 3) None else {
        val hs = t.sliding(3).map(_.mkString(" ")).toSeq.distinct.map(md5Int)
        Some(id -> (0 until Dedup.MinhashK).map { j =>
          val (a, b) = Dedup.perm(j); hs.map(h => (a * h + b) % Dedup.MinhashP).min
        })
      }
    }
    val bands = sigs.flatMap { case (id, s) =>
      (0 until 4).map(bi => (bi, s(2 * bi), s(2 * bi + 1)) -> id)
    }
    bands.groupBy(_._1).values.flatMap { grp =>
      val ids = grp.map(_._2).sorted
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet.toSeq.flatMap { p: (Long, Long) => Seq(p, p.swap) }
  }

  test("bounded bfs distances match a Scala re-derivation over the band graph") {
    import graft.ops.Graph
    val adj = bandEdges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var dist = docs.keys.filter(_ % 97 == 0).map(_ -> 0L).toMap
    for (_ <- 1 to Graph.BfsRounds) {
      val relaxed = dist.toSeq.flatMap { case (u, d) =>
        adj.getOrElse(u, Nil).map(_ -> (d + 1))
      } ++ dist.toSeq
      dist = relaxed.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    }
    val expected = docs.keys.map(v => v -> dist.getOrElse(v, -1L)).toMap
    val got = Graph.bfs(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dist")).toMap
    assert(got === expected)
    // the seed set itself must sit at distance 0 and something must be reached
    assert(got.filter(_._1 % 97 == 0).values.forall(_ === 0L))
    assert(got.values.count(_ > 0) > 0, "no vertex reached beyond the seeds")
  }

  test("common-neighbor scores match a Scala wedge enumeration over the knn graph") {
    import graft.ops.Graph
    // edge base: the spec-pinned knn operator's own output — this test
    // pins the NEW wedge/anti-join/scoring logic on top of it
    val ke = Similarity.knnGraph(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nbr_id")))
      .map { case (u, v) => (math.min(u, v), math.max(u, v)) }.toSet
    val und = ke ++ ke.map(_.swap)
    val deg = und.toSeq.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val byMid = und.toSeq.collect {
      case (b, s) if deg(b) <= Graph.CnMidCap => (b, s)
    }.groupBy(_._1)
    val expected = byMid.toSeq.flatMap { case (b, sp) =>
      val ss = sp.map(_._2).sorted
      for (a <- ss; c <- ss if a < c && !und.contains((a, c)))
        yield ((a, c), Graph.CnRaU / deg(b))
    }.groupBy(_._1).view.mapValues(rs => (rs.size.toLong, rs.map(_._2).sum)).toMap
    val got = Graph.commonNeighbors(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got === expected)
    assert(got.nonEmpty, "no non-adjacent common-neighbor pairs — spec is vacuous")
    // every predicted pair is genuinely non-adjacent and sanely scored
    got.foreach { case ((a, c), (cn, ra)) =>
      assert(!und.contains((a, c)), s"($a,$c) is an existing edge")
      assert(ra <= cn * Graph.CnRaU && ra >= cn, s"ra out of range for ($a,$c)")
    }
  }

  test("clustering coefficients match a brute-force triangle/degree derivation") {
    import graft.ops.Graph
    val und = bandEdges.toSet
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = docs.keys.map { v =>
      val nbrs = adj.getOrElse(v, Set.empty).toSeq // Seq: a Set would dedupe the counts
      val deg = nbrs.size.toLong
      val tri = (for (a <- nbrs; b <- nbrs if a < b && und((a, b))) yield 1).size.toLong
      v -> ((tri, deg, if (deg >= 2) 2000000L * tri / (deg * (deg - 1)) else 0L))
    }.toMap
    val got = Graph.clusteringCoeff(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === want)
    // at sf0.001 the near-dup families are clique-complete, so every
    // deg>=2 vertex sits at cc = 1: pin the range and that the dense
    // branch is exercised (the zero branch is every pendant vertex)
    assert(want.values.exists(_._3 > 0L), "no positive coefficient — vacuous")
    want.values.foreach { case (_, _, cc) => assert(cc >= 0L && cc <= 1000000L) }
  }

  test("pipeline_mm accounting reconciles with the image-family clustering") {
    val fams = ops.Multimodal.phashCluster(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
    val srcOf = Tables(spark, dir, "documents")
      .selectExpr("doc_id", "source", "n_chars").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val want = fams.groupBy(f => srcOf(f._1)._1).map { case (src, fs) =>
      src -> ((fs.length.toLong,
        fs.map(_._2._1).distinct.length.toLong,
        fs.count(f => f._1 == f._2._1).toLong,
        fs.count(f => f._1 != f._2._1).toLong,
        fs.filter(f => f._1 == f._2._1).map(f => srcOf(f._1)._2).sum))
    }
    val got = ops.Pipeline.mm(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got === want)
    assert(want.values.exists(_._4 > 0L), "nothing dropped — dedup untested")
  }

  test("jaccard link prediction matches a Scala wedge-and-degree derivation") {
    import graft.ops.Graph
    val ke = Similarity.knnGraph(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nbr_id")))
      .map { case (u, v) => (math.min(u, v), math.max(u, v)) }.toSet
    val und = ke ++ ke.map(_.swap)
    val deg = und.toSeq.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val byMid = und.toSeq.collect {
      case (b, s) if deg(b) <= Graph.CnMidCap => (b, s)
    }.groupBy(_._1)
    val cn = byMid.toSeq.flatMap { case (_, sp) =>
      val ss = sp.map(_._2).sorted
      for (a <- ss; c <- ss if a < c && !und.contains((a, c))) yield (a, c)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = cn.toSeq.map { case ((a, b), c) =>
      (a, b, c, deg(a), deg(b), 1000000L * c / (deg(a) + deg(b) - c))
    }.sortBy { case (a, b, _, _, _, j) => (-j, a, b) }.take(Graph.JlTopK)
    val got = Graph.jaccardLinks(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected)
    assert(got.nonEmpty && got.head._6 >= got.last._6)
  }

  test("bounded k-core peel matches a Scala round-by-round re-derivation") {
    import graft.ops.Graph
    val und = bandEdges.toSet
    var liveDeg = und.toSeq.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    for (_ <- 1 to Graph.KcoreRounds) {
      val live = liveDeg.filter(_._2 >= Graph.KcoreK).keySet
      liveDeg = und.toSeq
        .filter { case (u, v) => live(u) && live(v) }
        .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    }
    val core = liveDeg.filter(_._2 >= Graph.KcoreK)
    val got = Graph.kcore(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet === docs.keySet)
    docs.keys.foreach { v =>
      val (inCore, coreDeg) = got(v)
      assert(inCore === (if (core.contains(v)) 1L else 0L), s"in_core of $v")
      assert(coreDeg === core.getOrElse(v, 0L), s"core_deg of $v")
    }
    assert(core.nonEmpty, "band graph has no 3-core — spec is vacuous")
    assert(got.values.exists(_._1 === 0L), "everything survived — peel untested")
  }

  test("label propagation matches a Scala round-by-round re-derivation") {
    import graft.ops.Graph
    // edge base: the spec-pinned knn operator's own output — this test
    // pins the NEW vote/argmax/tiebreak logic on top of it
    val ke = Similarity.knnGraph(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nbr_id")))
      .map { case (u, v) => (math.min(u, v), math.max(u, v)) }.toSet
    val und = (ke ++ ke.map(_.swap)).toSeq
    val verts = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    var lab: Map[Long, Long] = verts.map(v => v -> v).toMap
    for (_ <- 1 to Graph.LpRounds) {
      val votes = und.map { case (src, dst) => (dst, lab(src)) }
        .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      val picked = votes.groupBy(_._1._1).view.mapValues { vs =>
        val mc = vs.map(_._2).max
        vs.collect { case ((_, l), c) if c == mc => l }.min
      }.toMap
      lab = lab.map { case (v, l) => v -> picked.getOrElse(v, l) }
    }
    val sizes = lab.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Graph.labelProp(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet === verts)
    verts.foreach { v =>
      assert(got(v) === ((lab(v), sizes(lab(v)))), s"label/size of $v")
    }
    // non-vacuity: real communities formed (labels coarsened), and the
    // deterministic min-tiebreak means every label is a community MEMBER's id
    assert(lab.values.toSet.size < verts.size, "no vertex changed label")
    assert(lab.values.toSet.subsetOf(verts), "label escaped the vertex set")
    assert(sizes.values.exists(_ >= 3L), "no community of size >= 3 formed")
  }

  test("dedup yield matches a Scala re-derivation over the cluster labeling") {
    import spark.implicits._
    import graft.ops.Dedup
    // cluster labeling from the spec-pinned operator; this test pins
    // the NEW survivor/accounting logic on top of it
    val cl = Dedup.cluster(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
    val meta = Tables(spark, dir, "documents")
      .select("doc_id", "source", "n_chars")
      .as[(Long, String, Long)].collect()
    val expected = meta.groupBy(_._2).map { case (src, rows) =>
      val raw = rows.length.toLong
      val uniq = rows.count { case (id, _, _) => cl(id) == id }.toLong
      src -> ((raw, rows.map(_._3 / 4).sum, uniq,
        rows.collect { case (id, _, nc) if cl(id) == id => nc / 4 }.sum,
        (raw - uniq) * 1000000L / raw))
    }
    val got = Dedup.dedupYield(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got === expected)
    // non-vacuity: dedup removed something somewhere, nothing vanished entirely
    assert(got.values.exists(v => v._3 < v._1), "no source lost any docs — vacuous")
    assert(got.values.forall(v => v._3 >= 1L), "a source lost every document")
  }

  test("bm25 top-k matches an independent Scala scorer") {
    import graft.ops.Similarity
    val all = docs
    val n = all.size.toLong
    val pmod = Similarity.ivfProbeMod(n)
    // per-doc bigram term frequencies (the operator's term domain)
    val tf: Map[Long, Map[String, Long]] = all.view.mapValues { t =>
      tokens(t).sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
    }.toMap
    val dl = tf.view.mapValues(_.values.sum).toMap
    val withTerms = dl.filter(_._2 > 0)
    val avgdl = math.max(1L, withTerms.values.sum / withTerms.size)
    val df = tf.values.flatMap(_.keys).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val idf = df.collect { case (tok, d) if d * 4 <= n =>
      tok -> math.floor(1000000.0 * n / d).toLong
    }.toMap
    val probes = all.keys.filter(_ % pmod == 0).toSeq
    val expected = probes.flatMap { p =>
      val qTerms = tf(p).keys.filter(idf.contains).toSeq
      val scoresAll = all.keys.filter(_ != p).flatMap { d =>
        val shared = qTerms.filter(tf(d).contains)
        if (shared.isEmpty) None
        else Some(d -> shared.map { tok =>
          val f = tf(d)(tok)
          val bU = 250L + (750L * ((dl(d) * 1000L) / avgdl)) / 1000L
          (idf(tok) * f * 2200L) / (f * 1000L + (1200L * bU) / 1000L)
        }.sum)
      }.toSeq
      scoresAll.sortBy { case (d, s) => (-s, d) }.take(5).zipWithIndex
        .map { case ((d, s), i) => (p, (i + 1).toLong, d, s) }
    }.sortBy(r => (r._1, r._2))
    val got = Similarity.bm25Topk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected)
    // non-vacuity: probes exist and ranks saturate somewhere
    assert(got.nonEmpty && got.exists(_._2 == 5L))
    // saturation sanity: no single-term score exceeds idf·2.2
    assert(got.forall(_._4 >= 0L))
  }

  test("split leakage reports every eval doc's best train bucket-mate") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.ops.Similarity
    val emb = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    val n = emb.size.toLong
    val nbits = Similarity.lshBits(n)
    // bucket function is spec-pinned elsewhere; reuse it for the map
    val buckets = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), Similarity.bucketN(col("embedding"), nbits).as("b"))
      .as[(Long, Long)].collect().toMap
    val pct = emb.keys.map(id => id -> md5Int(s"split:$id") % 100).toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
    def cosU(a: Array[Float], b: Array[Float]): Long =
      math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) * 1000000.0).toLong
    val trains = emb.keys.filter(pct(_) < 98L).toSet
    val expected = emb.keys.filter(pct(_) >= 98L).toSeq.sorted.map { e =>
      val split = if (pct(e) < 99L) "val" else "test"
      val cands = trains.filter(t => buckets(t) == buckets(e)).toSeq
      if (cands.isEmpty) (e, split, 0L, -1L, -1000000L)
      else {
        val (bt, bc) = cands.map(t => (t, cosU(emb(e), emb(t))))
          .minBy { case (t, c) => (-c, t) }
        (e, split, cands.size.toLong, bt, bc)
      }
    }
    val got = Similarity.splitLeakage(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected)
    // non-vacuity: every eval doc reported, and at least one has a
    // real train neighbor (the leak signal the op exists to surface)
    assert(got.nonEmpty && got.exists(_._3 > 0L))
    info(s"eval=${got.size} with-candidates=${got.count(_._3 > 0L)} " +
      s"isolated=${got.count(_._3 == 0L)}")
  }

  test("source overlap matrix matches a Scala re-derivation of the pair graph") {
    import spark.implicits._
    import graft.ops.Dedup
    val src = Tables(spark, dir, "documents").select("doc_id", "source")
      .as[(Long, String)].collect().toMap
    // pair generation + verification are spec-pinned via ngramJaccard;
    // this pins the NEW source tagging + aggregation on top
    val pairs = Dedup.ngramJaccard(spark, dir).collect().map { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      val jm = r.getAs[Long]("inter") * 1000L / r.getAs[Long]("uni")
      val (sa, sb) = (src(a), src(b))
      (if (sa <= sb) (sa, sb) else (sb, sa), jm)
    }
    val expected = pairs.groupBy(_._1).map { case ((a, b), js) =>
      val v = js.map(_._2)
      (a, b, v.length.toLong, v.sum / v.length, v.max)
    }.toSeq.sortBy(c => (c._1, c._2))
    val got = Dedup.overlapMatrix(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected)
    // the syndication signal is real: at least one CROSS-source cell
    assert(got.exists(c => c._1 != c._2), "no cross-source near-dup cell — vacuous")
  }

  test("dsir importance weights match a Scala re-derivation") {
    import spark.implicits._
    import graft.ops.Sampling
    val meta = Tables(spark, dir, "documents").select("doc_id", "source", "text")
      .as[(Long, String, String)].collect()
    val B = Sampling.DsirBuckets
    def feats(text: String): Map[Long, Long] =
      tokens(text).sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
        .map(tok => md5Int(s"dsir:$tok") % B)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val fm = meta.map { case (id, s, t) => (id, s, feats(t)) }
    val tm = fm.filter(_._2 == Sampling.DsirTargetSource).flatMap(_._3)
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val rm = fm.flatMap(_._3).groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val tTot = tm.values.sum; val rTot = rm.values.sum
    def ptN(b: Long) = (1000000000L * (tm.getOrElse(b, 0L) + 1L)) / (tTot + B)
    def prN(b: Long) = (1000000000L * (rm(b) + 1L)) / (rTot + B)
    val scored = fm.collect { case (id, s, f)
        if s != Sampling.DsirTargetSource && f.nonEmpty =>
      val c = f.values.sum
      val lmT = f.map { case (b, n) => n * ptN(b) }.sum / c
      val lmR = f.map { case (b, n) => n * prN(b) }.sum / c
      (id, s, (1000000L * lmT) / math.max(lmR, 1L), lmT, lmR)
    }
    val expected = scored.sortBy { case (id, _, w, _, _) => (-w, id) }
      .take(Sampling.DsirK).zipWithIndex
      .map { case ((id, s, w, lt, lr), i) => (i + 1L, id, s, w, lt, lr) }.toSeq
    val got = Sampling.dsir(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected)
    // the signal is real: weights are not all equal (some docs look
    // more target-like than others)
    assert(got.map(_._4).distinct.size > 1, "all importance weights equal — vacuous")
  }

  test("ANN recall eval matches a Scala ground-truth re-derivation") {
    import spark.implicits._
    import graft.ops.Similarity
    val vecs = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
    def cosU(a: Array[Float], b: Array[Float]): Long =
      math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) * 1000000.0).toLong
    val pm = Similarity.ivfProbeMod(vecs.size.toLong)
    val probes = vecs.keys.filter(_ % pm == 0).toSeq.sorted
    // ground truth re-derived independently; hit sets from the two
    // spec-pinned index operators — this pins the NEW gt/join/recall logic
    val gt = probes.map { p =>
      p -> vecs.keys.filter(_ != p).toSeq
        .map(v => (v, cosU(vecs(p), vecs(v))))
        .sortBy { case (v, c) => (-c, v) }.take(5).map(_._1).toSet
    }.toMap
    val lsh = Similarity.lshTopk(spark, dir).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"))).toSet
    val ivf = Similarity.ivfTopk(spark, dir).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"))).toSet
    val got = Similarity.recallEval(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got.keySet === probes.toSet)
    probes.foreach { p =>
      val hl = gt(p).count(v => lsh((p, v))).toLong
      val hi = gt(p).count(v => ivf((p, v))).toLong
      assert(got(p) === ((hl, hl * 100 / 5, hi, hi * 100 / 5)), s"recall of probe $p")
    }
    // non-vacuity: both indexes find something, neither is perfect
    assert(got.values.exists(_._1 > 0L), "lsh found nothing")
    assert(got.values.exists(_._3 > 0L), "ivf found nothing")
    assert(got.values.exists(v => v._1 < 5L || v._3 < 5L),
      "both indexes perfect everywhere — eval is vacuous")
  }

  test("scene detection matches a Scala nibble-L1 re-derivation") {
    import graft.ops.Multimodal
    val hexv = "0123456789abcdef"
    def frameHex(text: String, f: Int): Option[String] = {
      val nBytes = text.getBytes("UTF-8").length
      if (nBytes >= f * 32 + 16)
        Some(text.slice(f * 32, f * 32 + 16).getBytes("UTF-8")
          .map(b => f"$b%02x").mkString)
      else None
    }
    val expected = docs.map { case (id, text) =>
      val frames = (0 until Multimodal.SceneFrames.toInt)
        .flatMap(f => frameHex(text, f))
      val cuts = frames.sliding(2).collect { case Seq(a, b) =>
        (0 until 32).map(i => math.abs(hexv.indexOf(a(i)) - hexv.indexOf(b(i)))).sum
      }.map(_ >= Multimodal.SceneTau).toSeq
      if (frames.isEmpty) id -> ((0L, 0L, 0L, 0L))
      else {
        val nCuts = cuts.count(identity).toLong
        // scene lengths: a run ends right before each cut
        val sceneLens = cuts.foldLeft(List(1L)) { (acc, isCut) =>
          if (isCut) 1L :: acc else (acc.head + 1L) :: acc.tail
        }
        id -> ((frames.size.toLong, nCuts, nCuts + 1L, sceneLens.max))
      }
    }
    val got = Multimodal.sceneDetect(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got === expected)
    // fixture exercises both branches: some cut fires, some diff stays under τ
    assert(expected.values.exists(_._2 > 0L), "no cuts anywhere — τ too high")
    assert(expected.values.exists(v => v._1 >= 2L && v._2 < v._1 - 1L),
      "every consecutive pair cut — τ too low")
  }

  test("cdc chunks match a Scala re-derivation and survive an insertion shift") {
    import graft.ops.TextAnalysis
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def chunksOf(text: String): Seq[(Long, Long, Long, String)] = {
      val w = TextAnalysis.CdcW
      val n = text.length
      if (n < 1) Seq.empty
      else {
        val bnds = (0 to n - w)
          .filter(p0 => md5Int(text.substring(p0, p0 + w)) % TextAnalysis.CdcMod == 0)
          .map(_ + w).filter(_ < n)
        val ends = bnds :+ n
        ends.zipWithIndex.map { case (e, i) =>
          val start = if (i == 0) 1 else ends(i - 1) + 1
          ((i + 1).toLong, start.toLong, (e - start + 1).toLong,
            md5Hex(text.substring(start - 1, e)))
        }
      }
    }
    val perDoc = docs.view.mapValues(chunksOf).toMap
    val sharedBy = perDoc.toSeq
      .flatMap { case (id, cs) => cs.map(c => (c._4, id)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size.toLong).toMap
    val expected = perDoc.flatMap { case (id, cs) =>
      cs.map(c => (id, c._1) -> ((c._2, c._3, c._4, sharedBy(c._4))))
    }
    val got = TextAnalysis.cdcChunks(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getString(4), r.getLong(5)))).toMap
    assert(got === expected)
    assert(expected.values.exists(_._4 > 1L), "no cross-doc shared chunk — spec is vacuous")
    assert(perDoc.values.exists(_.size > 1), "no doc ever split — boundary rule untested")
    // the CDC property itself: a prefix insertion shifts every offset
    // but preserves every chunk hash after the first boundary
    val (_, text) = docs.maxBy { case (_, t) => chunksOf(t).size }
    val orig = chunksOf(text).map(_._4)
    assert(orig.size >= 3, "need a multi-chunk doc to exercise the shift property")
    val shifted = chunksOf("INSERTED-PREFIX-" + text).map(_._4).toSet
    orig.drop(1).foreach { h =>
      assert(shifted.contains(h), "downstream chunk hash lost after prefix insertion")
    }
  }

  test("edit-distance verification matches a Scala DP and stays within threshold") {
    import graft.ops.Dedup
    def lev(a: String, b: String): Long = {
      val dp = Array.tabulate(b.length + 1)(_.toLong)
      for (i <- 1 to a.length) {
        var prev = dp(0); dp(0) = i.toLong
        for (j <- 1 to b.length) {
          val cur = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(b.length)
    }
    val rows = Dedup.editVerify(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty, "no edit-verified pairs — banding spec is vacuous")
    rows.foreach { case (a, b, d) =>
      assert(d <= Dedup.EditMaxDist)
      assert(d === lev(docs(a).take(Dedup.EditPrefix), docs(b).take(Dedup.EditPrefix)),
        s"edit distance of ($a,$b)")
    }
  }

  test("triangle counts match a brute-force Scala enumeration") {
    import graft.ops.Graph
    val und = bandEdges.toSet
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val triCount = scala.collection.mutable.Map.empty[Long, Long]
    for ((a, b) <- und if a < b; c <- adj(a).intersect(adj.getOrElse(b, Set.empty)) if c > b) {
      for (v <- Seq(a, b, c)) triCount(v) = triCount.getOrElse(v, 0L) + 1L
    }
    val got = Graph.triangles(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === docs.keySet)
    docs.keys.foreach { v =>
      assert(got(v) === triCount.getOrElse(v, 0L), s"triangles of doc $v")
    }
    assert(got.values.sum > 0, "band graph has no triangles — spec is vacuous")
  }

  test("integer pagerank matches a Scala re-derivation over the band graph") {
    import graft.ops.Graph
    val edges = bandEdges
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var rank = docs.keys.map(_ -> Graph.PrInitU).toMap
    for (_ <- 1 to Graph.PrRounds) {
      val contrib = edges.groupBy(_._2).view.mapValues(
        _.map { case (src, _) => rank(src) / deg(src) }.sum).toMap
      rank = docs.keys.map(v =>
        v -> (Graph.PrBaseU + Graph.PrDampPct * contrib.getOrElse(v, 0L) / 100)).toMap
    }
    val got = Graph.pagerank(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("rank_u"), r.getAs[Long]("degree"))).toMap
    assert(got.keySet === docs.keySet)
    docs.keys.foreach { v =>
      assert(got(v)._1 === rank(v), s"rank of doc $v")
      assert(got(v)._2 === deg.getOrElse(v, 0L), s"degree of doc $v")
    }
  }

  test("pipeline_train invariants: filtered, canonical, decontaminated, contiguous") {
    import graft.ops.{Pipeline, TextAnalysis}
    val out = Pipeline.train(spark, dir).collect().sortBy(_.getAs[Long]("doc_id"))
    assert(out.nonEmpty)
    // packing offsets are the exact serial cumsum of survivor tokens
    var off = 0L
    out.foreach { r =>
      assert(r.getAs[Long]("start_tok") === off, s"doc ${r.getAs[Long]("doc_id")} offset")
      off += r.getAs[Long]("n_tokens")
    }
    // held-out docs never train; every survivor passed the gate
    val keep = TextAnalysis.filterDocs(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("keep")).toMap
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(id % 97 != 0, s"benchmark doc $id leaked into training")
      assert(keep(id) === 1L, s"filtered doc $id survived")
      assert(r.getAs[Long]("n_dups") >= 1L)
    }
    // canonicality: survivors are distinct representatives (the dedup
    // stage keyed groups by masked md5 — ids must be group minima)
    val masked = TextAnalysis.piiMask(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("masked_md5")).toMap
    val minOfGroup = masked.toSeq.filter(kv => keep(kv._1) == 1L)
      .groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(minOfGroup(masked(id)) === id, s"doc $id is not its group's canonical")
    }
  }

  test("knn graph: dense ranks, ordered cosines, consistent with the pair operator") {
    import graft.ops.Similarity
    val rows = Similarity.knnGraph(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("nbr_id"), r.getAs[Long]("cos_u")))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (v, es) =>
      val sorted = es.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1L to sorted.length).toSeq, s"ranks of $v not dense")
      assert(sorted.length <= Similarity.KnnK)
      val cs = sorted.map(_._4)
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b }, s"cosines of $v not ordered")
    }
    // every pairsThresh hit must surface as a knn CANDIDATE with the
    // same exact score: knn's table 1 is pairsThresh's blocking, so a
    // hit pair is co-bucketed there and ranks among both endpoints'
    // candidates (it may lose the top-k cut, so assert via candidate
    // containment: if either endpoint has spare degree, the edge —
    // or a strictly-better one — is present). The tight, always-true
    // direction: a knn edge BETWEEN co-bucketed-in-table-1 endpoints
    // at/above the threshold appears in pairsThresh.
    val pairSet = Similarity.pairsThresh(spark, dir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val nbits = Similarity.lshBits(emb.count())
    val b1 = emb.select(org.apache.spark.sql.functions.col("vec_id"),
        Similarity.bucketN(org.apache.spark.sql.functions.col("embedding"), nbits).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.filter(_._4 >= 300000L).foreach { case (v, _, n, _) =>
      if (b1(v) == b1(n)) {
        val key = (math.min(v, n), math.max(v, n))
        assert(pairSet.contains(key), s"co-bucketed knn edge $key missing from pairsThresh")
      }
    }
  }

  test("shard manifest conserves the training corpus exactly") {
    import graft.ops.Pipeline
    import org.apache.spark.sql.functions.sum
    val trainRows = Pipeline.train(spark, dir).collect()
    val manifest = Pipeline.shard(spark, dir).collect()
    assert(manifest.map(_.getAs[Long]("shard")).distinct.length === manifest.length)
    assert(manifest.forall(r => r.getAs[Long]("shard") >= 0 &&
      r.getAs[Long]("shard") < Pipeline.NShards))
    assert(manifest.map(_.getAs[Long]("n_docs")).sum === trainRows.length.toLong)
    assert(manifest.map(_.getAs[Long]("n_tokens")).sum ===
      trainRows.map(_.getAs[Long]("n_tokens")).sum)
    assert(manifest.map(_.getAs[Long]("doc_chk")).sum ===
      trainRows.map(r => { val d = r.getAs[Long]("doc_id"); d * d }).sum)
  }

  test("pmi collocations match a Scala re-derivation") {
    import graft.ops.TextAnalysis
    val toksAll = docs.toSeq.map { case (_, t) => tokens(t) }
    val uni = toksAll.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val pairCnt = toksAll.flatMap(t => t.sliding(2).filter(_.length == 2).map(_.mkString(" ")))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter(_._2 >= TextAnalysis.PmiMinCount)
    val n1 = uni.values.sum
    val n2 = pairCnt.values.sum
    val expected = pairCnt.toSeq.map { case (p, cxy) =>
      val Array(x, y) = p.split(' ')
      (p, cxy, math.floor(1000000.0 * cxy * n1 * n1 / n2 / uni(x) / uni(y)).toLong)
    }.sortBy { case (p, _, s) => (-s, p) }.take(TextAnalysis.PmiK)
    val got = TextAnalysis.pmi(spark, dir).collect()
      .map(r => (r.getAs[String]("pair"), r.getAs[Long]("c_xy"), r.getAs[Long]("pmi_u")))
    assert(got.toSeq === expected)
  }

  test("feature hashing matches a Scala re-derivation") {
    import graft.ops.TextAnalysis
    val expected = docs.toSeq.flatMap { case (id, text) =>
      val acc = scala.collection.mutable.Map.empty[Long, Long]
      tokens(text).foreach { t =>
        val dim = md5Int(t) % TextAnalysis.HashDims
        val sign = if (md5Int(s"s:$t") % 2 == 0) 1L else -1L
        acc(dim) = acc.getOrElse(dim, 0L) + sign
      }
      acc.toSeq.filter(_._2 != 0).map { case (d, w) => (id, d, w) }
    }.sortBy(t => (t._1, t._2))
    val got = TextAnalysis.hashEmbed(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dim"), r.getAs[Long]("wt")))
    assert(got.toSeq === expected)
  }

  test("priority sample keeps exactly the k highest weighted priorities") {
    import spark.implicits._
    import graft.ops.Sampling
    val weights = Tables(spark, dir, "documents")
      .select("doc_id", "n_chars").as[(Long, Long)].collect()
    val expected = weights.map { case (id, w) =>
      val h = md5Int(s"p:$id")
      (id, w, h, math.floor(w * 4294967296.0 / (h + 1)).toLong)
    }.sortBy { case (id, _, _, p) => (-p, id) }.take(Sampling.PriorityK)
    val got = Sampling.prioritySample(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("w"),
        r.getAs[Long]("h"), r.getAs[Long]("prio_u")))
    assert(got.toSeq === expected.toSeq)
  }

  test("product quantization matches a full independent Scala re-derivation") {
    import spark.implicits._
    import graft.ops.Similarity
    val vecs = Tables(spark, dir, "embeddings")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().sortBy(_._1)
    val n = vecs.length.toLong
    val cbMod = Similarity.pqCbMod(n)
    val pMod = Similarity.ivfProbeMod(n)
    def dotFold(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
    val seeds = vecs.filter(_._1 % cbMod == 0) // sorted by vec_id → cb_idx order
    // codebook: (m, cb_idx) -> subvector and its self-dot
    val cb = for (m <- 0 until Similarity.PqM; ((_, sv), ci) <- seeds.zipWithIndex)
      yield (m, ci.toLong) -> sv.slice(m * 8, m * 8 + 8)
    val cbMap = cb.toMap
    def cn2(m: Int, ci: Long): Double = { val c = cbMap((m, ci)); dotFold(c, c) }
    // encode every vector
    def code(v: Array[Float], m: Int): Long =
      seeds.indices.map { ci =>
        val c = cbMap((m, ci.toLong))
        val d2 = (0 until 8).foldLeft(0.0) { (acc, i) =>
          val dx = v(m * 8 + i).toDouble - c(i).toDouble; acc + dx * dx
        }
        math.floor(d2 * 1000000.0).toLong * Similarity.PqKs + ci
      }.min % Similarity.PqKs
    val codes = vecs.map { case (id, v) =>
      id -> (0 until Similarity.PqM).map(m => code(v, m)).toArray
    }.toMap
    val probes = vecs.filter(_._1 % pMod == 0)
    val expected = probes.flatMap { case (pid, pv) =>
      val pn2 = dotFold(pv, pv)
      val scored = vecs.filter(_._1 != pid).map { case (id, _) =>
        val cs = codes(id)
        val adcSu = (0 until Similarity.PqM).map { m =>
          val c = cbMap((m, cs(m)))
          val pd = (0 until 8).foldLeft(0.0)((acc, i) => acc + pv(m * 8 + i).toDouble * c(i).toDouble)
          math.floor(pd * 1.0e9).toLong
        }.sum
        val vhatSu = (0 until Similarity.PqM)
          .map(m => math.floor(cn2(m, cs(m)) * 1.0e9).toLong).sum
        val adcU = if (vhatSu > 0)
          math.floor(adcSu.toDouble / 1.0e9 / (math.sqrt(pn2) * math.sqrt(vhatSu.toDouble / 1.0e9)) * 1000000.0).toLong
        else 0L
        (id, adcU)
      }.sortBy { case (id, a) => (-a, id) }.take(5)
      scored.zipWithIndex.map { case ((id, a), rk) => (pid, (rk + 1).toLong, id, a) }
    }
    val got = Similarity.pqTopk(spark, dir).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Long]("adc_u")))
    assert(got.toSeq === expected.toSeq)
  }

  test("ANN recall@5 vs brute force stays above the documented floors") {
    import graft.ops.Similarity
    import spark.implicits._
    // measured at sf0.01: the sf0.001 corpus has only 50 vectors, so
    // "top-5 neighbors" are near-random directions and every bucketed
    // method's recall is a sparsity artifact, not a quality signal
    val dir = "/root/testdata/sf0.01"
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => r.getAs[Long]("probe_id") -> r.getAs[Long]("vec_id"))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // exact ground truth computed in memory for ANY probe set (the
    // operators use different probe moduli — brute's %101 set shares
    // only probe 0 with the %2^k sets, so comparing against the brute
    // OPERATOR would grade a one-probe sample)
    val vecs = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
    def dotF(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
    val vmap = vecs.toMap
    def exactTop5(p: Long): Set[Long] = {
      val pv = vmap(p); val pn = math.sqrt(dotF(pv, pv))
      vecs.filter(_._1 != p).map { case (id, v) =>
        (math.floor(dotF(pv, v) / (pn * math.sqrt(dotF(v, v))) * 1e6).toLong, id)
      }.sortBy { case (c, id) => (-c, id) }.take(5).map(_._2).toSet
    }
    def recallOf(m: Map[Long, Set[Long]]): Double = {
      assert(m.nonEmpty)
      m.toSeq.map { case (p, got) =>
        val truth = exactTop5(p)
        (truth intersect got).size.toDouble / truth.size
      }.sum / m.size
    }
    val rPq = recallOf(topSets(Similarity.pqTopk(spark, dir)))
    val rPqK = recallOf(topSets(Similarity.pqKmeans(spark, dir)))
    val rIvf = recallOf(topSets(Similarity.ivfTopk(spark, dir)))
    val rLsh = recallOf(topSets(Similarity.lshTopk(spark, dir)))
    val ivfpqRows = Similarity.ivfpqTopk(spark, dir).collect()
    // structural validity: dense ranks, ADC ascending within probe
    ivfpqRows.groupBy(_.getAs[Long]("probe_id")).foreach { case (p, rows) =>
      val s = rows.sortBy(_.getAs[Long]("rank"))
      assert(s.map(_.getAs[Long]("rank")).toSeq == (1L to s.length), s"probe $p ranks")
      val ds = s.map(_.getAs[Long]("adc_d"))
      assert(ds.zip(ds.drop(1)).forall { case (a, b) => a <= b }, s"probe $p adc order")
    }
    // IVF-PQ ranks by L2 (the FAISS default metric), so its ground
    // truth is the exact L2 top-5, not the cosine top-5 the other
    // methods target
    def exactTop5L2(p: Long): Set[Long] = {
      val pv = vmap(p)
      vecs.filter(_._1 != p).map { case (id, v) =>
        val d = pv.indices.foldLeft(0.0) { (acc, i) =>
          val x = pv(i).toDouble - v(i).toDouble; acc + x * x
        }
        (d, id)
      }.sortBy { case (d, id) => (d, id) }.take(5).map(_._2).toSet
    }
    val ivfpqSets = ivfpqRows
      .map(r => r.getAs[Long]("probe_id") -> r.getAs[Long]("vec_id"))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rIvfPq = ivfpqSets.toSeq.map { case (p, got) =>
      val truth = exactTop5L2(p)
      (truth intersect got).size.toDouble / truth.size
    }.sum / ivfpqSets.size
    info(f"ivf-pq L2 recall@5: $rIvfPq%.3f (ivf=$rIvf%.3f pq=$rPq%.3f)")
    // measured 0.225 at sf0.01 — an independent numpy replication of
    // the full pipeline (seed codebook + Lloyd round + 4-cell ADC)
    // lands on the identical 0.225, so the number is inherent to
    // 8-byte codes on these near-random synthetic embeddings (the
    // 4-of-16-cell ceiling alone is 0.632; quantization noise swamps
    // the tiny neighbor margins unstructured data leaves). The floor
    // catches an encode/assignment/LUT break, not quality drift.
    assert(rIvfPq >= 0.15, s"IVF-PQ recall collapsed: $rIvfPq")
    // floors sit below the values measured against full-corpus exact
    // ground truth over each method's own probe set (IVF 0.48, PQ
    // 0.36 at sf0.01 — IVF probes one cell of ~sqrt(n)); they exist
    // to catch a recall COLLAPSE (broken encode/assignment/banding),
    // not to pin quality. LSH's floor is deliberately HIGHER (r5):
    // the decorrelated lshPlane tables measure ≈0.6 — the
    // independent-table theory value — where the r4 shared
    // coordinate axes capped at 0.32; a floor of 0.5 catches a
    // regression back to correlated tables.
    assert(rPq >= 0.25, s"PQ recall collapsed: $rPq (ivf=$rIvf lsh=$rLsh)")
    // the Lloyd-refined codebook must not degrade the seed codebook
    // beyond noise (it minimizes quantization MSE)
    assert(rPqK >= rPq - 0.1, s"refined-PQ recall collapsed: $rPqK vs seed $rPq")
    assert(rIvf >= 0.35, s"IVF recall collapsed: $rIvf (pq=$rPq lsh=$rLsh)")
    assert(rLsh >= 0.5, s"LSH recall below the decorrelated-table floor: $rLsh (pq=$rPq ivf=$rIvf)")
  }

  test("token-window chunking matches a Scala re-derivation") {
    val W = TextAnalysis.ChunkW
    val S = TextAnalysis.ChunkS
    val dmap = docs
    val expected = dmap.toSeq.sortBy(_._1).flatMap { case (id, text) =>
      val t = tokens(text)
      (0 until t.length by S).zipWithIndex.map { case (s, ci) =>
        val ct = t.slice(s, math.min(s + W, t.length))
        val ck = ct.zipWithIndex.map { case (tok, i) => (i + 1).toLong * md5Int(tok) }.sum
        (id, ci.toLong, s.toLong, ct.length.toLong, ct.head, ck)
      }
    }
    val got = TextAnalysis.chunk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getLong(5))).toSeq
    assert(got === expected)
    // coverage invariant: chunk starts step by the stride, so every
    // token index < n is inside at least one chunk and consecutive
    // chunks overlap by W − S tokens (when the next chunk is full)
    got.groupBy(_._1).values.foreach { cs =>
      val sorted = cs.sortBy(_._2)
      sorted.zipWithIndex.foreach { case ((_, ci, st, _, _, _), i) =>
        assert(ci === i.toLong && st === i.toLong * S)
      }
      val (id, _, st, n, _, _) = sorted.last
      assert(st + n === tokens(dmap(id)).length.toLong, "last chunk must end at doc end")
    }
  }

  test("negative mining matches a Scala re-derivation (dups excluded, easies hash-ranked)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.ops.Sampling
    val embDf = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = embDf.count()
    val nbits = Similarity.lshBits(n)
    val buckets = embDf.select(col("vec_id"),
      Similarity.bucketN(col("embedding"), nbits).as("b")).as[(Long, Long)].collect().toMap
    val vecs = embDf.select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap
    def dotD(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
    def cosU(a: Array[Float], b: Array[Float]): Long =
      math.floor(dotD(a, b) / (math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b))) * 1000000.0).toLong
    val pmod = Similarity.ivfProbeMod(n)
    val probes = vecs.keys.filter(_ % pmod == 0).toSeq.sorted
    val expected = probes.flatMap { p =>
      val hard = vecs.keys.filter(v => v != p && buckets(v) == buckets(p)).toSeq
        .map(v => (v, cosU(vecs(p), vecs(v))))
        .filter(_._2 < Sampling.NegDupU)
        .sortBy { case (v, c) => (-c, v) }.take(Sampling.NegHard).zipWithIndex
        .map { case ((v, c), i) => (p, (i + 1).toLong, v, c, "hard") }
      val easy = vecs.keys.filter(v => v != p && buckets(v) != buckets(p)).toSeq
        .map(v => (v, md5Int(s"neg:$p:$v")))
        .sortBy { case (v, h) => (h, v) }.take(Sampling.NegEasy).zipWithIndex
        .map { case ((v, _), i) =>
          (p, (Sampling.NegHard + i + 1).toLong, v, cosU(vecs(p), vecs(v)), "easy") }
      hard ++ easy
    }
    val got = Sampling.negatives(spark, dir).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("neg_id"), r.getAs[Long]("cos_u"), r.getAs[String]("kind"))).toSeq
    assert(got === expected)
    // the near-dup guard is active: no hard negative at or above the bound
    assert(got.filter(_._5 == "hard").forall(_._4 < Sampling.NegDupU))
    // easies never collide with the probe's bucket
    got.filter(_._5 == "easy").foreach { case (p, _, v, _, _) =>
      assert(buckets(v) !== buckets(p))
    }
  }

  test("pipeline export shards agree with the shard manifest and the survivor corpus") {
    import graft.ops.Pipeline
    val exp = Pipeline.export(spark, dir).collect()
      .map(r => r.getAs[Long]("shard") ->
        ((r.getAs[Long]("n_records"), r.getAs[Long]("sum_n_tokens")))).toMap
    val man = Pipeline.shard(spark, dir).collect()
      .map(r => r.getAs[Long]("shard") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens")))).toMap
    // same survivors, same content-independent hash rule: the export's
    // parsed-back record counts and token sums must equal the manifest
    assert(exp === man)
    // and the whole survivor corpus is covered exactly once
    val nSurvivors = Pipeline.train(spark, dir).count()
    assert(exp.values.map(_._1).sum === nSurvivors)
  }

  test("ks drift matches a Scala two-sample re-derivation") {
    import spark.implicits._
    import graft.ops.Sampling
    val rows0 = Tables(spark, dir, "documents").select("source", "n_chars")
      .as[(String, Long)].collect().toSeq
    val n = rows0.size.toLong
    val lens = rows0.map(_._2).distinct.sorted
    val bySrc = rows0.groupBy(_._1)
    val expected = bySrc.keys.toSeq.sorted.map { s =>
      val ns = bySrc(s).size.toLong
      val mine = bySrc(s).map(_._2)
      val diffs = lens.map { x =>
        val c1 = mine.count(_ <= x).toLong
        val c2 = rows0.count(r => r._1 != s && r._2 <= x).toLong
        (x, (BigInt(c1) * (n - ns) - BigInt(c2) * ns).abs)
      }
      val d = diffs.map(_._2).max
      val atLen = diffs.filter(_._2 == d).map(_._1).min
      val ksU = math.floor(d.toDouble / (ns.toDouble * (n - ns).toDouble) * 1000000.0).toLong
      (s, ns, ksU, atLen)
    }
    val got = Sampling.ksDrift(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected)
    // D is a probability-scale statistic: 0 ≤ ks_u ≤ 10⁶
    assert(got.forall(r => r._3 >= 0L && r._3 <= 1000000L))
  }

  test("kmv overlap estimates match a Scala sketch-algebra re-derivation") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.ops.Sampling
    val keys = Tables(spark, dir, "events")
      .select(col("event_type"),
        concat(col("user_id").cast("string"), lit("@"),
          floor(graft.relational.Queries.nsToSec(col("ts")) / lit(86400.0))
            .cast("long").cast("string")).as("key"))
      .distinct().as[(String, String)].collect().toSeq
    val K = Sampling.KmvK
    val keysByType = keys.groupBy(_._1).map { case (t, ks) => t -> ks.map(_._2).toSet }
    val samples = keysByType.map { case (t, ks) =>
      t -> ks.map(md5Int).toSeq.distinct.sorted.take(K)
    }
    val types = keysByType.keys.toSeq.sorted
    val expected = (for {
      i <- types.indices; j <- (i + 1) until types.length
    } yield {
      val (ta, tb) = (types(i), types(j))
      val unionTop = (samples(ta) ++ samples(tb)).distinct.sorted.take(K)
      val kU = unionTop.length.toLong
      val uKth = unionTop.last
      val matches = unionTop.count(h =>
        samples(ta).contains(h) && samples(tb).contains(h)).toLong
      val estUnion = if (kU < K) kU else (K - 1).toLong * 4294967296L / math.max(uKth, 1L)
      (ta, tb, kU, uKth, matches, estUnion, matches * estUnion / kU,
        1000000L * matches / kU, keysByType(ta).intersect(keysByType(tb)).size.toLong)
    }).toSeq
    val got = Sampling.kmvOverlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))).toSeq
    assert(got === expected)
    // sketch-estimate sanity: the estimator is unbiased-ish — every
    // pair's estimate lands within 50 % of the exact intersection on
    // this corpus (loose, but catches an estimator regression)
    got.foreach { case (ta, tb, _, _, _, _, est, _, exact) =>
      assert(est <= exact * 3 / 2 + 8 && est * 3 / 2 + 8 >= exact,
        s"estimate $est vs exact $exact for ($ta,$tb)")
    }
  }

  test("source drift matches a Scala chi-square re-derivation") {
    import spark.implicits._
    import graft.ops.Sampling
    val rows0 = Tables(spark, dir, "documents").select("doc_id", "source", "text")
      .as[(Long, String, String)].collect()
    val cell = rows0.toSeq.flatMap { case (_, src, text) => tokens(text).map(t => (src, t)) }
      .groupBy(identity).map { case ((s, t), o) => (s, t, o.size.toLong) }.toSeq
    val srcTot = cell.groupBy(_._1).map { case (s, cs) => s -> cs.map(_._3).sum }
    val tokTot = cell.groupBy(_._2).map { case (t, cs) => t -> cs.map(_._3).sum }
    val n = cell.map(_._3).sum
    val drift = cell.map { case (s, t, o) =>
      val num = BigInt(o) * n - BigInt(srcTot(s)) * tokTot(t)
      val den = BigInt(srcTot(s)) * tokTot(t) * n
      (s, t, o, math.floor(num.toDouble * num.toDouble / den.toDouble * 1000000.0).toLong)
    }
    val expected = drift.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (s, cs) =>
      cs.sortBy { case (_, t, _, du) => (-du, t) }.take(Sampling.DriftTopK).zipWithIndex
        .map { case ((_, t, o, du), i) => (s, (i + 1).toLong, t, o, du) }
    }
    val got = Sampling.sourceDrift(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got === expected)
    // χ² contributions are non-negative and the report is dense:
    // every source present in the corpus appears with exactly k rows
    assert(got.forall(_._5 >= 0L))
    assert(got.groupBy(_._1).values.forall(_.length === Sampling.DriftTopK))
  }

  test("mrl two-stage retrieval matches a Scala re-derivation, with a recall floor") {
    import spark.implicits._
    import Similarity.{MrlPrefix, MrlShortlist, ivfProbeMod}
    val vecs = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    def dotD(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
    def cosU(a: Array[Float], b: Array[Float]): Long =
      math.floor(dotD(a, b) / (math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b))) * 1000000.0).toLong
    def c16(a: Array[Float], b: Array[Float]): Long =
      cosU(a.take(MrlPrefix), b.take(MrlPrefix))
    val n = vecs.size.toLong
    val pmod = ivfProbeMod(n)
    val probes = vecs.keys.filter(_ % pmod == 0).toSeq.sorted
    val expected = probes.flatMap { p =>
      val others = vecs.keys.filter(_ != p).toSeq
      val short = others.map(v => (v, c16(vecs(p), vecs(v))))
        .sortBy { case (v, c) => (-c, v) }.take(MrlShortlist)
      short.map { case (v, c) => (v, cosU(vecs(p), vecs(v)), c) }
        .sortBy { case (v, f, _) => (-f, v) }.take(5).zipWithIndex
        .map { case ((v, f, c), i) => (p, (i + 1).toLong, v, f, c) }
    }
    val got = Similarity.mrlTopk(spark, dir).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Long]("cos_u"),
        r.getAs[Long]("cos16_u"))).toSeq
    assert(got === expected)
    // recall vs the exact top-5 on the same probes: these synthetic
    // embeddings are NOT matryoshka-trained (prefix dims carry no
    // privileged information), so the funnel's measured mean recall
    // ≈ 0.33 here — the floor guards the MECHANISM (a broken
    // shortlist would crater it), not MRL-trained quality
    val recalls = probes.map { p =>
      val others = vecs.keys.filter(_ != p).toSeq
      val exact = others.map(v => (v, cosU(vecs(p), vecs(v))))
        .sortBy { case (v, c) => (-c, v) }.take(5).map(_._1).toSet
      got.filter(_._1 == p).map(_._3).count(exact.contains) / 5.0
    }
    assert(recalls.sum / recalls.size >= 0.25,
      s"mean recall collapsed: ${recalls.sum / recalls.size}")
  }

  test("maxsim late-interaction retrieval matches a Scala re-derivation") {
    import Similarity.{MaxsimD, MaxsimDocT, MaxsimQT, MaxsimShortlist, ivfProbeMod}
    val dmap = docs
    val n = dmap.size.toLong
    val pmod = ivfProbeMod(n)
    def tokVec(tok: String): Array[Long] =
      (1 to MaxsimD).map(j => md5Int(s"$tok#$j") % 2001 - 1000).toArray
    def cosU(a: Array[Long], b: Array[Long]): Long = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val (na, nb) = (a.map(x => x * x).sum, b.map(x => x * x).sum)
      math.floor(dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble)) * 1000000.0).toLong
    }
    val docToks = dmap.map { case (id, text) =>
      id -> tokens(text).distinct.take(MaxsimDocT).map(tokVec).filter(_.exists(_ != 0L))
    }
    val bigrams = dmap.map { case (id, text) =>
      val t = tokens(text); id -> t.zip(t.drop(1)).map { case (a, b) => s"$a $b" }.toSet
    }
    val df = bigrams.values.flatten.groupBy(identity).map { case (g, o) => g -> o.size }
    val rare = df.filter { case (_, c) => c * 4 <= n }.keySet
    val expected = dmap.keys.filter(_ % pmod == 0).toSeq.sorted.flatMap { p =>
      val qv = docToks(p).take(MaxsimQT)
      val pBg = bigrams(p).intersect(rare)
      // shortlist cap mirrors the engine: rank by shared-rare-bigram
      // count (doc_id tiebreak) BEFORE the token-vector filter
      val cands = dmap.keys.toSeq
        .map(d => (d, bigrams(d).count(pBg.contains)))
        .filter { case (d, ns) => d != p && ns > 0 }
        .sortBy { case (d, ns) => (-ns, d) }
        .take(MaxsimShortlist)
        .map(_._1)
        .filter(d => docToks(d).nonEmpty && qv.nonEmpty)
      val scored = cands.map { d =>
        val s = qv.map(q => docToks(d).map(tv => cosU(q, tv)).max).sum
        (d, s, qv.length.toLong)
      }
      scored.sortBy { case (d, s, _) => (-s, d) }.take(5).zipWithIndex.map {
        case ((d, s, nq), i) => (p, (i + 1).toLong, d, s, nq)
      }
    }
    val got = Similarity.maxsim(spark, dir).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("maxsim_u"),
        r.getAs[Long]("n_qt"))).toSeq
    assert(got === expected)
  }

  test("semantic dedup matches a Scala SemDeDup re-derivation") {
    import spark.implicits._
    val vecs = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
    def cosU(a: Array[Float], b: Array[Float]): Long =
      math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) * 1000000.0).toLong
    val n = vecs.size.toLong
    val centMod = Similarity.ivfCentMod(n)
    val cents = vecs.keys.filter(_ % centMod == 0).toSeq.sorted
    // nearest seed centroid, smallest-cent_id tiebreak (the max_by pack)
    val cellOf = vecs.keys.map { v =>
      v -> cents.maxBy(c => (cosU(vecs(v), vecs(c)), -c))
    }.toMap
    val members = cellOf.groupBy(_._2).map { case (c, m) => c -> m.keys.toSeq.sorted }
    val expected = vecs.keys.toSeq.sorted.map { v =>
      val cell = cellOf(v)
      val mem = members(cell)
      if (mem.length <= Dedup.SemCap) {
        val partners = mem.filter(o => o < v && cosU(vecs(o), vecs(v)) >= Dedup.SemTauU)
        if (partners.nonEmpty) (v, cell, partners.min, 1L, 0L)
        else (v, cell, -1L, 0L, 0L)
      } else {
        val rep = mem.min
        if (v != rep && cosU(vecs(rep), vecs(v)) >= Dedup.SemTauU)
          (v, cell, rep, 1L, 1L)
        else (v, cell, -1L, 0L, 0L)
      }
    }
    val got = Dedup.semantic(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got === expected)
    // invariants: a duplicate's canonical is always a smaller id in
    // the same cell; cell representatives are never pruned
    got.filter(_._4 == 1L).foreach { case (v, cell, dupOf, _, _) =>
      assert(dupOf >= 0 && dupOf < v && cellOf(dupOf) === cell)
    }
    members.values.foreach { mem =>
      val rep = mem.min
      assert(got.find(_._1 == rep).get._4 === 0L, s"rep $rep pruned")
    }
    // the corpus must actually exercise the prune (threshold sits at
    // the within-cell p99) — a zero-dup run would test nothing
    assert(got.count(_._4 == 1L) > 0, "no semantic duplicates found at tau")
  }

  test("linear downsample conserves total weighted mass away from borders") {
    // interior input voxel mass appears once per axis-pair: sum of the
    // 8 contribution weights is 8^3/8 ... sanity: a centered voxel's
    // contributions sum to (3+1)^3 = 64 of the 512 normalization.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val one = Seq((0L, 7L, 7L, 7L, 512L)).toDF("c", "z", "y", "x", "v")
    val out = graft.octree.Downsample.linear(one, 16)
      .agg(sum("v")).collect()(0).getLong(0)
    // 512 * 64 / 512 = 64 total across the 8 destination cells
    assert(out === 64L)
  }
}
