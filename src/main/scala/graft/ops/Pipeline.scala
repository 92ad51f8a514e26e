package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Scratch
import graft.Tables

/** End-to-end corpus-cleaning pipeline — the composed flow a
  * training-data user actually runs, as ONE declarative DAG:
  *
  *   quality filter → PII mask → exact dedup on the MASKED text →
  *   keep canonical per duplicate group → stratified hash-rank sample.
  *
  * Shape at 100 TB: the filter rules and the mask chain fuse into a
  * single parquet scan (both are scan-side projections — see
  * [[TextAnalysis.withRuleFlags]]/[[TextAnalysis.withMasked]]); the
  * failing docs never reach the regex-heavy mask work (filter first);
  * then one shuffle on the content key (dedup) and one on the stratum
  * key (sample rank, map-side pruned by WindowGroupLimit).
  */
object Pipeline {

  def clean(spark: SparkSession, dir: String): DataFrame = {
    val cleaned = TextAnalysis.withMasked(
      TextAnalysis.withRuleFlags(Tables(spark, dir, "documents"))
        .filter(col("keep") === 1))
      .select(col("doc_id"), col("source"), md5(col("masked")).as("masked_md5"))
    // canonical = min doc_id; its source rides along via min_by (no
    // rescan of documents; a duplicate group may span sources)
    val canon = cleaned.groupBy("masked_md5")
      .agg(min("doc_id").as("doc_id"),
        min_by(col("source"), col("doc_id")).as("source"),
        count(lit(1)).as("n_dups"))
    val w = Window.partitionBy("source").orderBy(col("samp_hash"), col("doc_id"))
    canon
      .withColumn("samp_hash",
        expr("graft_md5_prefix(concat(source, ':', cast(doc_id as string)))"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= Sampling.StratumK)
      .select("source", "doc_id", "masked_md5", "n_dups", "samp_hash", "rk")
      .orderBy("source", "rk")
  }

  /** pipeline_train — the COMPLETE training-data flow, one DAG:
    *
    *   quality filter → PII mask (fused, one scan) → exact dedup on
    *   masked text (canonical per group) → benchmark decontamination
    *   (raw held-out shingles vs the canonical masked text, ≥3 shared
    *   → dropped) → sequence packing of the survivors into 512-token
    *   windows in doc_id order.
    *
    * What lands in the sink is exactly what a trainer consumes: one
    * row per surviving canonical document with its duplicate count
    * and its absolute position/window span in the packed token
    * stream. Shuffle ledger at 100 TB: scan (filter+mask fused) →
    * content-key shuffle (dedup) → shingle-key shuffle
    * (decontaminate) → the two-level prefix-sum windows of
    * [[TextAnalysis.packDf]] (bucket edge from the metadata-cheap
    * RAW count — an upper bound on survivors, which only pads the
    * bucket frame, never changes offsets).
    */
  /** Survivors of the full cleaning flow — filter → mask → exact-dedup
    * canonicalization → benchmark decontamination — with the canonical
    * MASKED text riding along: (doc_id, source, n_dups, text,
    * n_tokens). The shared front of [[train]] (which packs them) and
    * [[export]] (which serializes them to shards).
    */
  private[ops] def survivorsWithText(spark: SparkSession, dir: String): DataFrame = {
    import TextAnalysis.toksExpr
    val masked = TextAnalysis.withMasked(
      TextAnalysis.withRuleFlags(Tables(spark, dir, "documents"))
        .filter(col("keep") === 1))
      .select(col("doc_id"), col("source"), col("masked"))
    val canon = masked.groupBy(md5(col("masked")).as("masked_md5"))
      .agg(min("doc_id").as("doc_id"),
        min_by(col("source"), col("doc_id")).as("source"),
        min_by(col("masked"), col("doc_id")).as("masked"),
        count(lit(1)).as("n_dups"))
      // downstream tokenizes the masked text; rename once so the
      // shared tokenizer expression (bound to `text`) applies
      .withColumnRenamed("masked", "text")
      .filter(col("doc_id") % 97 =!= 0) // held-out docs never train
    val bench = Tables(spark, dir, "documents")
      .filter(col("doc_id") % 97 === 0)
      .withColumn("t", expr(toksExpr))
      .select(explode(expr(Dedup.shinglesExpr)).as("s"))
      .distinct().withColumn("hit", lit(1))
    val hits = canon
      .withColumn("t", expr(toksExpr))
      // zero-shingle docs must SURVIVE decontamination, not vanish
      .select(col("doc_id"), explode_outer(expr(Dedup.shinglesExpr)).as("s"))
      .join(bench, Seq("s"), "left")
      .groupBy("doc_id").agg(count(col("hit")).as("n_hit"))
    canon.join(hits, Seq("doc_id"))
      .filter(col("n_hit") < 3)
      .withColumn("t", expr(toksExpr))
      .select(col("doc_id"), col("source"), col("n_dups"), col("text"),
        expr("cast(size(t) as bigint)").as("n_tokens"))
  }

  def train(spark: SparkSession, dir: String): DataFrame = {
    val survivors = survivorsWithText(spark, dir)
    val edge = math.max(1L,
      math.ceil(math.sqrt(Tables(spark, dir, "documents").count().toDouble)).toLong)
    TextAnalysis.packDf(survivors.select("doc_id", "n_tokens"), edge)
      .join(survivors.select("doc_id", "source", "n_dups"), Seq("doc_id"))
      .select("doc_id", "source", "n_dups", "n_tokens",
        "start_tok", "first_win", "last_win", "n_wins")
      .orderBy("doc_id")
  }

  /** pipeline_export — the CAPSTONE of the trainer-facing flow: the
    * [[survivorsWithText]] corpus (cleaned, masked, exact-deduped,
    * decontaminated) exported as REAL TFRecord training shards under
    * the [[shard]] manifest's content-independent hash rule, then
    * re-ingested from bytes alone (CRCs verified per record,
    * `n_tokens` int64 + masked-text bytes features) — the per-shard
    * audit (record count, token sums, rank-weighted text hash, TOTAL
    * BYTES) predicted by the oracle from the parquet table through
    * the entire cleaning chain AND the varint-exact Example byte
    * arithmetic. One green row = the whole corpus→shards path is
    * certified end to end, bytes included.
    *
    * Scale shape: the cleaning chain is the audited pipeline_train
    * front; staging and parsing are the [[graft.sources.TfRecordBinary]]
    * executor-side seam; nothing corpus-sized touches the driver.
    */
  def export(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Scratch.withDir("export") { tmp =>
      new java.io.File(tmp).mkdirs()
      import graft.sources.TfRecordBinary
      survivorsWithText(spark, dir)
        .withColumn("shard",
          expr(s"graft_md5_prefix(concat('shard:', cast(doc_id as string))) % $NShards"))
        .repartition(NShards, col("shard"))
        .sortWithinPartitions("shard", "doc_id")
        .select(col("shard"), col("doc_id"), col("n_tokens"), col("text"))
        .as[(Long, Long, Long, String)]
        .foreachPartition { (it: Iterator[(Long, Long, Long, String)]) =>
          var cur = -1L
          var os: java.io.OutputStream = null
          for ((sh, id, n, t) <- it) {
            if (sh != cur) {
              if (os != null) os.close()
              cur = sh
              os = new java.io.BufferedOutputStream(
                new java.io.FileOutputStream(s"$tmp/shard-$sh.tfrecord"))
            }
            os.write(TfRecordBinary.record(
              TfRecordBinary.exampleBytes(id, n, t, midKey = "n_tokens")))
          }
          if (os != null) os.close()
        }
      val agg = graft.octree.TreeFiles.read(spark, tmp, _.endsWith(".tfrecord"))
        .flatMap { case (path, bytes) =>
          val shard = path.substring(path.lastIndexOf("shard-") + 6)
            .stripSuffix(".tfrecord").toLong
          TfRecordBinary.parseShard(bytes, midKey = "n_tokens")
            .zipWithIndex.map { case (r, i) =>
              val h = graft.functions.GraftHash.md5PrefixLong(
                org.apache.spark.unsafe.types.UTF8String.fromString(r.text))
              (shard, r.docId, r.nChars, r.text.getBytes("UTF-8").length.toLong,
                r.recBytes, (i + 1).toLong * h)
            }
        }
        .toDF("shard", "doc_id", "n_tokens", "text_bytes", "rec_bytes", "wh")
        .groupBy("shard")
        .agg(count(lit(1)).as("n_records"), sum(col("doc_id")).as("sum_doc_id"),
          sum(col("n_tokens")).as("sum_n_tokens"),
          sum(col("text_bytes")).as("sum_text_bytes"),
          sum(col("rec_bytes")).as("bytes_total"),
          sum(col("wh")).as("text_cksum"))
        .orderBy("shard")
      agg.localCheckpoint(true).orderBy("shard")
    }
  }

  /** Output shards for [[shard]]. */
  val NShards = 32

  /** pipeline_shard — deterministic shard manifest for the packed
    * training corpus: every [[train]] survivor is assigned to one of
    * [[NShards]] output shards by the content-independent hash of its
    * doc id (reproducible across runs/engines; rebalancing means
    * changing ONE modulus), and the manifest rows a writer consumes —
    * doc count, token total, min/max doc, a doc-id checksum — come
    * from one map-side-combined aggregation. At 100 TB this is the
    * webdataset-style shard listing; the write itself is
    * `partitionBy(shard)` on the same key.
    */
  def shard(spark: SparkSession, dir: String): DataFrame = {
    train(spark, dir)
      .withColumn("shard",
        expr(s"graft_md5_prefix(concat('shard:', cast(doc_id as string))) % $NShards"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        sum(col("doc_id") * col("doc_id")).as("doc_chk"))
      .orderBy("shard")
  }

  /** pipeline_card — the dataset-card accounting a published corpus
    * ships: per (source, train/val/test split) — document and char
    * counts, the chars∕4 BPE token estimate, and how many docs (and
    * chars) survive the quality gate. Composes [[Sampling.split]]'s
    * deterministic id-hash split with [[TextAnalysis.withRuleFlags]]
    * in ONE scan-side projection feeding one map-side-combined
    * aggregation onto the bounded (source, split) domain — at 100 TB
    * the whole card is a single corpus traversal.
    */
  def card(spark: SparkSession, dir: String): DataFrame = {
    cardDf(Tables(spark, dir, "documents")).orderBy("source", "split")
  }

  /** The card stages on any docs-shaped frame — shared verbatim by
    * the batch [[card]] and the streaming twin
    * ([[graft.streaming.EventStreams]] `stream_card`): all stateless
    * scan-side projections into one aggregation, so the same code
    * runs under a batch plan or an incremental streaming plan.
    */
  def cardDf(documents: DataFrame): DataFrame =
    TextAnalysis.withRuleFlags(documents)
      .withColumn("pct",
        expr("graft_md5_prefix(concat('split:', cast(doc_id as string))) % 100"))
      .withColumn("split",
        when(col("pct") < Sampling.SplitTrainPct, "train")
          .when(col("pct") < Sampling.SplitValPct, "val")
          .otherwise("test"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("n_chars"),
        sum(expr("n div 4")).as("est_tokens"),
        sum(col("keep")).as("n_kept"),
        sum(col("n") * col("keep")).as("kept_chars"))

  /** pipeline_validate — declarative data-quality assertions over the
    * relational tables, the ingest-gate every warehouse runs before a
    * batch is admitted: one row per rule with its violation count and
    * the checked population. Rules cover the three DQ families —
    * referential integrity (orphan lineitems / orders, an anti join
    * each), domain constraints (non-positive quantity / price,
    * discount out of [0,1] — scan-side conditional sums fused into
    * ONE aggregation per table), and completeness (null keys). At
    * 100 TB each anti join shuffles only the FK columns, every
    * domain/completeness family is a single map-side-combined pass,
    * and the output is rule-count-bounded.
    */
  def validate(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem")
    val o = Tables(spark, dir, "orders")
    val c = Tables(spark, dir, "customer")
    def ruleRow(name: String, violations: Column, checked: Column, df: DataFrame) =
      df.agg(violations.cast("long").as("violations"), checked.cast("long").as("checked"))
        .select(lit(name).as("rule"), col("violations"), col("checked"))
    val nL = l.count(); val nO = o.count()
    val orphanL = l.select(col("l_orderkey"))
      .join(o.select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).cast("long").as("violations"))
      .select(lit("lineitem_orphan_orderkey").as("rule"), col("violations"),
        lit(nL).as("checked"))
    val orphanO = o.select(col("o_custkey"))
      .join(c.select(col("c_custkey")), col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).cast("long").as("violations"))
      .select(lit("orders_orphan_custkey").as("rule"), col("violations"),
        lit(nO).as("checked"))
    val domain = ruleRow("lineitem_nonpositive_qty",
      sum((col("l_quantity") <= 0).cast("long")), count(lit(1)), l)
      .union(ruleRow("lineitem_nonpositive_price",
        sum((col("l_extendedprice") <= 0).cast("long")), count(lit(1)), l))
      .union(ruleRow("lineitem_discount_range",
        sum((col("l_discount") < 0 || col("l_discount") > 1).cast("long")),
        count(lit(1)), l))
      .union(ruleRow("orders_null_custkey",
        sum(col("o_custkey").isNull.cast("long")), count(lit(1)), o))
    orphanL.union(orphanO).union(domain).orderBy("rule")
  }

  /** pipeline_incr — the DAILY-INGEST admission audit, end to end:
    * for each incoming-batch document (doc_id % 4 == 0, benchmark
    * docs excluded) the staged verdict a production ingest day
    * produces — quality gate → incremental near-dup probe against the
    * retained-corpus band index ([[Dedup.incremental]]'s asymmetric
    * join, restricted to quality-keeping docs on BOTH sides) →
    * benchmark decontamination ([[Dedup.decontaminate]]'s ≥3-shingle
    * rule) → admitted. One row per batch doc with reason-coded
    * `stage` (`quality` / `dup` / `contaminated` / `admitted`) and
    * the stage metrics; −1 marks stages the doc never reached.
    *
    * Scale ledger: one rule-flag scan (map-side), one band equi-join
    * probe (O(batch × bucket occupancy), corpus-size-independent —
    * the index is the persisted artifact), one shingle-key shuffle
    * for the benchmark hits; nothing rescans the historical corpus
    * beyond the (persistable) signature build.
    */
  def incr(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Dedup
    val docs = Tables(spark, dir, "documents")
    val isBatch = col("doc_id") % 4 === 0 && col("doc_id") % 97 =!= 0
    val flagged = TextAnalysis.withRuleFlags(docs).select(col("doc_id"), col("keep"))
    val batch = flagged.filter(isBatch)
    val elig = flagged.filter(col("keep") === 1 && col("doc_id") % 97 =!= 0)
      .select("doc_id")
    val bandCols = (0 until Dedup.MinhashK / 2).map { j =>
      concat_ws(":", col(s"mh${2 * j}"), col(s"mh${2 * j + 1}"))
    }
    val banded = Dedup.signatures(spark, dir).join(elig, Seq("doc_id"))
      .select(col("doc_id"), (col("doc_id") % 4 === 0).as("is_new"),
        posexplode(array(bandCols: _*)).as(Seq("band_i", "band_v")))
    val probe = banded.filter(col("is_new"))
      .select(col("doc_id").as("doc_new"), col("band_i"), col("band_v"))
    val index = banded.select(col("doc_id").as("doc_idx"),
      col("is_new").as("idx_new"), col("band_i"), col("band_v"))
    val cands = probe.join(index, Seq("band_i", "band_v"))
      .filter((!col("idx_new") || col("doc_idx") < col("doc_new")) &&
        col("doc_idx") =!= col("doc_new"))
      .select(col("doc_new"), col("doc_idx")).distinct()
    val toksOf = docs
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        expr(s"array_distinct(${TextAnalysis.toksExpr})").as("toks"),
        expr(s"cast(size(array_distinct(${TextAnalysis.toksExpr})) as bigint)").as("nt"))
    val verdict = cands
      .join(toksOf.select(col("doc_id").as("doc_new"), col("toks").as("toks_a"),
        col("nt").as("nt_a")), Seq("doc_new"))
      .join(toksOf.select(col("doc_id").as("doc_idx"), col("toks").as("toks_b"),
        col("nt").as("nt_b")), Seq("doc_idx"))
      .withColumn("inter", expr("cast(size(array_intersect(toks_a, toks_b)) as bigint)"))
      .withColumn("uni", col("nt_a") + col("nt_b") - col("inter"))
      .groupBy("doc_new")
      .agg(count(lit(1)).as("nc"),
        min(when(col("inter") * 2 >= col("uni"), col("doc_idx"))).as("dof"))
    val sh = docs
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("t", expr(TextAnalysis.toksExpr))
      .select(col("doc_id"), explode(expr(Dedup.shinglesExpr)).as("s"))
    val bench = sh.filter(col("doc_id") % 97 === 0)
      .select("s").distinct().withColumn("hit", lit(1))
    val hits = sh.filter(isBatch)
      .join(bench, Seq("s"))
      .groupBy("doc_id").agg(count(lit(1)).as("nh"))
    batch
      .join(verdict.withColumnRenamed("doc_new", "doc_id"), Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .withColumn("keep_quality", col("keep"))
      .withColumn("n_cands",
        when(col("keep") === 0, -1L).otherwise(coalesce(col("nc"), lit(0L))))
      .withColumn("dup_of",
        when(col("keep") === 0, -1L).otherwise(coalesce(col("dof"), lit(-1L))))
      .withColumn("n_hit",
        when(col("keep") === 0 || col("dup_of") =!= -1L, -1L)
          .otherwise(coalesce(col("nh"), lit(0L))))
      .withColumn("admitted",
        (col("keep") === 1 && col("dup_of") === -1L && col("n_hit") < 3).cast("long"))
      .withColumn("stage",
        when(col("keep") === 0, "quality")
          .when(col("dup_of") =!= -1L, "dup")
          .when(col("n_hit") >= 3, "contaminated")
          .otherwise("admitted"))
      .select("doc_id", "keep_quality", "n_cands", "dup_of", "n_hit",
        "admitted", "stage")
      .orderBy("doc_id")
  }

  /** pipeline_mm — the MULTIMODAL dedup pipeline end-to-end: decode →
    * perceptual hash → image-family clustering → keep one
    * representative per family (the family's min id), reported per
    * source: images in, distinct families touched, representatives
    * kept, near-dup images dropped, and the kept payload size — the
    * image-side twin of pipeline_clean's text flow, riding the
    * mm_phash_cluster chain unchanged (one composition, zero new
    * corpus passes beyond it).
    */
  def mm(spark: SparkSession, dir: String): DataFrame = {
    val fams = graft.ops.Multimodal.phashCluster(spark, dir)
    Tables(spark, dir, "documents").select(col("doc_id"), col("source"), col("n_chars"))
      .join(fams.hint("merge"), Seq("doc_id")) // corpus-scaled: never broadcast
      .groupBy("source")
      .agg(count(lit(1)).as("n_images"),
        count_distinct(col("cluster")).as("n_families"),
        sum(when(col("doc_id") === col("cluster"), 1L).otherwise(0L)).as("n_reps"),
        sum(when(col("doc_id") =!= col("cluster"), 1L).otherwise(0L)).as("n_dropped"),
        coalesce(sum(when(col("doc_id") === col("cluster"), col("n_chars"))), lit(0L))
          .as("kept_chars"))
      .orderBy("source")
  }

  /** Late-correction key residue for [[backfill]] — events with
    * event_id ≡ 0 (mod 89) arrive corrected (+7 cents).
    */
  val BackfillMod = 89L

  /** pipeline_backfill — partition-pruned incremental recompute: a
    * day-partitioned aggregate was published yesterday; today a batch
    * of LATE CORRECTIONS lands (here the deterministic residue rule
    * event_id ≡ 0 mod [[BackfillMod]], value +7 cents). Instead of
    * recomputing the world, the backfill (1) derives the CHANGED-DAY
    * set from the correction batch, (2) recomputes the aggregate for
    * only those days — the day predicate is partition pruning at
    * scale: a 100 TB events table partitioned by day reads just the
    * touched partitions — and (3) splices the recomputed groups over
    * the published output, which is read back from its materialized
    * parquet, never recomputed. Each output row carries `recomputed`,
    * so the oracle (a closed-form full recompute over the corrected
    * table) certifies BOTH that the splice equals the full recompute
    * and that precisely the changed days were touched — a stale
    * splice, a missed day, or an over-eager full rescan all
    * hash-mismatch.
    */
  def backfill(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("backfill") { tmp =>
      val ev = Tables(spark, dir, "events")
        .withColumn("sec", graft.relational.Queries.nsToSec(col("ts")))
        .select(col("event_id"), col("event_type"),
          expr("(sec div 86400L)").as("day"),
          floor(col("value") * 100).cast("long").as("value_c"))
      // yesterday's published output: the full aggregate, materialized
      ev.groupBy("day", "event_type")
        .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_value_c"))
        .write.mode("overwrite").partitionBy("day").parquet(tmp)
      val published = spark.read.option("basePath", tmp).parquet(tmp)
        .select(col("day").cast("long").as("day"), col("event_type"),
          col("n"), col("sum_value_c"))
      // the correction batch + the changed-day set it implies
      val isCorr = col("event_id") % BackfillMod === 0 && col("day") % 7 === 3
      val corrected = ev.withColumn("value_c",
        when(isCorr, col("value_c") + 7L).otherwise(col("value_c")))
      val changedDays = ev.filter(isCorr).select("day").distinct()
      // pruned recompute: ONLY the changed days' rows are re-read
      val redone = corrected.join(broadcast(changedDays), Seq("day"))
        .groupBy("day", "event_type")
        .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_value_c"))
      val spliced = published.join(broadcast(changedDays), Seq("day"), "left_anti")
        .withColumn("recomputed", lit(false))
        .unionByName(redone.withColumn("recomputed", lit(true)))
        .orderBy("day", "event_type")
      val rows = spliced.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), spliced.schema)
    }
  }

  /** pipeline_ivm — INCREMENTAL VIEW MAINTENANCE: a materialized
    * per-partition aggregate (the MV a 100 TB table publishes daily)
    * is brought up to date under a CDC changeset by applying SIGNED
    * DELTAS — deletes subtract their pre-image, inserts add, updates
    * contribute their value difference — never by rescanning the
    * table. The pre-images updates need come from an O(batch) probe
    * into ONLY the touched partitions (deletes carry theirs in the
    * feed, as a real CDC stream does). The maintained MV certifies
    * against [[graft.sources.TableMerge.mergeOracle]] VERBATIM — the
    * THIRD formulation against that one SQL (one-shot merge,
    * exactly-once CDC stream, now delta maintenance): a double-applied
    * update, a lost delete, or a stale group all hash-mismatch.
    *
    * Scale shape: the MV is read back from its parquet artifact (never
    * recomputed); delta work is O(changeset) + one partition-pruned
    * probe; the splice joins run on the bounded (partition) frame.
    */
  /** The signed per-partition delta a changeset implies, with the U
    * pre-images probed from `v1` (partition-pruned to the touched
    * partitions) — shared by the batch op and the streaming twin.
    */
  private[graft] def ivmDelta(spark: SparkSession, v1: DataFrame,
      cs0: DataFrame): DataFrame = {
    import spark.implicits._
    val cs = cs0.localCheckpoint()
    // pre-images for the U keys: an O(batch) probe into ONLY the
    // touched partitions of the stored table
    val touched = cs.select("p").distinct().as[Long].collect().toSeq
    val uPre = v1.filter(col("p").isin(touched: _*))
      .join(broadcast(cs.filter(col("op") === "U").select("k")), Seq("k"))
      .select(col("p"), col("total_c").as("tc_pre"), col("k"))
    // signed delta stream: D subtracts its pre-image (carried by the
    // feed), I adds, U contributes its value difference
    cs.filter(col("op") === "D")
      .select(col("p"), lit(-1L).as("dn"), (-col("total_c")).as("dtc"),
        (-col("k")).as("dk"))
      .unionByName(cs.filter(col("op") === "I")
        .select(col("p"), lit(1L).as("dn"), col("total_c").as("dtc"),
          col("k").as("dk")))
      .unionByName(cs.filter(col("op") === "U")
        .join(uPre.select(col("k"), col("tc_pre")), Seq("k"))
        .select(col("p"), lit(0L).as("dn"),
          (col("total_c") - col("tc_pre")).as("dtc"), lit(0L).as("dk")))
      .groupBy("p")
      .agg(sum("dn").as("dn"), sum("dtc").as("dtc"), sum("dk").as("dk"))
  }

  /** Apply a signed delta to the MV frame (a full-outer splice on the
    * bounded partition domain).
    */
  private[graft] def ivmApply(mv: DataFrame, delta: DataFrame): DataFrame =
    mv.join(delta, Seq("p"), "full_outer")
      .select(col("p"),
        (coalesce(col("n_rows"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n_rows"),
        (coalesce(col("sum_total_c"), lit(0L)) + coalesce(col("dtc"), lit(0L)))
          .as("sum_total_c"),
        (coalesce(col("sum_key"), lit(0L)) + coalesce(col("dk"), lit(0L)))
          .as("sum_key"))

  def ivm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.{SnapshotStore, TableMerge}
    val store = TableMerge.stageStore(spark, dir, "ivm")
    try {
      val v1 = SnapshotStore.read(spark, store, 1)
        .select(col("k"), col("total_c"), col("p").cast("long").as("p"))
      // yesterday's published MV, materialized beside the table
      v1.groupBy("p")
        .agg(count(lit(1)).as("n_rows"), sum("total_c").as("sum_total_c"),
          sum("k").as("sum_key"))
        .write.mode("overwrite").parquet(s"$store/_mv/v1")
      val mv0 = spark.read.parquet(s"$store/_mv/v1")
      val cs = TableMerge.changesetRows(spark, dir)
        .toDF("k", "ck", "total_c", "p", "op")
      val mv1 = ivmApply(mv0, ivmDelta(spark, v1, cs)).orderBy("p")
      val rows = mv1.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), mv1.schema)
    } finally Scratch.rm(store)
  }

  /** pipeline_ivm_join — incremental maintenance of a JOIN view, the
    * delta-rule term ([[ivm]]'s per-partition aggregate never leaves
    * the fact table's own key space): the maintained view is
    * orders ⋈ customer rolled up per NATION — a group key that lives
    * on the DIMENSION side, so every signed fact delta must pass
    * THROUGH the join before it can be applied (ΔV = γ(Δfact ⋈ dim),
    * the classic ΔA⋈B rule with a static dimension). Deletes subtract
    * their pre-image, inserts add, updates contribute their value
    * difference with pre-images probed from ONLY the touched
    * partitions — the fact table is never rescanned, and the
    * dimension is a broadcast.
    *
    * A maintained group that empties is dropped (matching the
    * recompute semantics a GROUP BY defines), so the spliced view is
    * pointwise identical to a full recompute — which is exactly what
    * the oracle states in closed form from the post-merge table.
    *
    * Scale shape: MV read back from its parquet artifact; delta work
    * is O(changeset) + one partition-pruned probe; the join is a
    * broadcast of the dimension onto the O(changeset) signed rows;
    * the splice runs on the bounded nation domain.
    */
  def ivmJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{SnapshotStore, TableMerge}
    val store = TableMerge.stageStore(spark, dir, "ivmj")
    try {
      val cust = Tables(spark, dir, "customer")
        .select(col("c_custkey").as("ck"),
          col("c_nationkey").cast("long").as("nation"))
      val v1 = SnapshotStore.read(spark, store, 1)
        .select(col("k"), col("ck"), col("total_c"),
          col("p").cast("long").as("p"))
      // yesterday's published join view, materialized beside the table
      v1.join(broadcast(cust), Seq("ck"))
        .groupBy("nation")
        .agg(count(lit(1)).as("n_orders"), sum("total_c").as("sum_total_c"))
        .write.mode("overwrite").parquet(s"$store/_mv/vjoin")
      val mv0 = spark.read.parquet(s"$store/_mv/vjoin")

      import spark.implicits._
      val csDf = TableMerge.changesetRows(spark, dir)
        .toDF("k", "ck", "total_c", "p", "op").localCheckpoint()
      val touched = csDf.select("p").distinct().as[Long].collect().toSeq
      val uPre = v1.filter(col("p").isin(touched: _*))
        .join(broadcast(csDf.filter(col("op") === "U").select("k")), Seq("k"))
        .select(col("k"), col("total_c").as("tc_pre"))
      // signed fact deltas, then THROUGH the dimension join
      val signed = csDf.filter(col("op") === "D")
        .select(col("ck"), lit(-1L).as("dn"), (-col("total_c")).as("dtc"))
        .unionByName(csDf.filter(col("op") === "I")
          .select(col("ck"), lit(1L).as("dn"), col("total_c").as("dtc")))
        .unionByName(csDf.filter(col("op") === "U")
          .join(uPre, Seq("k"))
          .select(col("ck"), lit(0L).as("dn"),
            (col("total_c") - col("tc_pre")).as("dtc")))
      val delta = signed.join(broadcast(cust), Seq("ck"))
        .groupBy("nation")
        .agg(sum("dn").as("dn"), sum("dtc").as("dtc"))
      val mv1 = mv0.join(delta, Seq("nation"), "full_outer")
        .select(col("nation"),
          (coalesce(col("n_orders"), lit(0L)) + coalesce(col("dn"), lit(0L)))
            .as("n_orders"),
          (coalesce(col("sum_total_c"), lit(0L)) + coalesce(col("dtc"), lit(0L)))
            .as("sum_total_c"))
        .filter(col("n_orders") > 0)
        .orderBy("nation")
      val rows = mv1.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), mv1.schema)
    } finally TableMerge.dropStore(store)
  }

  /** pipeline_lineage — COLUMN-LEVEL LINEAGE extracted from the
    * Catalyst ANALYZED PLAN (the governance artifact every pipeline
    * catalog wants: which physical columns feed each output, and
    * which columns the plan's predicates touch — impact analysis
    * without running the query). The traced query is a fixed
    * join+aggregate (revenue per nation over
    * lineitem⋈orders⋈customer⋈nation with a date filter); lineage is
    * derived by a post-order walk of the plan resolving each Alias's
    * reference set down to leaf-relation attributes (leaf tables
    * identified from the scan's file path), plus one `_predicates`
    * row unioning every Filter/Join condition's resolved references.
    *
    * This is pure plan introspection — the query is never executed;
    * the DataFrame declarativity is what makes lineage STATICALLY
    * extractable, the property imperative pipelines lose. The oracle
    * pins the ground-truth lineage literally (same class as the
    * layout oracles), so a resolver that drops a source through an
    * alias chain, leaks a predicate column into a projection, or
    * misattributes a leaf table hash-mismatches.
    *
    * Scale shape: O(plan size), no data touched — lineage extraction
    * costs the same at 100 TB as at 1 MB, which is the point.
    */
  def lineage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeSet}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
    val l = Tables(spark, dir, "lineitem")
    val o = Tables(spark, dir, "orders")
    val c = Tables(spark, dir, "customer")
    val n = Tables(spark, dir, "nation")
    val q = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .filter(year(col("o_orderdate")) >= 1995)
      .groupBy(col("n_name"))
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"),
        count_distinct(col("o_orderkey")).as("n_orders"))
    val plan = q.queryExecution.analyzed
    // leaf attributes -> "table.column" (table from the scan path)
    val src = scala.collection.mutable.Map[Long, Set[String]]()
    plan.collectLeaves().foreach { leaf =>
      val tbl = leaf match {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.headOption
                .map(_.getName.stripSuffix(".parquet")).getOrElse("?")
            case _ => "?"
          }
        case _ => "?"
      }
      leaf.output.foreach(a => src(a.exprId.id) = Set(s"$tbl.${a.name}"))
    }
    def resolve(refs: AttributeSet): Set[String] =
      refs.toSeq.flatMap(r => src.getOrElse(r.exprId.id, Set.empty)).toSet
    // post-order: an Alias's sources are its references', which lower
    // walks have already resolved to leaves
    def walk(p: LogicalPlan): Unit = {
      p.children.foreach(walk)
      p.expressions.foreach(_.foreach {
        case al: Alias => src(al.exprId.id) = resolve(al.child.references)
        case _ =>
      })
    }
    walk(plan)
    val preds = plan.collect {
      case f: Filter => resolve(f.condition.references)
      case j: Join => j.condition.map(cd => resolve(cd.references))
        .getOrElse(Set.empty)
    }.flatten.toSet
    val rows = plan.output.map(a =>
      (a.name, src.getOrElse(a.exprId.id, Set.empty).toSeq.sorted
        .mkString(","))) :+
      ("_predicates", preds.toSeq.sorted.mkString(","))
    rows.toDF("out_col", "sources").orderBy("out_col")
  }

  /** The pipeline_lineage ground truth, pinned literally. */
  val lineageOracle: String =
    """SELECT * FROM (VALUES
      |  ('_predicates', 'customer.c_custkey,customer.c_nationkey,' ||
      |     'lineitem.l_orderkey,nation.n_nationkey,orders.o_custkey,' ||
      |     'orders.o_orderdate,orders.o_orderkey'),
      |  ('n_name', 'nation.n_name'),
      |  ('n_orders', 'orders.o_orderkey'),
      |  ('revenue', 'lineitem.l_discount,lineitem.l_extendedprice')
      |) t(out_col, sources) ORDER BY out_col""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_lineage" -> (lineage _),
    "pipeline_backfill" -> (backfill _),
    "pipeline_ivm" -> (ivm _),
    "pipeline_ivm_join" -> (ivmJoin _),
    "pipeline_mm" -> (mm _),
    "pipeline_incr" -> (incr _),
    "pipeline_validate" -> (validate _),
    "pipeline_clean" -> (clean _),
    "pipeline_train" -> (train _),
    "pipeline_shard" -> (shard _),
    "pipeline_export" -> (export _),
    "pipeline_card" -> (card _)
  )
}
