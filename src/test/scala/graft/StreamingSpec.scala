package graft
// (sliding/join conservation specs at the bottom of this suite)

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.streaming.EventStreams
import graft.relational.Queries

/** The streaming pipelines must converge to their batch twins on a
  * bounded drain, and the bounded-state sessionizer must close and
  * EVICT idle sessions via the event-time timeout when driven
  * trigger-by-trigger with an advancing watermark.
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  val dir = "/root/testdata/sf0.001"

  @transient lazy val spark: SparkSession = GraftSession("StreamingSpec", 4)

  override def afterAll(): Unit = spark.stop()

  private def rows(df: org.apache.spark.sql.DataFrame, cols: String*): Set[Seq[Any]] =
    df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.toSeq).toSet

  private def allEvents: Seq[EventStreams.Ev] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        Queries.nsToSec(col("ts")).as("sec"),
        Queries.cents(col("value")).as("value_c"), col("event_type"))
      .as[EventStreams.Ev].collect().toSeq
  }

  test("match-recognize DFA composes across any batch split; boundary matches count once") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val init = EventStreams.MrSt(false, 0L, 0L, 0L, 0L)
    def ev(id: Long, sec: Long, t: String) =
      EventStreams.Ev(id, 1L, sec, 0L, t)
    // hand case: the match OPENS in batch 1 and COMPLETES in batch 2
    val b1 = Seq(ev(1, 10, "view"), ev(2, 11, "click"))
    val b2 = Seq(ev(3, 12, "click"), ev(4, 13, "purchase"))
    val crossed = EventStreams.advanceMr(EventStreams.advanceMr(init, b1), b2)
    assert(crossed.n === 1L && crossed.sumLen === 4L && crossed.seqLen === 4L,
      s"boundary-spanning match miscounted: $crossed")
    // composition property over REAL per-user sequences: every split
    // point yields the same final state as the unsplit fold
    val evs = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        Queries.nsToSec(col("ts")).as("sec"),
        Queries.cents(col("value")).as("value_c"), col("event_type"))
      .as[EventStreams.Ev].collect()
    val byUser = evs.groupBy(_.user_id).values.toSeq
      .sortBy(_.head.user_id).take(20)
      .map(_.sortBy(e => (e.sec, e.event_id)).toSeq)
    byUser.foreach { s =>
      val whole = EventStreams.advanceMr(init, s)
      (0 to s.length by math.max(s.length / 5, 1)).foreach { k =>
        val split = EventStreams.advanceMr(
          EventStreams.advanceMr(init, s.take(k)), s.drop(k))
        assert(split === whole, s"split at $k diverged for user ${s.head.user_id}")
      }
    }
  }

  test("windowed match-recognize DFA: alternation, split composition, batch equality") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val init = EventStreams.MrSt(false, 0L, 0L, 0L, 0L)
    def ev(id: Long, sec: Long, t: String) =
      EventStreams.Ev(id, 1L, sec, 0L, t)
    // the alternation case: an OTHER-typed interloper between anchor
    // and purchase EXTENDS the windowed match; the plain DFA breaks
    val b1 = Seq(ev(1, 10, "view"), ev(2, 11, "add_cart"))
    val b2 = Seq(ev(3, 12, "click"), ev(4, 13, "purchase"))
    val crossed =
      EventStreams.advanceMrWin(EventStreams.advanceMrWin(init, b1), b2)
    assert(crossed.n === 1L && crossed.sumLen === 4L && crossed.seqLen === 4L,
      s"alternation match miscounted: $crossed")
    val plain = EventStreams.advanceMr(EventStreams.advanceMr(init, b1), b2)
    assert(plain.n === 0L, "plain DFA should break on the interloper")
    // composition property over REAL per-(user, day) sequences
    val evs = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        Queries.nsToSec(col("ts")).as("sec"),
        Queries.cents(col("value")).as("value_c"), col("event_type"))
      .as[EventStreams.Ev].collect()
    val byKey = evs.groupBy(e => (e.user_id, e.sec / 86400L)).values.toSeq
      .sortBy(s => (s.head.user_id, s.head.sec / 86400L)).take(20)
      .map(_.sortBy(e => (e.sec, e.event_id)).toSeq)
    byKey.foreach { s =>
      val whole = EventStreams.advanceMrWin(init, s)
      (0 to s.length by math.max(s.length / 5, 1)).foreach { k =>
        val split = EventStreams.advanceMrWin(
          EventStreams.advanceMrWin(init, s.take(k)), s.drop(k))
        assert(split === whole, s"split at $k diverged for key " +
          s"(${s.head.user_id}, ${s.head.sec / 86400L})")
      }
    }
    // end-to-end: the drained stream equals the batch operator
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(rows(EventStreams.matchRecognizeWinStream(spark, dir)) ===
      rows(Queries.qMatchRecognizeWin(spark, dir)),
      "streamed windowed CEP diverged from the batch query")
  }

  test("stream_late_drop: append-mode drop/merge split matches the closed form") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val evs = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        Queries.nsToSec(col("ts")).as("sec"),
        Queries.cents(col("value")).as("value_c"), col("event_type"))
      .as[EventStreams.Ev].collect().toSeq
    val wm = evs.filter(_.event_id % 3 != 0).map(_.sec).max - 3600L
    val (dropped, merged) = evs.filter(_.event_id % 3 == 0)
      .partition(e => (e.sec / 3600L) * 3600L + 3600L <= wm)
    // the split must be non-trivial at spec scale: stragglers on both
    // sides of the watermark, or the row proves nothing
    assert(dropped.nonEmpty && merged.nonEmpty,
      s"degenerate split: ${dropped.length} dropped / ${merged.length} merged")
    val keep = evs.filter(_.event_id % 3 != 0) ++ merged
    // the metric counts expired GROUPS (post-shuffle partial rows),
    // not input rows — pinned here and in the oracle
    val nDropGroups = dropped.map(e => (e.sec / 3600L, e.event_type))
      .distinct.length.toLong
    val expected = keep.groupBy(e => (e.sec / 3600L, e.event_type)).toSeq
      .map { case ((h, t), rs) =>
        (h, t, rs.length.toLong, rs.map(_.value_c).sum, nDropGroups)
      }.sortBy(r => (r._1, r._2))
    val got = EventStreams.lateDrop(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected,
      "append-mode late handling diverged from the closed form")
    info(s"${dropped.length} dropped / ${merged.length} merged of " +
      s"${dropped.length + merged.length} stragglers")
  }

  test("stream_session equals per-user batch sessionization") {
    val streamed = rows(EventStreams.session(spark, dir),
      "user_id", "session_start", "n_events", "dur_sec", "sum_value_c")
    val expected = allEvents.groupBy(_.user_id).flatMap { case (uid, evs) =>
      EventStreams.sessionsOf(uid, evs)
    }.map(s => Seq[Any](s.user_id, s.session_start, s.n_events, s.dur_sec, s.sum_value_c)).toSet
    assert(streamed === expected)
    // same session partitioning as the batch q_sessionize row
    val batchCount = Queries.qSessionize(spark, dir).count()
    assert(streamed.size.toLong === batchCount)
  }

  test("stream_ann_topk serves each wave exactly and equals the batch brute scan") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables(spark, dir, "embeddings")
    val corpus = emb
      .select(col("vec_id"), col("embedding"),
        graft.ops.Similarity.dot(col("embedding"), col("embedding")).as("vn2"),
        (col("vec_id") % EventStreams.AnnBuckets).as("bucket"))
      .localCheckpoint()
    val probes = emb.filter(col("vec_id") % 101 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"),
        graft.ops.Similarity.dot(col("embedding"), col("embedding")).as("pn2"))
      .as[EventStreams.ProbeV].collect().toSeq.sortBy(_.probe_id)
    assert(probes.size >= 2, "need at least two probes to form two waves")
    val (w1, w2) = probes.splitAt(probes.size / 2)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventStreams.ProbeV]
    val q = EventStreams.annServeDag(input.toDS(), corpus)
      .writeStream.format("memory").queryName("ann_trigger_spec")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete()).start()
    val batch = rows(graft.ops.Similarity.bruteTopk(spark, dir),
      "probe_id", "rank", "vec_id", "cos_u")
    // wave 1: exactly the first wave's probes served, matching the
    // batch scan restricted to them
    input.addData(w1); q.processAllAvailable()
    val served1 = rows(EventStreams.annUnpack(spark.table("ann_trigger_spec")),
      "probe_id", "rank", "vec_id", "cos_u")
    val w1Ids = w1.map(_.probe_id).toSet
    assert(served1 === batch.filter(r => w1Ids.contains(r.head.asInstanceOf[Long])))
    // the state per probe is the bounded top array, never the
    // candidate stream: <= 5 entries per probe in the sink
    assert(spark.table("ann_trigger_spec")
      .select(size(col("top"))).collect().forall(_.getInt(0) <= 5))
    // wave 2: full equality with the batch scan
    input.addData(w2); q.processAllAvailable()
    q.stop()
    val served = rows(EventStreams.annUnpack(spark.table("ann_trigger_spec")),
      "probe_id", "rank", "vec_id", "cos_u")
    assert(served === batch)
  }

  test("stream_volume_ingest commits exactly once through crash and replay windows") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.sources.{SnapshotStore, VolumeQueries}
    val wide = (for (c <- 0L until 2L; z <- 0L until 8L; y <- 0L until 8L;
        x <- 0L until 8L)
      yield (c, z, y, x, z * 64 + y * 8 + x + 1)).toDF("c", "z", "y", "x", "v")
    val pyr = graft.octree.Pyramid(wide).localCheckpoint()
    val all = pyr.collect().map(_.toString).toSeq.sorted
    val b0 = pyr.filter(col("z") % 2 === 0).localCheckpoint()
    val b1 = pyr.filter(col("z") % 2 =!= 0).localCheckpoint()
    Scratch.withDir("sing") { store =>
      def tableRows: Seq[String] =
        SnapshotStore.read(spark, store, SnapshotStore.latest(store))
          .select(col("level").cast("long"), col("c").cast("long"),
            col("z"), col("y"), col("x"), col("v"))
          .collect().map(_.toString).toSeq.sorted
      // batch 0 commits normally
      VolumeQueries.ingestBatch(store)(b0, 0L)
      assert(SnapshotStore.batchOf(store, SnapshotStore.latest(store)) === Some(0L))
      assert(tableRows === b0.select(col("level").cast("long"), col("c").cast("long"),
        col("z"), col("y"), col("x"), col("v")).collect().map(_.toString).toSeq.sorted)
      // batch 1's FIRST attempt dies between file append and manifest
      // commit: orphan files on disk, invisible to readers
      b1.write.mode(org.apache.spark.sql.SaveMode.Append)
        .partitionBy("level", "c").parquet(store)
      val orphaned = SnapshotStore.listDataFiles(store).toSet
      assert(orphaned.size > SnapshotStore.files(store, SnapshotStore.latest(store)).size)
      assert(tableRows.size === b0.count())
      // the replay lands batch 1 exactly once (orphans stay invisible)
      VolumeQueries.ingestBatch(store)(b1, 1L)
      assert(tableRows === all)
      // a replay AFTER the successful commit is a complete no-op
      val vs = SnapshotStore.versions(store)
      val fs = SnapshotStore.listDataFiles(store)
      VolumeQueries.ingestBatch(store)(b1, 1L)
      assert(SnapshotStore.versions(store) === vs)
      assert(SnapshotStore.listDataFiles(store) === fs)
      // vacuum reclaims the crashed attempt's orphans; the table is intact
      val live = SnapshotStore.files(store, SnapshotStore.latest(store)).toSet
      val dead = SnapshotStore.expire(store, SnapshotStore.latest(store))
      assert(dead.nonEmpty && dead.toSet.intersect(live).isEmpty)
      assert(SnapshotStore.listDataFiles(store).toSet === live)
      assert(tableRows === all)
    }
  }

  test("stream_card refreshes across triggers and converges to the batch card") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
      .as[EventStreams.Doc].collect().toSeq
    val (b1, b2) = docs.splitAt(docs.size / 2)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventStreams.Doc]
    val q = ops.Pipeline.cardDf(input.toDF())
      .writeStream.format("memory").queryName("card_trigger_spec")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete()).start()
    input.addData(b1); q.processAllAvailable()
    val mid = spark.table("card_trigger_spec")
      .agg(sum("n_docs")).collect()(0).getLong(0)
    assert(mid === b1.size.toLong, "first trigger's card must account batch 1 exactly")
    input.addData(b2); q.processAllAvailable()
    q.stop()
    val streamed = rows(spark.table("card_trigger_spec"),
      "source", "split", "n_docs", "n_chars", "est_tokens", "n_kept", "kept_chars")
    val batch = rows(ops.Pipeline.card(spark, dir),
      "source", "split", "n_docs", "n_chars", "est_tokens", "n_kept", "kept_chars")
    assert(streamed === batch)
  }

  test("stream_ohlc champions merge across triggers to the batch bars") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // three time-ordered waves: min_by/max_by state must keep the
    // first wave's open champion while later waves move close/high
    val evs = allEvents.sortBy(e => (e.sec, e.event_id))
    val waves = evs.grouped((evs.size + 2) / 3).toSeq
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventStreams.Ev]
    val q = EventStreams.ohlcAgg(input.toDF())
      .writeStream.format("memory").queryName("ohlc_trigger_spec")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete()).start()
    waves.foreach { w => input.addData(w); q.processAllAvailable() }
    q.stop()
    val streamed = rows(spark.table("ohlc_trigger_spec"),
      "bucket_h", "event_type", "open_c", "high_c", "low_c", "close_c", "n", "vol_c")
    val batch = rows(Queries.qOhlc(spark, dir),
      "bucket_h", "event_type", "open_c", "high_c", "low_c", "close_c", "n", "vol_c")
    assert(streamed === batch)
  }

  test("stream_gapfill carries the fill value across triggers to the batch accounting") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // time-ordered waves: a purchase in wave 1 must fill views in
    // wave 3 — the carried value lives in group state between triggers
    val evs = allEvents.sortBy(e => (e.sec, e.event_id))
    val waves = evs.grouped((evs.size + 2) / 3).toSeq
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventStreams.Ev]
    val q = EventStreams.gapfillSnaps(input.toDS())
      .writeStream.format("memory").queryName("gapfill_trigger_spec")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update()).start()
    waves.foreach { w => input.addData(w); q.processAllAvailable() }
    q.stop()
    val streamed = rows(spark.table("gapfill_trigger_spec")
      .groupBy("user_id")
      .agg(max("n_events").as("n_events"), max("n_obs").as("n_obs"),
        max("n_unfilled").as("n_unfilled"), max("carried_c").as("carried_c")),
      "user_id", "n_events", "n_obs", "n_unfilled", "carried_c")
    val batch = rows(Queries.qGapfill(spark, dir),
      "user_id", "n_events", "n_obs", "n_unfilled", "carried_c")
    assert(streamed === batch)
  }

  test("stream_ewma bounded queue survives triggers to the batch window fold") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // time-ordered waves: the ≤32-value decay queue must carry across
    // triggers — a wave boundary inside a user's window would shift
    // every later EWMA if the state were per-trigger
    val evs = allEvents.sortBy(e => (e.sec, e.event_id))
    val waves = evs.grouped((evs.size + 2) / 3).toSeq
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventStreams.Ev]
    val q = EventStreams.ewmaSnaps(input.toDS())
      .writeStream.format("memory").queryName("ewma_trigger_spec")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update()).start()
    waves.foreach { w => input.addData(w); q.processAllAvailable() }
    q.stop()
    val streamed = rows(spark.table("ewma_trigger_spec")
      .groupBy("user_id")
      .agg(max("n_events").as("n_events"),
        max_by(col("ewma_last_mc"), col("n_events")).as("ewma_last_mc"),
        max("max_dev_mc").as("max_dev_mc"), max("n_spikes").as("n_spikes")),
      "user_id", "n_events", "ewma_last_mc", "max_dev_mc", "n_spikes")
    val batch = rows(Queries.qEwma(spark, dir),
      "user_id", "n_events", "ewma_last_mc", "max_dev_mc", "n_spikes")
    assert(streamed === batch)
  }

  test("stream_diversity cell state accumulates across triggers to the batch report") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
      .as[EventStreams.Doc].collect().toSeq
    val waves = docs.grouped((docs.size + 2) / 3).toSeq
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventStreams.Doc]
    val q = input.toDF()
      .select(col("source"), explode(expr(graft.ops.TextAnalysis.toksExpr)).as("t"))
      .groupBy("source", "t").agg(count(lit(1)).as("c"))
      .writeStream.format("memory").queryName("diversity_trigger_spec")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete()).start()
    waves.foreach { w => input.addData(w); q.processAllAvailable() }
    q.stop()
    val streamed = rows(graft.ops.Sampling.diversityReport(
      spark.table("diversity_trigger_spec")),
      "source", "n_tokens", "vocab", "sum_c2", "conc_ppm", "top_ppm")
    val batch = rows(graft.ops.Sampling.diversity(spark, dir),
      "source", "n_tokens", "vocab", "sum_c2", "conc_ppm", "top_ppm")
    assert(streamed === batch)
  }

  test("stream_kmv sketch merges across triggers to the batch sketch") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = Tables(spark, dir, "events")
      .select(col("event_type"), col("user_id")).as[(String, Long)].collect().toSeq
    // two batches → the sketch buffer round-trips the state store
    // (serialize → store → deserialize → merge) between triggers
    val (b1, b2) = evs.splitAt(evs.size / 2)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    val agg = input.toDS().toDF("event_type", "user_id")
      .withColumn("h", expr("graft_md5_prefix(cast(user_id as string))"))
      .groupBy("event_type")
      .agg(expr(s"graft_kmv_kth(h, ${ops.Sampling.KmvK})").as("kmv"))
      .select(col("event_type"), col("kmv.k_used").as("k_used"),
        col("kmv.kth_hash").as("kth_hash"))
    val q = agg.writeStream.format("memory").queryName("kmv_trigger_spec")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete()).start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    q.stop()
    val streamed = rows(spark.table("kmv_trigger_spec"), "event_type", "k_used", "kth_hash")
    val batch = rows(ops.Sampling.kmvDistinct(spark, dir)
      .select("event_type", "k_used", "kth_hash"), "event_type", "k_used", "kth_hash")
    assert(streamed === batch)
  }

  test("stream_volume_stats merges voxel batches to the batch block stats") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val voxels = graft.VoxelGrid(spark, dir)
      .select(col("c"), col("z"), col("y"), col("x"), col("v"))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // two triggers: partial block aggregates must MERGE in the state
    // store (count/min/max/sum are associative)
    val (b1, b2) = voxels.splitAt(voxels.size / 2)
    val leaf = graft.VoxelGrid.Leaf
    val dense = leaf.toLong * leaf * leaf
    val input = MemoryStream[(Long, Long, Long, Long, Long)]
    val agg = graft.octree.Addressing.blockify(
        input.toDS().toDF("c", "z", "y", "x", "v"))
      .groupBy("c", "bz", "by", "bx")
      .agg(count(lit(1)).as("n_voxels"), min("v").as("min_v"),
        max("v").as("max_v"), sum("v").as("sum_v"))
      .withColumn("zero_frac", (lit(dense) - col("n_voxels")) / lit(dense.toDouble))
    val q = agg.writeStream.format("memory").queryName("volstats_trigger_spec")
      .outputMode(OutputMode.Complete()).start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    q.stop()
    val cols = Seq("c", "bz", "by", "bx", "n_voxels", "min_v", "max_v", "sum_v", "zero_frac")
    val streamed = rows(spark.table("volstats_trigger_spec"), cols: _*)
    val batch = rows(graft.octree.Pyramid.blockStats(graft.VoxelGrid(spark, dir)), cols: _*)
    assert(streamed === batch)
  }

  test("stream_clean equals the batch filter→mask→dedup key set") {
    val streamed = rows(EventStreams.clean(spark, dir), "masked_md5")
      .map(_.head.asInstanceOf[String])
    val keep = ops.TextAnalysis.filterDocs(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("keep")).toMap
    val batch = ops.TextAnalysis.piiMask(spark, dir).collect()
      .filter(r => keep(r.getLong(0)) == 1L)
      .map(_.getAs[String]("masked_md5")).toSet
    assert(streamed === batch)
  }

  test("stream_tumbling equals batch tumbling (sans distinct users)") {
    val streamed = rows(EventStreams.tumbling(spark, dir),
      "bucket_h", "event_type", "cnt", "sum_value_c")
    val batch = rows(Queries.qTumbling(spark, dir),
      "bucket_h", "event_type", "cnt", "sum_value_c")
    assert(streamed === batch)
  }

  test("file-source drive matches MemoryStream and batch tumbling (no driver feeding)") {
    // tumblingFile itself requires >= 2 real micro-batches (its
    // internal nBatches guard), so equality here also certifies the
    // multi-trigger file-source path
    val fromFiles = rows(EventStreams.tumblingFile(spark, dir),
      "bucket_h", "event_type", "cnt", "sum_value_c")
    val batch = rows(Queries.qTumbling(spark, dir),
      "bucket_h", "event_type", "cnt", "sum_value_c")
    assert(fromFiles === batch)
  }

  test("file-source multi-batch sessionize equals the MemoryStream drain") {
    // sessionFile writes four CHRONOLOGICAL slices and requires >= 2
    // real micro-batches, so equality certifies the stateful
    // flatMapGroupsWithState operator under a genuine multi-trigger
    // file-source drain — open sessions crossing batch boundaries,
    // watermark advancing between batches, timeout evictions included
    val fromFiles = rows(EventStreams.sessionFile(spark, dir),
      "user_id", "session_start", "n_events", "dur_sec", "sum_value_c")
    val fromMemory = rows(EventStreams.session(spark, dir),
      "user_id", "session_start", "n_events", "dur_sec", "sum_value_c")
    assert(fromFiles === fromMemory)
  }

  test("sessionizeStream closes by gap, evicts by timeout, and restarts cleanly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.EventStreams.{Ev, sessionizeStream, finalizeSessionSink}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = sessionizeStream(input.toDS()).toDF()
      .writeStream.format("memory").queryName("sess_multi_trigger")
      .outputMode(OutputMode.Update()).start()
    def sink = spark.table("sess_multi_trigger")
    def stateRows: Long = q.lastProgress.stateOperators(0).numRowsTotal

    // T1: user 9 opens a session; a >gap jump in the same trigger
    // closes (start=1000, n=2) and opens (start=5000).
    input.addData(Ev(1, 9, 1000, 10, "view"), Ev(2, 9, 1500, 10, "view"),
      Ev(3, 9, 5000, 10, "view"))
    q.processAllAvailable()
    assert(rows(sink, "user_id", "session_start", "n_events")
      .contains(Seq(9L, 1000L, 2L)), "closed-by-gap session emitted in trigger 1")

    // T2: user 8 far in the future advances the watermark
    // (max event time - 30 min) way past user 9's last+gap.
    input.addData(Ev(10, 8, 1000000, 5, "view"))
    q.processAllAvailable()
    // T3: another trigger lets the timeout fire with the T2 watermark:
    // user 9's open session (start=5000, n=1) must be emitted and its
    // state row REMOVED — only user 8's open session remains.
    input.addData(Ev(11, 8, 1000010, 5, "view"))
    q.processAllAvailable()
    assert(rows(sink, "user_id", "session_start", "n_events")
      .contains(Seq(9L, 5000L, 1L)), "timeout must close the idle session")
    assert(stateRows === 1L, "timed-out state row must be evicted")

    // T4: user 9 returns after eviction — a FRESH session under a new
    // start key (the retired per-user counter restarted at sid=1 here,
    // colliding with the already-emitted first session).
    input.addData(Ev(12, 9, 1000020, 7, "view"))
    q.processAllAvailable()
    q.stop()
    val finalSessions = rows(finalizeSessionSink(sink),
      "user_id", "session_start", "n_events", "sum_value_c")
    assert(finalSessions === Set(
      Seq(9L, 1000L, 2L, 20L),
      Seq(9L, 5000L, 1L, 10L),
      Seq(9L, 1000020L, 1L, 7L),
      Seq(8L, 1000000L, 2L, 10L)))
  }

  test("sessionize output survives a checkpointed stop/restart mid-stream") {
    // The operational 100 TB claim behind every stateful operator:
    // state-store RECOVERY. Drive the sessionizer with a
    // checkpointLocation, stop it mid-corpus, restart a fresh query
    // over the same checkpoint + source, drain the rest — the
    // combined output must equal the uninterrupted run. The memory
    // sink refuses checkpoint recovery, so both runs use foreachBatch
    // (the production recovery-capable sink shape). The cut lands
    // INSIDE an open session, so without restored state its second
    // half would re-open under a new start key and the finalized set
    // would differ.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.EventStreams.{Ev, SessionOut, sessionizeStream}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    Scratch.withDir("sess_ckpt") { ckpt =>
      val evs = allEvents.sortBy(e => (e.sec, e.event_id))
      // cut at the first event past 1/3 of the stream that CONTINUES its
      // user's open session (within the 30-min gap): that session is
      // guaranteed open across the restart
      val lastSec = scala.collection.mutable.Map.empty[Long, Long]
      var cut = -1
      for ((e, i) <- evs.zipWithIndex) {
        if (cut < 0 && i >= evs.size / 3 &&
            lastSec.get(e.user_id).exists(l => e.sec - l <= 1800)) cut = i
        lastSec(e.user_id) = e.sec
      }
      assert(cut > 0, "corpus has no session spanning a 1/3+ cut")
      val (b1, b2) = evs.splitAt(cut)

      val got = new scala.collection.mutable.ArrayBuffer[SessionOut]()
      // ONE source instance across both runs: the checkpoint's offset
      // log is per-source, so the restarted query resumes from run 1's
      // committed offset and reads only the blocks added since
      val input = MemoryStream[Ev]
      def drainRun(batch: Seq[Ev]): Unit = {
        input.addData(batch)
        val q = sessionizeStream(input.toDS())
          .writeStream
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Update())
          .foreachBatch { (df: org.apache.spark.sql.Dataset[SessionOut], _: Long) =>
            val snap = df.collect()
            got.synchronized { got ++= snap }; ()
          }
          .start()
        q.processAllAvailable(); q.stop()
      }
      drainRun(b1) // run 1: state checkpointed, query stopped
      drainRun(b2) // run 2: fresh query, SAME checkpoint — state restored

      // finalize Update-mode snapshots: a session's final row is its
      // max-n_events snapshot (same rule as finalizeSessionSink)
      val finalized = got.groupBy(s => (s.user_id, s.session_start))
        .values.map(_.maxBy(_.n_events)).toSet
      val expected = allEvents.groupBy(_.user_id).flatMap { case (uid, es) =>
        EventStreams.sessionsOf(uid, es)
      }.toSet
      assert(finalized === expected,
        "restarted run diverged from the uninterrupted sessionization")
    }
  }

  test("dedup_wm state survives a checkpointed restart (exactly-once across runs)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.EventStreams.{Ev, dedupWmStream}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    Scratch.withDir("dwm_ckpt") { ckpt =>
      def drainRun(input: MemoryStream[Ev]): Seq[(Long, String)] = {
        val buf = new scala.collection.mutable.ArrayBuffer[(Long, String)]()
        val q = dedupWmStream(input.toDS())
          .writeStream
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append())
          .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            val snap = df.collect().map(r => (r.getLong(0), r.getString(1)))
            buf.synchronized { buf ++= snap }; ()
          }
          .start()
        q.processAllAvailable(); q.stop()
        buf.toSeq
      }
      val input = MemoryStream[Ev]
      input.addData(Ev(1, 1, 1000, 10, "view"), Ev(2, 2, 1000, 10, "view"))
      val a = drainRun(input)
      // duplicate of (1, view) inside the watermark window + one new key:
      // only the RESTORED state store can suppress the duplicate
      input.addData(Ev(3, 1, 1100, 10, "view"), Ev(4, 3, 1200, 10, "view"))
      val b = drainRun(input)
      assert(a.toSet === Set((1L, "view"), (2L, "view")))
      assert(b.toSet === Set((3L, "view")),
        s"run 2 must emit ONLY the new key (lost state would re-emit (1,view)); got ${b.toSet}")
      assert(a.length + b.length === 3, "exactly-once across the restart")
    }
  }

  test("stream_funnel stages set once, respect windows, and advance across triggers") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    import graft.streaming.EventStreams.{Ev, FunnelSt, advanceFunnel}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val snaps = input.toDS()
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelSt, (Long, Long, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[Ev], state: GroupState[FunnelSt]) =>
          val st = advanceFunnel(
            state.getOption.getOrElse(FunnelSt(-1L, -1L, -1L)), it.toSeq)
          state.update(st)
          Iterator.single((uid, st.t1, st.t2, st.t3))
      }.toDF("user_id", "t1", "t2", "t3")
    val q = snaps.writeStream.format("memory").queryName("funnel_trigger_spec")
      .outputMode(OutputMode.Update()).start()
    def latest(u: Long): (Long, Long, Long) = {
      val r = spark.table("funnel_trigger_spec").filter(s"user_id = $u")
        .orderBy(org.apache.spark.sql.functions.col("t1").desc,
          org.apache.spark.sql.functions.col("t2").desc,
          org.apache.spark.sql.functions.col("t3").desc).collect()(0)
      (r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // T1: view opens the funnel; a click BEFORE the view must not count
    input.addData(Ev(1, 7, 50, 0, "click"), Ev(2, 7, 100, 0, "view"))
    q.processAllAvailable()
    assert(latest(7) === ((100L, -1L, -1L)), "pre-view click admitted")
    // T2: in-window click advances; purchase before click ignored
    input.addData(Ev(3, 7, 150, 0, "purchase"), Ev(4, 7, 200, 0, "click"))
    q.processAllAvailable()
    assert(latest(7) === ((100L, 200L, -1L)), "stage-2 transition wrong")
    // T3: purchase after the click completes; a LATER view can't move t1
    input.addData(Ev(5, 7, 300, 0, "purchase"), Ev(6, 7, 400, 0, "view"))
    q.processAllAvailable()
    assert(latest(7) === ((100L, 200L, 300L)), "stage-3 transition wrong")
    // out-of-window: user 8 clicks 8 days after the view — rejected
    input.addData(Ev(7, 8, 1000, 0, "view"), Ev(8, 8, 1000 + 8L * 86400, 0, "click"))
    q.processAllAvailable()
    q.stop()
    assert(latest(8) === ((1000L, -1L, -1L)), "out-of-window click admitted")
  }

  test("stream_drift equals the batch chi-square report, state merging across triggers") {
    val got = rows(EventStreams.driftStream(spark, dir),
      "source", "rank", "tok", "o", "drift_u")
    val want = rows(graft.ops.Sampling.sourceDrift(spark, dir),
      "source", "rank", "tok", "o", "drift_u")
    assert(got === want)
    // the mergeable-state claim, directly: the corpus fed in two
    // triggers must drain to the identical report (counts add in the
    // state store; a non-mergeable formulation would double-count or
    // drop the first trigger)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docsSeq = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
      .as[EventStreams.Doc].collect().toSeq
    val (b1, b2) = docsSeq.splitAt(docsSeq.size / 2)
    val input = MemoryStream[EventStreams.Doc]
    val cells = input.toDF()
      .withColumn("t", expr(graft.ops.TextAnalysis.toksExpr))
      .select(col("source"), explode(col("t")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("o"))
    val q = cells.writeStream.format("memory").queryName("drift_two_triggers")
      .outputMode(OutputMode.Complete()).start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    q.stop()
    val got2 = rows(graft.ops.Sampling.driftReport(spark.table("drift_two_triggers")),
      "source", "rank", "tok", "o", "drift_u")
    assert(got2 === want)
  }

  test("stream_retention equals the batch cohort table and re-bases across triggers") {
    import EventStreams.{RetSt, advanceRetention, RetMaxOffset}
    // bounded drain equals batch q_retention exactly
    val got = rows(EventStreams.retention(spark, dir),
      "cohort_day", "offset_d", "n_users")
    val want = rows(Queries.qRetention(spark, dir),
      "cohort_day", "offset_d", "n_users")
    assert(got === want)
    // state transition unit semantics: offsets accumulate as bits
    val s1 = advanceRetention(None, Seq(100L, 102L, 100L))
    assert(s1 === RetSt(100L, (1L << 0) | (1L << 2)))
    // a later trigger adds offsets against the SAME cohort
    val s2 = advanceRetention(Some(s1), Seq(105L))
    assert(s2 === RetSt(100L, (1L << 0) | (1L << 2) | (1L << 5)))
    // an earlier day re-bases the cohort and shifts existing offsets
    val s3 = advanceRetention(Some(s2), Seq(98L))
    assert(s3 === RetSt(98L, (1L << 0) | (1L << 2) | (1L << 4) | (1L << 7)))
    // offsets beyond the analysis window fall outside the mask
    val s4 = advanceRetention(Some(s3), Seq(98L + RetMaxOffset))
    assert(s4 === s3, "offset at the cap must be dropped")
  }

  test("kmv sketch state survives a checkpointed restart (custom agg buffer recovery)") {
    // The KmvKthHash TypedImperativeAggregate serializes its bounded
    // TreeSet buffer into the state store; a restarted query must
    // RESTORE those buffers and keep merging. Batch 1's offsets are
    // committed, so run 2 only reads batch 2 — if the restored state
    // were lost, the Complete-mode aggregate would cover batch 2
    // alone and diverge from the full-corpus batch sketch.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = Tables(spark, dir, "events")
      .select(col("event_type"), col("user_id")).as[(String, Long)].collect().toSeq
    val (b1, b2) = evs.splitAt(evs.size / 2)
    Scratch.withDir("kmv_ckpt") { ckpt =>
      val input = MemoryStream[(String, Long)]
      val last = new scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
      def drain(): Unit = {
        val agg = input.toDS().toDF("event_type", "user_id")
          .withColumn("h", expr("graft_md5_prefix(cast(user_id as string))"))
          .groupBy("event_type")
          .agg(expr(s"graft_kmv_kth(h, ${ops.Sampling.KmvK})").as("kmv"))
          .select(col("event_type"), col("kmv.k_used").as("k_used"),
            col("kmv.kth_hash").as("kth_hash"))
        val q = agg.writeStream
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Complete())
          .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            val snap = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
            last.synchronized { last.clear(); last ++= snap }; ()
          }
          .start()
        q.processAllAvailable(); q.stop()
      }
      input.addData(b1); drain()
      input.addData(b2); drain()
      val batch = rows(ops.Sampling.kmvDistinct(spark, dir)
        .select("event_type", "k_used", "kth_hash"), "event_type", "k_used", "kth_hash")
      assert(last.map(t => Seq[Any](t._1, t._2, t._3)).toSet === batch,
        "restored sketch buffers diverged from the full-corpus batch sketch")
    }
  }

  test("retention state survives a checkpointed restart (mapGroupsWithState recovery)") {
    // the per-user RetSt rows live in the state store; a restarted
    // query must restore them — batch 1's offsets are committed, so
    // run 2 reads only batch 2, and a lost state would re-base every
    // user's cohort to their batch-2 minimum
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.streaming.EventStreams.{RetSt, advanceRetention}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val days = allEvents.map(e => (e.user_id, e.sec / 86400L))
    val (b1, b2) = days.splitAt(days.size / 2)
    Scratch.withDir("ret_ckpt") { ckpt =>
      val input = MemoryStream[(Long, Long)]
      val last = new scala.collection.mutable.HashMap[Long, (Long, Long)]()
      def drain(): Unit = {
        val snaps = input.toDS()
          .groupByKey(_._1)
          .mapGroupsWithState[RetSt, (Long, Long, Long)](GroupStateTimeout.NoTimeout()) {
            (uid: Long, it: Iterator[(Long, Long)], state: GroupState[RetSt]) =>
              val st = advanceRetention(state.getOption, it.map(_._2).toSeq)
              state.update(st)
              (uid, st.cohort, st.mask)
          }.toDF("user_id", "cohort", "mask")
        val q = snaps.writeStream
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Update())
          .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            df.collect().foreach { r =>
              last.synchronized { last(r.getLong(0)) = (r.getLong(1), r.getLong(2)) }
            }; ()
          }
          .start()
        q.processAllAvailable(); q.stop()
      }
      input.addData(b1); drain()
      input.addData(b2); drain()
      // the restored-and-advanced state must equal a single fold over
      // the whole corpus (order-independent below the offset cap)
      val expect = days.groupBy(_._1).map { case (u, ds) =>
        val st = advanceRetention(None, ds.map(_._2))
        u -> ((st.cohort, st.mask))
      }
      assert(last.toMap === expect, "restored retention state diverged")
    }
  }

  test("stream_dedup_wm suppresses in-window dups, evicts state, re-admits after eviction") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.EventStreams.{Ev, dedupWmStream}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = dedupWmStream(input.toDS())
      .writeStream.format("memory").queryName("dedup_wm_trigger_spec")
      .outputMode(OutputMode.Append()).start()
    def sink = spark.table("dedup_wm_trigger_spec")
    def stateRows: Long = q.lastProgress.stateOperators(0).numRowsTotal
    def key9 = sink.filter("user_id = 9 AND event_type = 'view'").count()

    // T1: three in-window occurrences of (9, view) → ONE emission
    input.addData(Ev(1, 9, 1000, 10, "view"), Ev(2, 9, 1400, 10, "view"),
      Ev(3, 9, 2000, 10, "view"))
    q.processAllAvailable()
    assert(key9 === 1L, "in-window duplicates must collapse to one row")
    assert(stateRows === 1L)

    // T2: far-future key advances the watermark past (9, view)'s
    // expiration; T3 lets the eviction run with that watermark
    input.addData(Ev(10, 8, 1000000, 5, "click"))
    q.processAllAvailable()
    input.addData(Ev(11, 8, 1000010, 5, "click"))
    q.processAllAvailable()
    assert(stateRows === 1L, "expired key must leave the state store")

    // T4: (9, view) recurs after eviction → re-emitted (the documented
    // within-watermark contract; state was dropped, so it's new again)
    input.addData(Ev(12, 9, 1000020, 7, "view"))
    q.processAllAvailable()
    q.stop()
    assert(key9 === 2L, "post-eviction recurrence must re-emit")
  }

  test("median count grid merges across triggers to the exact batch medians") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val evs = Tables(spark, dir, "events")
      .select(col("event_type"), col("value")).as[(String, Double)].collect().toSeq
    val (h1, h2) = evs.splitAt(evs.length / 2)
    val input = MemoryStream[(String, Double)]
    val agg = graft.ops.Sampling.medianHist(input.toDS().toDF("event_type", "value"))
    val q = agg.writeStream.format("memory").queryName("med_grid_spec")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete()).start()
    input.addData(h1); q.processAllAvailable()
    input.addData(h2); q.processAllAvailable()
    q.stop()
    val live = graft.ops.Sampling.medianPick(spark.table("med_grid_spec"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(4))).toSet
    val batch = graft.ops.Sampling.exactMedian(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(4))).toSet
    assert(live === batch && live.nonEmpty)
  }

  test("incr-dedup verdict aggregation merges across triggers") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // same fixture as the single-trigger spec, but the BATCH arrives
    // in two real triggers: doc 4's candidate set and verdict must
    // come out identical (Complete-mode agg state merges per doc)
    val ta = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val tb = "kilo lima mike november oscar papa quebec romeo sierra tango"
    Scratch.withDir("sincr2_spec") { tmp =>
      Seq((1L, "en", ta, "s"), (4L, "en", ta, "s"),
          (8L, "en", tb, "s"), (12L, "en", tb, "s"))
        .toDF("doc_id", "lang", "text", "source")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      // drive the operator's internals with a split feed: reuse the
      // public op for the expectation, then a manual two-trigger run
      val expect = EventStreams.incrDedup(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(expect === Set((4L, 1L, 1L, 0L), (8L, 0L, -1L, 1L), (12L, 0L, -1L, 1L)))
      val newDocs = Tables(spark, tmp, "documents")
        .filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"), col("text"), col("source"))
        .as[EventStreams.Doc].collect().toSeq.sortBy(_.doc_id)
      val (h1, h2) = newDocs.splitAt(1)
      val got = EventStreams.incrDedupDriven(spark, tmp, Seq(h1, h2)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got === expect)
    }
  }

  test("stream_incr_dedup admits against the static index only (no in-batch arm)") {
    import spark.implicits._
    val ta = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val tb = "kilo lima mike november oscar papa quebec romeo sierra tango"
    Scratch.withDir("sincr_spec") { tmp =>
      // old corpus: 1 (=A); new batch: 4 (=A, dup of old 1), 8 and 12
      // (=B twins with NO old counterpart -> BOTH kept live, unlike the
      // batch twin where 12 resolves to earlier-in-batch 8)
      Seq((1L, "en", ta, "s"), (4L, "en", ta, "s"),
          (8L, "en", tb, "s"), (12L, "en", tb, "s"))
        .toDF("doc_id", "lang", "text", "source")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val live = EventStreams.incrDedup(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(live === Set((4L, 1L, 1L, 0L), (8L, 0L, -1L, 1L), (12L, 0L, -1L, 1L)))
      val batch = graft.ops.Dedup.incremental(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(batch === Set((4L, 1L, 1L, 0L), (8L, 0L, -1L, 1L), (12L, 1L, 8L, 0L)))
    }
  }

  test("stream_range_join and stream_asof equal their batch twins on the bounded drain") {
    val liveR = EventStreams.rangeJoinStream(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batchR = Queries.qRangeJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(liveR === batchR && liveR.nonEmpty)
    val liveA = EventStreams.asofStream(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batchA = Queries.qAsof(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(liveA === batchA && liveA.exists(_._3 == -1L))
  }

  test("native session_window merges across real micro-batches to the custom sessionizer's output") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val evs = allEvents.sortBy(e => (e.sec, e.event_id))
    val (h1, h2) = evs.splitAt(evs.length / 2)
    val sentinel = EventStreams.Ev(-1L, -1L, evs.map(_.sec).max + 86400L, 0L, "flush")
    val input = MemoryStream[EventStreams.Ev]
    val agg = input.toDS().toDF()
      .withColumn("ets", timestamp_seconds(col("sec")))
      .withWatermark("ets", "30 minutes")
      .groupBy(col("user_id"), session_window(col("ets"), "1800 seconds"))
      .agg(count(lit(1)).as("n_events"), min(col("sec")).as("session_start"),
        (max(col("sec")) - min(col("sec"))).as("dur_sec"),
        sum(col("value_c")).as("sum_value_c"))
    val q = agg.writeStream.format("memory").queryName("sess_native_spec")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    // two REAL chronological micro-batches + the flush sentinel: a
    // session straddling the batch edge must merge in the state store
    input.addData(h1); q.processAllAvailable()
    input.addData(h2 :+ sentinel); q.processAllAvailable()
    q.stop()
    val live = spark.table("sess_native_spec").filter(col("user_id") =!= -1L)
      .select("user_id", "session_start", "n_events", "dur_sec", "sum_value_c")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val custom = EventStreams.session(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(live === custom && live.nonEmpty)
  }

  test("sessionsOf splits on the strict 30-min gap boundary") {
    import EventStreams._
    val evs = Seq(
      Ev(1, 7, 1000, 5, "view"),
      Ev(2, 7, 1000 + 1800, 5, "view"),  // exactly 30 min: same session
      Ev(3, 7, 1000 + 1800 + 1801, 5, "view")) // > 30 min: new session
    val s = sessionsOf(7, evs)
    assert(s.map(x => (x.session_start, x.n_events)) === Seq((1000L, 2L), (4601L, 1L)))
  }

  test("advanceSession drops late events of an already-closed session") {
    import EventStreams._
    val (closed1, open1) = advanceSession(7, None, Seq(Ev(1, 7, 10000, 5, "view")))
    assert(closed1.isEmpty && open1 === Some(OpenSess(10000, 10000, 1, 5)))
    // gap jump closes; then a straggler older than newStart-gap is dropped
    val (closed2, open2) = advanceSession(7, open1,
      Seq(Ev(2, 7, 20000, 5, "view")))
    assert(closed2 === Seq(SessionOut(7, 10000, 1, 0, 5)))
    val (closed3, open3) = advanceSession(7, open2,
      Seq(Ev(3, 7, 10500, 9, "view")))
    assert(closed3.isEmpty, "stale event must not re-close anything")
    assert(open3 === Some(OpenSess(20000, 20000, 1, 5)), "stale event dropped")
    // a late event within [start-gap, start) merges into the open
    // session without moving the immutable start key
    val (closed4, open4) = advanceSession(7, open3,
      Seq(Ev(4, 7, 19000, 9, "view")))
    assert(closed4.isEmpty)
    assert(open4 === Some(OpenSess(20000, 20000, 2, 14)),
      "in-allowance late event merges; start key unchanged")
  }

  test("sliding windows double-count exactly; stream-static join loses no events") {
    import org.apache.spark.sql.functions._
    val nEvents = Tables(spark, dir, "events").count()
    // every event lands in exactly 2 of the 2h/1h sliding windows
    val slid = graft.streaming.EventStreams.sliding(spark, dir)
    assert(slid.agg(sum("cnt")).collect()(0).getLong(0) === 2 * nEvents)
    // and each sliding window is the sum of its two tumbling halves
    val tumb = graft.streaming.EventStreams.tumbling(spark, dir).collect()
      .map(r => r.getAs[Long]("bucket_h") -> r.getAs[Long]("cnt"))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    slid.collect().groupBy(_.getAs[Long]("win_start_h")).foreach { case (h, rows) =>
      val winCnt = rows.map(_.getAs[Long]("cnt")).sum
      assert(winCnt === tumb.getOrElse(h, 0L) + tumb.getOrElse(h + 1, 0L),
        s"window $h is not its two tumbling halves")
    }
    // the customer key projection covers every user: inner join keeps all
    val joined = graft.streaming.EventStreams.joinStatic(spark, dir)
    assert(joined.agg(sum("cnt")).collect()(0).getLong(0) === nEvents)
  }

  test("streaming CMS grid merges across triggers to the batch sketch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Sampling.{CmsDepth, CmsWidth}
    val users = Tables(spark, dir, "events").select("user_id").as[Long].collect().toSeq
    val (b1, b2) = users.splitAt(users.size / 2)
    val input = MemoryStream[Long]
    val cellCols = (0 until CmsDepth).map { j =>
      struct(lit(j).as("d"),
        expr(s"graft_md5_prefix(concat(cast(value as string), '#', '$j')) % $CmsWidth").as("idx"))
    }
    val agg = input.toDS().toDF("value")
      .select(explode(array(cellCols: _*)).as("c"))
      .select(col("c.d").cast("long").as("d"), col("c.idx").as("idx"))
      .groupBy("d", "idx").agg(count(lit(1)).as("cnt"))
    val q = agg.writeStream.format("memory").queryName("cms_trigger_spec")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete()).start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    q.stop()
    val streamed = rows(spark.table("cms_trigger_spec"), "d", "idx", "cnt")
    // batch re-derivation over the same users
    val expected = users.flatMap { u =>
      (0 until CmsDepth).map(j => (j.toLong, u))
    }.groupBy { case (j, u) =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$u#$j".getBytes("UTF-8"))
      (j, java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16) % CmsWidth)
    }.map { case ((j, idx), v) => Seq[Any](j, idx, v.size.toLong) }.toSet
    assert(streamed === expected)
  }

  test("stream-stream join matches in-window pairs across triggers and evicts state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.EventStreams.{Ev, streamStreamJoinDag}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = streamStreamJoinDag(input.toDS()).writeStream.format("memory")
      .queryName("sj_multi_trigger").outputMode(OutputMode.Append()).start()
    def sink = spark.table("sj_multi_trigger")
    def stateRows: Long = q.lastProgress.stateOperators(0).numRowsTotal

    // T1: click at t=1000; purchase 10 min later joins; purchase 2 h
    // later is OUTSIDE the 1 h range and must never pair
    input.addData(Ev(1, 7, 1000, 5, "click"), Ev(2, 7, 1600, 9, "purchase"),
      Ev(3, 7, 8200, 9, "purchase"))
    q.processAllAvailable()
    assert(rows(sink, "click_id", "purchase_id", "delay_sec") ===
      Set(Seq(1L, 2L, 600L)), "only the in-window purchase pairs")
    val stateAfterT1 = stateRows
    assert(stateAfterT1 > 0, "both buffers hold in-horizon rows")

    // T2: far-future events push the watermark past every T1 row's
    // eviction horizon (click keeps rows until wm > cts + 1h + 30min)
    input.addData(Ev(10, 8, 100000, 5, "click"), Ev(11, 8, 100300, 9, "purchase"))
    q.processAllAvailable()
    // one more empty-ish trigger lets the store purge lag settle
    input.addData(Ev(12, 9, 200000, 5, "click"))
    q.processAllAvailable()
    assert(rows(sink, "click_id", "purchase_id", "delay_sec")
      .contains(Seq(10L, 11L, 300L)), "cross-user second-trigger pair emitted")
    assert(stateRows < stateAfterT1 + 3,
      s"buffers grew without eviction: $stateAfterT1 -> $stateRows")
    // a late purchase for the long-evicted T1 click must NOT pair
    input.addData(Ev(4, 7, 1700, 9, "purchase"))
    q.processAllAvailable()
    assert(!rows(sink, "click_id", "purchase_id", "delay_sec")
      .contains(Seq(1L, 4L, 700L)), "evicted click must not re-pair")
    q.stop()
  }

  test("stream-stream range join emits exactly the batch join's pairs") {
    import org.apache.spark.sql.functions._
    val got = graft.streaming.EventStreams.streamStreamJoin(spark, dir).collect()
      .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id"),
        r.getAs[Long]("delay_sec")))
    // batch twin over the same projection
    val e = Tables(spark, dir, "events").select(col("event_id"), col("user_id"),
      col("event_type"), graft.relational.Queries.nsToSec(col("ts")).as("sec"))
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"), col("sec").as("cs"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("pu"), col("sec").as("ps"))
    val expected = c.join(p, col("cu") === col("pu") &&
        col("ps") >= col("cs") && col("ps") <= col("cs") + 3600)
      .select(col("click_id"), col("purchase_id"), (col("ps") - col("cs")).as("delay_sec"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq === expected.toSeq)
    // every emitted pair appears exactly once (append mode, no dupes)
    assert(got.distinct.length === got.length)
  }

  test("as-of: stream-static aggregation equals AsOfJoinExec on EVERY micro-batch") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the static right side: stream_asof's orders projection
    val ord = Tables(spark, dir, "orders").select(
        col("o_custkey").cast("long").as("key"),
        expr("(unix_micros(cast(o_orderdate as timestamp)) div 1000000)").as("osec"),
        col("o_orderkey"))
      .localCheckpoint(true)
    val ordRef: Map[Long, Seq[(Long, Long)]] = ord.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    // per-micro-batch results: batchId -> (aggPath, nativePath), each
    // event_id -> (asof_orderkey, asof_osec)
    val perBatch = scala.collection.concurrent.TrieMap[Long,
      (Map[Long, (Long, Long)], Map[Long, (Long, Long)])]()
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long)]
    val q = input.toDF().toDF("event_id", "key", "t").writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val batch = df.localCheckpoint(true)
        // (1) the stream_asof shape on this batch: equi-join + bound
        // filter + ONE max-of-packed aggregation, no-match rows
        // restored at read with the -1 sentinel
        val agg = batch
          .join(ord, Seq("key")).filter(col("osec") <= col("t"))
          .groupBy("event_id")
          .agg(max_by(col("o_orderkey"), struct(col("osec"), col("o_orderkey")))
              .as("a_ok"),
            max("osec").as("a_os"))
        val aggMap = batch.select("event_id")
          .join(agg, Seq("event_id"), "left")
          .collect().map(r => r.getLong(0) ->
            (if (r.isNullAt(1)) (-1L, -1L) else (r.getLong(1), r.getLong(2)))).toMap
        // (2) the native operator on the SAME batch frame
        val bp = batch.queryExecution.analyzed
        val op = ord.queryExecution.analyzed
        def a(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
          p.output.find(_.name == n).get
        val native = org.apache.spark.sql.GraftPlanBridge.ofRows(spark,
          graft.plans.AsOfJoin(bp, op, a(bp, "key"), a(bp, "t"),
            a(op, "key"), a(op, "osec"), a(op, "o_orderkey")))
          .select(col("event_id"),
            coalesce(col("o_orderkey"), lit(-1L)).as("ok"),
            coalesce(col("osec"), lit(-1L)).as("os"))
        val nativeMap = native.collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        perBatch.put(id, (aggMap, nativeMap)): Unit
      }
      .start()
    // three triggers over disjoint event slices
    val evs = Tables(spark, dir, "events")
      .select(col("event_id"), (col("user_id") % 100 + 1).cast("long"),
        (lit(788918400L) + (col("event_id") % 2400) * 86400L))
      .as[(Long, Long, Long)].collect().toSeq
    val slices = evs.grouped(math.max(1, evs.length / 3 + 1)).toSeq
    for (s <- slices) { input.addData(s); q.processAllAvailable() }
    q.stop()
    assert(perBatch.size >= 3, s"expected >=3 micro-batches, saw ${perBatch.size}")
    // the guarded invariant: on every micro-batch the stream-static
    // aggregation, the custom physical operator and the in-memory
    // reference agree row for row
    val seen = scala.collection.mutable.Set[Long]()
    for ((id, (aggMap, nativeMap)) <- perBatch.toSeq.sortBy(_._1)) {
      assert(aggMap === nativeMap, s"agg vs native diverged in micro-batch $id")
      val ref = aggMap.keys.map { eid =>
        val (key, t) = evs.find(_._1 == eid).map(e => (e._2, e._3)).get
        val cands = ordRef.getOrElse(key, Nil).filter(_._1 <= t)
        eid -> (if (cands.isEmpty) (-1L, -1L)
                else { val m = cands.max; (m._2, m._1) })
      }.toMap
      assert(aggMap === ref, s"micro-batch $id diverged from the reference")
      seen ++= aggMap.keys
    }
    assert(seen.size === evs.length, "every event enriched exactly once")
  }

  test("stream_anomaly equals the batch scorer row-for-row on the drain") {
    val batch = rows(graft.ops.TimeSeries.anomaly(spark, dir),
      "event_type", "bucket_h", "x_c", "n_b", "is_anomaly", "z2_x100")
    val stream = rows(EventStreams.anomalyStream(spark, dir),
      "event_type", "bucket_h", "x_c", "n_b", "is_anomaly", "z2_x100")
    assert(stream === batch,
      "watermark-closed streaming buckets diverged from the batch series")
    // non-degenerate: the corpus must exercise both flag values —
    // an all-zero (or all-one) drain would certify nothing
    val flags = stream.map(_(4).asInstanceOf[Long])
    assert(flags.contains(0L) && flags.contains(1L),
      s"degenerate anomaly distribution: $flags")
  }
}
