package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Scratch
import graft.Tables
import graft.relational.Queries

/** Structured Streaming twins of the batch event queries: the same
  * exact-integer semantics flowing through `readStream`-style sources,
  * watermarked windows and `flatMapGroupsWithState` sessionization.
  *
  * The driver contract runs on bounded data, so the pipelines here
  * feed a MemoryStream from the events table and drain it with a
  * memory sink — the streaming DAG (state store, window assignment,
  * group-state sessionizer) is identical to a Kafka-fed deployment;
  * only the endpoints differ. Both queries therefore hash-match the
  * same DuckDB oracles as their batch twins.
  */
object EventStreams {

  private val runSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  private def sinkName(prefix: String) = s"${prefix}_${runSeq.incrementAndGet()}"

  case class Ev(event_id: Long, user_id: Long, sec: Long, value_c: Long, event_type: String)
  /** Ev plus the event-time column the watermark is defined on. */
  case class EvT(event_id: Long, user_id: Long, sec: Long, value_c: Long,
                 event_type: String, ets: java.sql.Timestamp)
  /** A session is identified by (user_id, session_start): the start
    * second is collision-free across state evictions — a per-user
    * counter would restart at 1 after an event-time timeout removes
    * the state row, merging two distinct sessions in the sink — while
    * a post-timeout event is always > watermark ≥ last+gap > start,
    * so its new session necessarily gets a fresh start key.
    */
  case class SessionOut(user_id: Long, session_start: Long, n_events: Long,
                        dur_sec: Long, sum_value_c: Long)
  /** The ONLY per-user state the sessionizer keeps: the currently-open
    * session (constant size — closed sessions are emitted, never
    * retained).
    */
  case class OpenSess(start: Long, last: Long, n: Long, sum: Long)

  private def typedEvents(spark: SparkSession, dir: String): Dataset[Ev] = {
    import spark.implicits._
    Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        Queries.nsToSec(col("ts")).as("sec"),
        Queries.cents(col("value")).as("value_c"), col("event_type"))
      .as[Ev]
  }

  /** Gap-based session builder over one user's time-sorted events —
    * the single-pass core shared by tests and the stateful operator.
    */
  def sessionsOf(uid: Long, evs: Seq[Ev], gapSec: Long = 1800): Seq[SessionOut] = {
    if (evs.isEmpty) return Nil
    val sorted = evs.sortBy(e => (e.sec, e.event_id))
    val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
    var start = 0L; var last = 0L; var n = 0L; var sum = 0L
    for (e <- sorted) {
      if (n == 0 || e.sec - last > gapSec) {
        if (n > 0) out += SessionOut(uid, start, n, last - start, sum)
        start = e.sec; n = 0; sum = 0
      }
      n += 1; sum += e.value_c; last = e.sec
    }
    out += SessionOut(uid, start, n, last - start, sum)
    out.toSeq
  }

  /** Single-trigger state transition of the bounded-state sessionizer:
    * merge this trigger's events (sorted by event time) into the open
    * session, returning (sessions closed by a >gap jump, new open
    * session). State is O(1) per user regardless of stream length.
    *
    * Cross-trigger disorder (bounded by the watermark delay): an event
    * more than gapSec OLDER than the open session's start belongs to
    * an already-closed-and-emitted session and is dropped (re-opening
    * it would corrupt the sink); an event within [start-gap, start) is
    * merged but does not move the session-start key — n/sum count it,
    * dur_sec stays measured from the key (documented divergence,
    * unreachable under in-order arrival; the driver's bounded drain
    * delivers everything in one sorted trigger).
    */
  def advanceSession(uid: Long, open: Option[OpenSess], evs: Seq[Ev],
                     gapSec: Long = 1800): (Seq[SessionOut], Option[OpenSess]) = {
    var cur = open
    val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
    for (e <- evs.sortBy(x => (x.sec, x.event_id))) {
      cur = cur match {
        case Some(s) if e.sec - s.last > gapSec =>
          closed += SessionOut(uid, s.start, s.n, s.last - s.start, s.sum)
          Some(OpenSess(e.sec, e.sec, 1, e.value_c))
        case Some(s) if e.sec < s.start - gapSec =>
          Some(s) // late event of an already-emitted session: drop
        case Some(s) =>
          Some(s.copy(last = math.max(s.last, e.sec), n = s.n + 1, sum = s.sum + e.value_c))
        case None =>
          Some(OpenSess(e.sec, e.sec, 1, e.value_c))
      }
    }
    (closed.toSeq, cur)
  }

  /** stream_tumbling — watermarked 1-hour tumbling windows over the
    * event stream (Complete mode into the bounded sink; with an
    * unbounded source the same plan runs Append once the watermark
    * passes each window).
    */
  def tumbling(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    input.addData(typedEvents(spark, dir).collect().toSeq)
    val agg = input.toDS()
      .withColumn("ets", timestamp_seconds(col("sec")))
      .withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value_c")).as("sum_value_c"))
      .select(floor(unix_timestamp(col("window.start")) / lit(3600.0)).cast("long").as("bucket_h"),
        col("event_type"), col("cnt"), col("sum_value_c"))
    val sink = sinkName("stream_tumbling")
    val q = agg.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    spark.table(sink).orderBy("bucket_h", "event_type")
  }

  /** stream_late_drop — WATERMARK LATE-DATA ACCOUNTING, the Append-mode
    * contract every other watermarked row here only declares (they
    * drain bounded sinks in Complete mode, where nothing is ever
    * dropped): a 1-hour watermark over 1-hour tumbling windows, fed
    * out of ARRIVAL order — every third event (id % 3 = 0) is held
    * back a full trigger, so the stragglers span the whole timeline.
    * The first wave fixes the watermark at max(on-time event time) −
    * 1 h; the straggler wave then splits exactly as production late
    * data does: rows whose window the watermark already expired are
    * DROPPED (counted, not silently lost — the emitted
    * `n_late_dropped` column is read back from the query's
    * numRowsDroppedByWatermark metric; the metric sits at the
    * post-shuffle state operator, so it counts PARTIAL-AGGREGATE
    * rows: one per expired (window, type) group, not one per input
    * row — measured and pinned by the oracle as the distinct-group
    * count), rows inside the lateness allowance MERGE into their
    * still-open windows. Two synthetic far-future flush events then
    * advance the watermark past every real window (watermark updates
    * at batch END; Spark's no-data trigger then emits — the flushes
    * also make the drain independent of that trigger's timing).
    *
    * Scale shape: state is one row per open (window, type) group —
    * bounded by the lateness allowance, never by history (the whole
    * point of the watermark: Complete-mode state grows forever, Append
    * state is a sliding frontier); the drop metric is free (it is the
    * state operator's own counter). The oracle restates the
    * drop/merge split closed-form from the arrival schedule.
    */
  def lateDrop(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = typedEvents(spark, dir).collect().toSeq
    val onTime = evs.filter(_.event_id % 3 != 0)
    val late = evs.filter(_.event_id % 3 == 0)
    val maxSec = evs.map(_.sec).max
    val input = MemoryStream[Ev]
    val agg = input.toDS()
      .withColumn("ets", timestamp_seconds(col("sec")))
      .withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value_c")).as("sum_value_c"))
      .select(floor(unix_timestamp(col("window.start")) / lit(3600.0))
        .cast("long").as("bucket_h"),
        col("event_type"), col("cnt"), col("sum_value_c"))
    val sink = sinkName("stream_late_drop")
    val q = agg.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Append()).start()
    input.addData(onTime); q.processAllAvailable()
    input.addData(late); q.processAllAvailable()
    input.addData(Seq(Ev(-1L, -1L, maxSec + 10800, 0L, "flush")))
    q.processAllAvailable()
    input.addData(Seq(Ev(-2L, -1L, maxSec + 14400, 0L, "flush")))
    q.processAllAvailable()
    val dropped = q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
      .map(_.numRowsDroppedByWatermark).sum
    q.stop()
    spark.table(sink)
      .filter(col("event_type") =!= "flush")
      .withColumn("n_late_dropped", lit(dropped))
      .orderBy("bucket_h", "event_type")
  }

  /** stream_anomaly — rolling-baseline anomaly detection LIVE: the
    * hourly (event_type, bucket) revenue series is assembled by a
    * watermarked 1-hour tumbling aggregate in APPEND mode (state is
    * the sliding frontier of open windows — bounded by the lateness
    * allowance, never by history), each closed bucket landing in the
    * sink as the watermark passes it; two far-future flush events
    * close the tail. The causal z² scoring then runs over the drained
    * closed-bucket frame via the EXACT batch seam
    * ([[graft.ops.TimeSeries.scoreAnomaly]]) — the scoring input is
    * metadata scale (the horizon in hours), so the post-drain pass is
    * free at any corpus size; in production it is the alerting job
    * that tails the closed-bucket table each trigger. Shares
    * ts_anomaly's oracle VERBATIM — watermark-closed streaming
    * buckets and the batch groupBy certified as two routes to one
    * series, then one shared scorer.
    */
  def anomalyStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = typedEvents(spark, dir).collect().toSeq
    val maxSec = evs.map(_.sec).max
    val input = MemoryStream[Ev]
    val agg = input.toDS()
      .withColumn("ets", timestamp_seconds(col("sec")))
      .withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "1 hour"), col("event_type"))
      .agg(sum(col("value_c")).as("x_c"))
      .select(floor(unix_timestamp(col("window.start")) / lit(3600.0))
        .cast("long").as("bucket_h"), col("event_type"), col("x_c"))
    val sink = sinkName("stream_anomaly")
    val q = agg.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Append()).start()
    input.addData(evs); q.processAllAvailable()
    input.addData(Seq(Ev(-1L, -1L, maxSec + 10800, 0L, "flush")))
    q.processAllAvailable()
    input.addData(Seq(Ev(-2L, -1L, maxSec + 14400, 0L, "flush")))
    q.processAllAvailable()
    q.stop()
    graft.ops.TimeSeries.scoreAnomaly(
      spark.table(sink).filter(col("event_type") =!= "flush")
        .select(col("event_type"), col("bucket_h"), col("x_c")))
  }

  /** The stream_late_drop oracle: the drop/merge split in closed form.
    * The watermark after the on-time wave is max(on-time sec) − 3600;
    * a straggler is dropped iff its window already CLOSED under that
    * watermark (window end ≤ watermark), merged otherwise. The drop
    * METRIC counts one row per expired (window, type) group (the
    * state operator sees post-shuffle partial aggregates), hence the
    * DISTINCT in drp.
    */
  val lateDropOracleSql: String =
    """WITH e AS (
      |  SELECT event_id, event_type,
      |    CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS value_c
      |  FROM events),
      |wm AS (SELECT MAX(sec) - 3600 AS wm FROM e WHERE event_id % 3 <> 0),
      |keep AS (
      |  SELECT event_type, sec, value_c FROM e WHERE event_id % 3 <> 0
      |  UNION ALL
      |  SELECT event_type, sec, value_c FROM e, wm
      |  WHERE event_id % 3 = 0 AND (sec // 3600) * 3600 + 3600 > wm.wm),
      |drp AS (SELECT COUNT(*) AS n FROM (
      |  SELECT DISTINCT sec // 3600 AS h, event_type FROM e, wm
      |  WHERE event_id % 3 = 0 AND (sec // 3600) * 3600 + 3600 <= wm.wm))
      |SELECT sec // 3600 AS bucket_h, event_type, COUNT(*) AS cnt,
      |  CAST(SUM(value_c) AS BIGINT) AS sum_value_c,
      |  drp.n AS n_late_dropped
      |FROM keep, drp GROUP BY 1, 2, drp.n
      |ORDER BY 1, 2""".stripMargin

  /** stream_ohlc — the hourly OHLC resample LIVE: open/close picked by
    * `min_by`/`max_by` on the unique (sec, event_id) struct key inside
    * ONE streaming aggregation — no window pass, no per-group sort;
    * state per (hour, type) group is two champion rows plus the plain
    * min/max/count/sum — certified against q_ohlc's oracle verbatim
    * (the batch twin derives open/close via two row_number passes:
    * two independent formulations, one SQL).
    */
  private[graft] def ohlcAgg(ds: DataFrame): DataFrame =
    ds.withColumn("ets", timestamp_seconds(col("sec")))
      .withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "1 hour"), col("event_type"))
      .agg(
        min_by(col("value_c"), struct(col("sec"), col("event_id"))).as("open_c"),
        max(col("value_c")).as("high_c"),
        min(col("value_c")).as("low_c"),
        max_by(col("value_c"), struct(col("sec"), col("event_id"))).as("close_c"),
        count(lit(1)).as("n"),
        sum(col("value_c")).as("vol_c"))
      .select(floor(unix_timestamp(col("window.start")) / lit(3600.0)).cast("long").as("bucket_h"),
        col("event_type"), col("open_c"), col("high_c"), col("low_c"),
        col("close_c"), col("n"), col("vol_c"))

  def ohlc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    input.addData(typedEvents(spark, dir).collect().toSeq)
    val agg = ohlcAgg(input.toDF())
    val sink = sinkName("stream_ohlc")
    val q = agg.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    spark.table(sink).orderBy("bucket_h", "event_type")
  }

  /** stream_tumbling_file — the SAME tumbling aggregation driven from
    * a FILE SOURCE instead of MemoryStream: the events table is first
    * written as multiple parquet files (an executor-side write — the
    * data never routes through the driver), then `readStream` over
    * that directory with `maxFilesPerTrigger=2` drains it in several
    * REAL micro-batches. This is the production entry point shape (a
    * directory-watch deployment): it proves the streaming operators
    * do not depend on MemoryStream's driver-side feeding. Shares the
    * stream_tumbling oracle verbatim; the tmpfs staging copy is
    * reclaimed once the small result frame is materialized.
    */
  def tumblingFile(spark: SparkSession, dir: String): DataFrame = {
    val ev = typedEvents(spark, dir).toDF()
    Scratch.withDir("stream_files") { tmp =>
      ev.repartition(8).write.mode("overwrite").parquet(tmp)
      val agg = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(tmp)
        .withColumn("ets", timestamp_seconds(col("sec")))
        .withWatermark("ets", "1 hour")
        .groupBy(window(col("ets"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(col("value_c")).as("sum_value_c"))
        .select(floor(unix_timestamp(col("window.start")) / lit(3600.0)).cast("long").as("bucket_h"),
          col("event_type"), col("cnt"), col("sum_value_c"))
      val sink = sinkName("stream_tumbling_file")
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Complete()).start()
      q.processAllAvailable()
      val nBatches = q.recentProgress.count(_.numInputRows > 0)
      q.stop()
      require(nBatches >= 2,
        s"file source drained in $nBatches batches; expected a real multi-batch run")
      val res = spark.table(sink).orderBy("bucket_h", "event_type")
      spark.createDataFrame(
        spark.sparkContext.parallelize(res.collect().toIndexedSeq, 1), res.schema)
    }
  }

  /** stream_sliding — watermarked SLIDING 2-hour windows advancing by
    * 1 hour: every event lands in exactly two overlapping windows
    * (Spark expands the window() to the covering set scan-side; the
    * state store then holds one row per open (window, type) — at any
    * corpus rate the state is O(windows-in-watermark × types), not
    * O(events)). Complete mode into the bounded sink; Append once the
    * watermark passes each window on an unbounded source.
    */
  def sliding(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    input.addData(typedEvents(spark, dir).collect().toSeq)
    val agg = input.toDS()
      .withColumn("ets", timestamp_seconds(col("sec")))
      .withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value_c")).as("sum_value_c"))
      .select(floor(unix_timestamp(col("window.start")) / lit(3600.0)).cast("long").as("win_start_h"),
        col("event_type"), col("cnt"), col("sum_value_c"))
    val sink = sinkName("stream_sliding")
    val q = agg.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    spark.table(sink).orderBy("win_start_h", "event_type")
  }

  /** Corpus buckets of the [[annTopk]] serve index. */
  val AnnBuckets = 32L

  /** A probe vector on the serve stream. */
  case class ProbeV(probe_id: Long, pvec: Array[Float], pn2: Double)

  /** stream_ann_topk — ONLINE retrieval serving: a probe-vector
    * stream scored against the STATIC indexed corpus — the
    * vector-search serve path of a RAG stack. The "index" is the
    * bucketed corpus with precomputed norms, materialized once before
    * the stream starts; each probe micro-batch fans out over the
    * [[AnnBuckets]] corpus buckets through a STATELESS stream-static
    * equi-join (zero join state; the static side re-plans per
    * micro-batch, so an index refresh is picked up live), scores
    * exact integer cosine, and keeps the per-probe top-5 in the
    * bounded [[graft.functions.TopKMin]] aggregate: each candidate
    * packs (score, vec_id) into ONE long — (1.1e6 − cos_u)·2⁴⁰ +
    * vec_id, ascending order IS the (cos desc, vec_id asc) ranking —
    * so the state store holds ≤ 5 longs per probe no matter how many
    * candidates stream past. Probes arrive in three micro-batches
    * (the driver-side collect feeds the MemoryStream endpoint only —
    * a deployment reads the probe topic); the drained sink
    * hash-matches sim_brute_topk's oracle: exact serve ≡ the batch
    * scan. The scale seam is the bucket key: this exact-serve
    * baseline probes ALL buckets (the sim_brute contract); swapping
    * `sequence(0, B-1)` for the probe's IVF/LSH probed-cell set
    * turns the same DAG — same join, same bounded top-K state —
    * into sub-linear ANN serving.
    */
  def annTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables(spark, dir, "embeddings")
    val corpus = emb
      .select(col("vec_id"), col("embedding"),
        graft.ops.Similarity.dot(col("embedding"), col("embedding")).as("vn2"),
        (col("vec_id") % AnnBuckets).as("bucket"))
      .localCheckpoint()
    val probeRows = emb.filter(col("vec_id") % 101 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"),
        graft.ops.Similarity.dot(col("embedding"), col("embedding")).as("pn2"))
      .as[ProbeV].collect().toSeq
    val input = MemoryStream[ProbeV]
    val scored = annServeDag(input.toDS(), corpus)
    val sink = sinkName("stream_ann_topk")
    val q = scored.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Complete()).start()
    // three serve waves; Complete mode re-emits the full ranking each
    // trigger, so the final drain covers every probe served so far
    probeRows.grouped(math.max(1, probeRows.size / 3 + 1)).foreach { chunk =>
      input.addData(chunk); q.processAllAvailable()
    }
    q.stop()
    annUnpack(spark.table(sink)).orderBy("probe_id", "rank")
  }

  private val AnnShift = 1L << 40

  /** The serve DAG, factored so specs can drive it trigger-by-trigger
    * and watch the bounded per-probe top-K state.
    */
  def annServeDag(probes: Dataset[ProbeV], corpus: DataFrame): DataFrame =
    probes.toDF()
      .withColumn("bucket", explode(expr(s"sequence(0L, ${AnnBuckets - 1}L)")))
      .join(corpus, Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"),
        ((lit(1100000L) - graft.ops.Similarity.cosUPre(col("pvec"), col("embedding"),
          col("pn2"), col("vn2"))) * lit(AnnShift) + col("vec_id")).as("packed"))
      .groupBy("probe_id")
      .agg(call_function("graft_topk_min", col("packed"), lit(5)).as("top"))

  /** Unpack the (probe_id, top) sink rows to (probe_id, rank, vec_id,
    * cos_u) — the sim_brute_topk output contract.
    */
  def annUnpack(sunk: DataFrame): DataFrame =
    sunk
      .select(col("probe_id"), posexplode(col("top")).as(Seq("r0", "packed")))
      .select(col("probe_id"), (col("r0") + 1).cast("long").as("rank"),
        (col("packed") % lit(AnnShift)).as("vec_id"),
        (lit(1100000L) - expr("shiftright(packed, 40)")).as("cos_u"))

  /** A pyramid voxel on the ingest stream. */
  case class Vox(level: Long, c: Long, z: Long, y: Long, x: Long, v: Long)

  /** stream_volume_ingest — STREAMING LAKEHOUSE INGEST: pyramid
    * voxels arrive as micro-batches and land in the
    * [[graft.sources.SnapshotStore]]-managed table through
    * `foreachBatch`, ONE exactly-once manifest commit per batch
    * ([[graft.sources.VolumeQueries.ingestBatch]]): a replayed batch
    * that already committed is a no-op, and a batch whose previous
    * attempt died between file append and manifest commit leaves only
    * manifest-invisible orphans (reclaimed by expire) — the commit
    * protocol a streaming writer needs against an object store. The
    * voxel rows ride a MemoryStream endpoint (a deployment reads the
    * ingest topic); the drained table's LATEST version reads back the
    * complete pyramid, sharing oct_pyramid's oracle — a green hash
    * certifies the batch-wise manifest log reassembles the exact
    * table. The spec drives the crash/replay windows explicitly.
    */
  def volumeIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    Scratch.withDir("vsing") { store =>
      new java.io.File(store).mkdirs()
      val rows = graft.octree.Pyramid(graft.VoxelGrid(spark, dir))
        .as[Vox].collect().toSeq
      val input = MemoryStream[Vox]
      val q = input.toDS().toDF().writeStream
        .foreachBatch(graft.sources.VolumeQueries.ingestBatch(store) _)
        .start()
      try rows.grouped(math.max(1, rows.size / 3 + 1)).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      } finally q.stop()
      graft.sources.SnapshotStore
        .read(spark, store, graft.sources.SnapshotStore.latest(store))
        .select(col("level").cast("long").as("level"),
          col("c").cast("long").as("c"), col("z"), col("y"), col("x"), col("v"))
        .orderBy("level", "c", "z", "y", "x").localCheckpoint(true)
    }
  }

  /** stream_join — stream-static enrichment: the event stream joined
    * to the STATIC customer dimension (the standard reference-data
    * decorate; the static side is re-planned per micro-batch, so a
    * dimension refresh is picked up without restarting the query).
    * The join itself is stateless — no state store rows at all; the
    * downstream aggregate holds the only state (O(segments × types)).
    * Events map to customers by the same deterministic key projection
    * as the q_asof batch twin.
    */
  def joinStatic(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cust = Tables(spark, dir, "customer")
      .select(col("c_custkey").cast("long").as("c_key"), col("c_mktsegment"))
    val input = MemoryStream[Ev]
    input.addData(typedEvents(spark, dir).collect().toSeq)
    val agg = input.toDS()
      .withColumn("c_key", col("user_id") % 100 + 1)
      .join(cust, Seq("c_key"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value_c")).as("sum_value_c"))
    val sink = sinkName("stream_join")
    val q = agg.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    spark.table(sink).orderBy("c_mktsegment", "event_type")
  }

  /** stream_sj — STREAM-STREAM event-time range join: clicks matched
    * to same-user purchases landing within the following hour. Both
    * sides carry a 30-minute watermark and the join condition bounds
    * purchase time to [click, click+1h], so Spark derives a state
    * eviction horizon for BOTH buffers — each side's state holds only
    * rows younger than watermark + range, O(rate × window), never the
    * stream history. Append mode: a pair is emitted exactly once,
    * when both sides have arrived. The two streams here are two
    * filters of one MemoryStream (a streaming self-join — same DAG as
    * two independent sources).
    */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    input.addData(typedEvents(spark, dir).collect().toSeq)
    val sink = sinkName("stream_sj")
    val q = streamStreamJoinDag(input.toDS()).writeStream.format("memory")
      .queryName(sink).outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    spark.table(sink).orderBy("click_id", "purchase_id")
  }

  /** The stream-stream join DAG, factored so specs can drive it
    * trigger-by-trigger and watch both buffers' state eviction.
    */
  def streamStreamJoinDag(evs: Dataset[Ev]): DataFrame = {
    val ds = evs.withColumn("ets", timestamp_seconds(col("sec")))
    val clicks = ds.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_uid"),
        col("ets").as("cts"), col("sec").as("csec"))
      .withWatermark("cts", "30 minutes")
    val purchases = ds.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_uid"),
        col("ets").as("pts"), col("sec").as("psec"))
      .withWatermark("pts", "30 minutes")
    clicks.join(purchases,
        col("c_uid") === col("p_uid") &&
          col("pts") >= col("cts") &&
          col("pts") <= col("cts") + expr("interval 1 hour"))
      .select(col("click_id"), col("purchase_id"),
        col("c_uid").as("user_id"), (col("psec") - col("csec")).as("delay_sec"))
  }

  /** stream_cms — the Count-Min frequency sketch as a STREAMING
    * aggregation: the d×w counter grid of
    * [[graft.ops.Sampling.cmsTopk]] maintained across triggers by a
    * plain (depth, idx) count — state is the fixed d·w cells at any
    * stream length (the frequency twin of [[kmvStream]]'s O(groups·K)
    * distinct sketch). Emits the grid; querying a key is d lookups.
    */
  def cmsStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Sampling.{CmsDepth, CmsWidth}
    val users = Tables(spark, dir, "events")
      .select(col("user_id")).as[Long].collect().toSeq
    val input = MemoryStream[Long]
    input.addData(users)
    val cellCols = (0 until CmsDepth).map { j =>
      struct(lit(j).as("d"),
        expr(s"graft_md5_prefix(concat(cast(value as string), '#', '$j')) % $CmsWidth")
          .as("idx"))
    }
    val agg = input.toDS().toDF("value")
      .select(explode(array(cellCols: _*)).as("c"))
      .select(col("c.d").cast("long").as("d"), col("c.idx").as("idx"))
      .groupBy("d", "idx").agg(count(lit(1)).as("cnt"))
    val sink = sinkName("stream_cms")
    val q = agg.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    spark.table(sink).orderBy("d", "idx")
  }

  /** stream_hll — the HyperLogLog register grid as a STREAMING
    * aggregation: per-(event_type, bucket) max-ρ maintained across
    * triggers. `max` IS the sketch merge, so each state-store cell is
    * the merged register and state is the fixed type × [[
    * graft.ops.Sampling.HllM]] grid at any stream length — the
    * cardinality twin of [[cmsStream]]'s frequency grid (HLL is
    * insert-only commutative, so hashing every event equals hashing
    * distinct users). Emits the registers; the estimate is
    * [[graft.ops.Sampling.hllDistinct]]'s bounded fold over them.
    */
  def hllStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Sampling.HllM
    val evs = Tables(spark, dir, "events")
      .select(col("event_type"), col("user_id")).as[(String, Long)].collect().toSeq
    val input = MemoryStream[(String, Long)]
    input.addData(evs)
    val agg = input.toDS().toDF("event_type", "user_id")
      .withColumn("h", expr("graft_md5_prefix(cast(user_id as string))"))
      .select(col("event_type"), (col("h") % HllM).as("bucket"),
        expr(s"h div $HllM").as("v"))
      .withColumn("rho",
        expr("case when v = 0 then 27L else cast(log2(v & -v) as bigint) + 1L end"))
      .groupBy("event_type", "bucket").agg(max(col("rho")).as("m_rho"))
    val sink = sinkName("stream_hll")
    val q = agg.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    spark.table(sink).orderBy("event_type", "bucket")
  }

  /** stream_volume_stats — LIVE per-leaf-block statistics during
    * volume ingest: the streaming twin of oct_stats, maintained
    * across voxel-batch triggers by a plain blocked groupBy — every
    * aggregate (count, min, max, sum) merges associatively, so the
    * state store holds one bounded row per occupied block at any
    * ingest length and each trigger's partial batch merges for free.
    * The ingest-monitoring face of the octree pipeline: empty-block
    * pruning, intensity windowing, and resume decisions read exactly
    * these stats while the volume is still arriving.
    */
  def volumeStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val voxels = graft.VoxelGrid(spark, dir)
      .select(col("c"), col("z"), col("y"), col("x"), col("v"))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val input = MemoryStream[(Long, Long, Long, Long, Long)]
    input.addData(voxels)
    val leaf = graft.VoxelGrid.Leaf
    val dense = leaf.toLong * leaf * leaf
    val agg = graft.octree.Addressing.blockify(
        input.toDS().toDF("c", "z", "y", "x", "v"))
      .groupBy("c", "bz", "by", "bx")
      .agg(count(lit(1)).as("n_voxels"), min("v").as("min_v"),
        max("v").as("max_v"), sum("v").as("sum_v"))
      .withColumn("zero_frac", (lit(dense) - col("n_voxels")) / lit(dense.toDouble))
    val sink = sinkName("stream_volume_stats")
    val q = agg.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    spark.table(sink).orderBy("c", "bz", "by", "bx")
  }

  /** Per-user funnel state for [[funnelStream]]: first view, first
    * qualifying click, first qualifying purchase (−1 = not reached).
    * Constant size — the whole point vs buffering event history.
    */
  case class FunnelSt(t1: Long, t2: Long, t3: Long)

  /** The live funnel state machine: fold this trigger's events
    * (time-sorted) into the stage timestamps. Stages only ever SET
    * once (first qualifying event) under in-order arrival; an
    * out-of-order EARLIER view after a click was admitted could in
    * batch semantics shift the click window — like
    * [[advanceSession]]'s documented in-window divergence, exact
    * repair would need event history; the bounded drain delivers
    * time-sorted triggers, where the fold is exact.
    */
  def advanceFunnel(st: FunnelSt, evs: Seq[Ev], windowSec: Long = 7L * 86400L): FunnelSt = {
    var s = st
    // Within a second, fold views before clicks before purchases: the
    // batch oracle is set-based (a click with sec == t1 qualifies), so
    // a same-second click must see the view that opens its stage even
    // when its event_id sorts first.
    def stageRank(t: String): Int = t match {
      case "view" => 0; case "click" => 1; case "purchase" => 2; case _ => 3
    }
    for (e <- evs.sortBy(x => (x.sec, stageRank(x.event_type), x.event_id))) {
      e.event_type match {
        case "view" if s.t1 < 0 => s = s.copy(t1 = e.sec)
        case "click" if s.t2 < 0 && s.t1 >= 0 &&
          e.sec >= s.t1 && e.sec <= s.t1 + windowSec => s = s.copy(t2 = e.sec)
        case "purchase" if s.t3 < 0 && s.t2 >= 0 &&
          e.sec >= s.t2 && e.sec <= s.t2 + windowSec => s = s.copy(t3 = e.sec)
        case _ =>
      }
    }
    s
  }

  /** Per-user retention state: the first-seen (cohort) day plus a
    * 64-bit mask of seen day-offsets — O(1) per user regardless of
    * stream length (the batch operator's per-(user, day) distinct set
    * would grow with the horizon). Offsets at or beyond
    * [[RetMaxOffset]] days are dropped — the standard fixed analysis
    * window of a retention dashboard (this corpus spans ~31 days, so
    * the cap is semantically invisible at every benchmark scale).
    */
  case class RetSt(cohort: Long, mask: Long)
  val RetMaxOffset = 64

  /** Single-trigger retention state transition. An earlier-than-cohort
    * day (bounded cross-trigger disorder) re-bases the cohort and
    * shifts existing offsets up; bits shifted past the cap fall out of
    * the window (unreachable under the driver's one-trigger drain).
    */
  def advanceRetention(st: Option[RetSt], days: Seq[Long]): RetSt = {
    var cohort = st.map(_.cohort).getOrElse(Long.MaxValue)
    var mask = st.map(_.mask).getOrElse(0L)
    for (d <- days) {
      if (d < cohort) {
        val shift = cohort - d
        mask = if (cohort == Long.MaxValue || shift >= RetMaxOffset) 0L
               else mask << shift
        cohort = d
      }
      val off = d - cohort
      if (off < RetMaxOffset) mask |= 1L << off
    }
    RetSt(cohort, mask)
  }

  /** stream_retention — LIVE cohort retention: per-user group state
    * ([[RetSt]] — cohort day + offset bitmask, constant size) advanced
    * by `mapGroupsWithState`, each trigger emitting the user's current
    * (cohort, mask) snapshot; the sink read takes each user's final
    * snapshot (minimum cohort, then maximum mask — the state is
    * monotone in that order), explodes the mask bits back into
    * (cohort_day, offset_d) pairs and counts users — the same
    * day-grain cohort table as the batch q_retention, sharing its
    * oracle verbatim. The classic daily-active dashboard fed from a
    * stream: heavy event flow in, O(users) state, tiny live table out.
    */
  /** One CDC row for [[cdcApply]]'s MemoryStream feed. */
  case class Cdc(k: Long, ck: Long, total_c: Long, p: Long, op: String)

  /** stream_cdc_apply — the copy-on-write MERGE driven as a STREAM of
    * change batches: the deterministic changeset arrives over three
    * micro-batches, each applied by `foreachBatch` through the same
    * [[graft.sources.TableMerge]] partition-rewrite path the one-shot
    * merge uses, with EXACTLY-ONCE manifest commits (a replayed batch
    * id is skipped; a crash between data write and manifest commit
    * leaves only unreferenced orphan files). The drained store's
    * latest version must equal the one-shot merge's table — both rows
    * share [[graft.sources.TableMerge.mergeOracle]] verbatim. This is
    * the production CDC-ingest shape at 100 TB: per-batch work is
    * O(touched partitions), never a table rewrite, and readers plan
    * from manifests so a mid-stream reader never sees a torn table.
    */
  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.TableMerge
    val store = TableMerge.stageStore(spark, dir, "cdcstream")
    try {
      val rows = TableMerge.changesetRows(spark, dir)
        .map { case (k, ck, t, p, op) => Cdc(k, ck, t, p, op) }
      // three batches keyed on the change key: the changeset's D/U/I
      // keys are pairwise disjoint, so batch order cannot matter —
      // what must hold is that EVERY batch lands exactly once
      val waves = (0 until 3).map(w => rows.filter(_.k % 3 == w))
      val input = MemoryStream[Cdc]
      // checkpoint lives OUTSIDE the store root: manifest commits must
      // never be able to absorb engine state files as data, regardless
      // of their names
      val q = input.toDF()
        .writeStream
        .foreachBatch(TableMerge.cdcBatch(store) _)
        .option("checkpointLocation", s"${store}_ckpt")
        .start()
      waves.foreach { w => input.addData(w); q.processAllAvailable() }
      q.stop()
      TableMerge.mergeReport(spark, store)
    } finally {
      TableMerge.dropStore(store)
      TableMerge.dropStore(s"${store}_ckpt")
    }
  }

  /** One micro-batch of [[streamIvm]]: apply the batch's signed delta
    * to the persisted MV with EXACTLY-ONCE versioned commits — the MV
    * is itself a [[graft.sources.SnapshotStore]], so a replayed batch
    * id is skipped before any work and each applied batch commits the
    * next MV version with replacement semantics (a crash between the
    * delta write and the commit leaves only unreferenced files).
    */
  private[graft] def ivmBatch(store: String, mvStore: String)(
      batch: DataFrame, batchId: Long): Unit = {
    import graft.sources.SnapshotStore
    if (!SnapshotStore.hasBatch(mvStore, batchId)) {
      val spark = batch.sparkSession
      val v1 = SnapshotStore.read(spark, store, 1)
        .select(col("k"), col("total_c"), col("p").cast("long").as("p"))
      val mv = SnapshotStore.read(spark, mvStore, SnapshotStore.latest(mvStore))
        .select("p", "n_rows", "sum_total_c", "sum_key")
      val next = graft.ops.Pipeline.ivmApply(mv,
        graft.ops.Pipeline.ivmDelta(spark, v1,
          batch.select("k", "total_c", "p", "op"))).localCheckpoint()
      val before = SnapshotStore.listDataFiles(mvStore).toSet
      next.coalesce(1).write.mode("append").parquet(s"$mvStore/mv-b$batchId")
      val newFiles = SnapshotStore.listDataFiles(mvStore).filterNot(before)
      SnapshotStore.commitBatchReplacing(mvStore, batchId, newFiles): Unit
    }
  }

  /** stream_ivm — [[graft.ops.Pipeline.ivm]] LIVE: the CDC feed
    * arrives as micro-batches, each applying its signed delta to the
    * persisted MV ([[ivmBatch]]) — the materialized-view maintenance
    * loop a 100 TB table runs continuously, with per-batch work
    * O(batch) + a partition-pruned pre-image probe, never a table
    * rescan. The drained MV must equal the one-shot merge's
    * aggregate: [[graft.sources.TableMerge.mergeOracle]] is now
    * certified by FOUR independent formulations (one-shot merge,
    * exactly-once CDC stream, batch delta maintenance, live delta
    * maintenance).
    */
  def streamIvm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.{SnapshotStore, TableMerge}
    val store = TableMerge.stageStore(spark, dir, "sivm")
    val mvStore = s"${store}_mv"
    try {
      val v1 = SnapshotStore.read(spark, store, 1)
        .select(col("k"), col("total_c"), col("p").cast("long").as("p"))
      v1.groupBy("p")
        .agg(count(lit(1)).as("n_rows"), sum("total_c").as("sum_total_c"),
          sum("k").as("sum_key"))
        .coalesce(1).write.mode("overwrite").parquet(s"$mvStore/mv-init")
      SnapshotStore.commit(mvStore, SnapshotStore.listDataFiles(mvStore)): Unit
      val rows = TableMerge.changesetRows(spark, dir)
        .map { case (k, ck, t, p, op) => Cdc(k, ck, t, p, op) }
      val waves = (0 until 3).map(w => rows.filter(_.k % 3 == w))
      val input = MemoryStream[Cdc]
      val q = input.toDF().writeStream
        .foreachBatch(ivmBatch(store, mvStore) _)
        .option("checkpointLocation", s"${store}_ckpt")
        .start()
      waves.foreach { w => input.addData(w); q.processAllAvailable() }
      q.stop()
      val mv = SnapshotStore.read(spark, mvStore, SnapshotStore.latest(mvStore))
        .select("p", "n_rows", "sum_total_c", "sum_key").orderBy("p")
      val out = mv.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(out, 1), mv.schema)
    } finally {
      TableMerge.dropStore(store)
      TableMerge.dropStore(mvStore)
      TableMerge.dropStore(s"${store}_ckpt")
    }
  }

  /** A key-band range-query descriptor: bounds as integer percent
    * fractions of the stored table's key maximum.
    */
  case class RQ(qid: Long, loPct: Long, hiPct: Long)

  /** stream_stats_prune — [[graft.sources.StatsPrune]]'s streaming
    * twin: a stream of range-QUERY descriptors served per micro-batch
    * by stats-PLANNED pruned reads of the big static store. Each
    * batch's queries plan their file lists from the manifest stats
    * table and open only the overlapping files — the production
    * "interactive range queries against a 100 TB table" loop, where
    * per-query cost is O(selectivity), never a table scan. There is
    * deliberately no watermark: queries are SERVED, not aggregated
    * over event time, so the only state is the bounded in-flight
    * batch. The oracle recomputes every query's plan arithmetic AND
    * exact matched aggregate from `orders` — an under-pruned plan
    * mismatches files_read, an over-pruned one loses matches.
    */
  def streamStatsPrune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.StatsPrune
    val st = StatsPrune.stage(spark, dir)
    try {
      val mk = StatsPrune.keyMax(st)
      val results = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long, Long, Long, Long)]
      val input = MemoryStream[RQ]
      val q = input.toDS().writeStream
        .foreachBatch { (batch: Dataset[RQ], _: Long) =>
          // a micro-batch carries a BOUNDED set of query descriptors;
          // each plans from the stats — never a full scan
          batch.collect().sortBy(_.qid).foreach { rq =>
            val loB = rq.loPct * mk / 100L
            val hiB = rq.hiPct * mk / 100L
            val (fr, rr, nm, stc, sk) = StatsPrune.servePlanned(st, loB, hiB)
            results.synchronized {
              results += ((rq.qid, st.stats.length.toLong, fr, rr, nm, stc, sk)): Unit
            }
          }
        }
        .start()
      (0 until 3).foreach { w =>
        input.addData(RQ(w.toLong, 10L + 20L * w, 15L + 20L * w))
        q.processAllAvailable()
      }
      q.stop()
      results.toSeq.sortBy(_._1).toDF("qid", "files_total", "files_read",
        "rows_read", "n_match", "sum_total_c", "sum_key")
    } finally st.drop()
  }

  /** stream_log_tail — the delta log as a STREAMING SOURCE (the
    * Delta-Lake structured-streaming idea): a consumer tails
    * [[graft.sources.LogStore]] commit notifications and each
    * micro-batch reads ONLY the files the new commits ADDED —
    * incremental consumption whose per-batch cost is O(new data),
    * never a re-read of the table. Change commits (non-empty removes:
    * the compaction and the partition drop) are SKIPPED — Delta's
    * `skipChangeCommits` semantics — because their adds carry only
    * rewritten rows an append-tail already consumed; the cumulative
    * aggregate must stay flat across them, which the oracle pins. A
    * replayed notification (v3 re-delivered in the second trigger) is
    * an exactly-once no-op via the consumer's version cursor. At
    * 100 TB this is the ingestion fan-out loop: downstream consumers
    * ride the commit log, touching each data file exactly once.
    */
  def streamLogTail(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.LogStore
    val root = LogStore.stageHistory(spark, dir)
    try {
      val results = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long, Long)]
      var consumed = 0L // exactly-once cursor: highest version applied
      var cumRows = 0L; var cumKey = 0L; var cumPc = 0L
      val input = MemoryStream[Long]
      val q = input.toDS().writeStream
        .foreachBatch { (batch: Dataset[Long], _: Long) =>
          batch.collect().sorted.foreach { v =>
            if (v > consumed) {
              if (LogStore.removesOf(root, v.toInt).nonEmpty) {
                // change commit: skip — no new rows, cumulative flat
                results.synchronized {
                  results += ((v, 0L, cumRows, cumKey, cumPc)): Unit
                }
              } else {
                val adds = LogStore.addsOf(root, v.toInt)
                val a = spark.read
                  .parquet(adds.map(f => s"$root/$f"): _*)
                  .agg(count(lit(1)), sum("k"), sum("pc")).collect()(0)
                cumRows += a.getLong(0); cumKey += a.getLong(1)
                cumPc += a.getLong(2)
                results.synchronized {
                  results += ((v, adds.length.toLong, cumRows, cumKey,
                    cumPc)): Unit
                }
              }
              consumed = v
            }
          }
        }
        .start()
      input.addData(1L, 2L, 3L); q.processAllAvailable()
      // v3 re-delivered: the cursor makes the replay a no-op
      input.addData(3L, 4L, 5L, 6L, 7L); q.processAllAvailable()
      input.addData(8L, 9L); q.processAllAvailable()
      q.stop()
      results.toSeq.sortBy(_._1).toDF("version", "files_read", "cum_rows",
        "cum_sum_key", "cum_sum_pc")
    } finally LogStore.dropRoot(root)
  }

  /** stream_bloom_lookup — [[graft.sources.BloomIndex]]'s streaming
    * twin: a stream of point-lookup KEYS served per micro-batch by
    * bloom-planned pruned reads of the big static store — the
    * production key-value serving loop over a 100 TB table, where
    * min/max stats cannot prune (every file's key envelope overlaps)
    * and the bloom index opens ~1 of 7 files per probe. Per-batch
    * cost is O(probes), never a table scan; no watermark by design
    * (lookups are SERVED, not aggregated over event time). The
    * drained per-probe rows reassemble the batch op's exact output,
    * so the oracle is SHARED VERBATIM with src_bloom_index.
    */
  def streamBloomLookup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.BloomIndex
    val st = BloomIndex.stage(spark, dir)
    try {
      val results = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long, Long)]
      val input = MemoryStream[Long]
      val q = input.toDS().writeStream
        .foreachBatch { (batch: Dataset[Long], _: Long) =>
          val keys = batch.collect().sorted
          if (keys.nonEmpty) {
            val probes = keys.toSeq.toDF("pk")
            val rows = BloomIndex.servePerProbe(spark, st, probes)
              .collect()
              .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                r.getLong(3), r.getLong(4)))
            results.synchronized { results ++= rows: Unit }
          }
        }
        .start()
      // the default 20-probe key set, served across three triggers
      val mk = BloomIndex.keyMax(st)
      val keys = (1L to BloomIndex.Probes).map(i => (i * mk) / 16L)
      input.addData(keys.slice(0, 7)); q.processAllAvailable()
      input.addData(keys.slice(7, 14)); q.processAllAvailable()
      input.addData(keys.slice(14, keys.length.toInt)); q.processAllAvailable()
      q.stop()
      results.toSeq.sortBy(_._1).toDF("probe_key", "files_total",
        "files_hit", "n_match", "sum_price_c")
    } finally st.drop()
  }

  /** Per-user LOCF state: the latest observed purchase value plus the
    * four monotone counters — O(1) per user regardless of stream
    * length.
    */
  case class GapSt(has: Boolean, lastV: Long,
                   n: Long, nObs: Long, nUnf: Long, carried: Long)

  /** Per-user EWMA state: the last ≤ [[graft.relational.Queries.EwmaDepth]]
    * observed cent values (the exact dyadic-decay window) plus three
    * monotone counters and the current EWMA — O(depth) per user
    * regardless of stream length.
    */
  case class EwSt(q: Seq[Long], n: Long, ewmaLast: Long,
                  maxDev: Long, nSpikes: Long)

  /** Exact α=1/2 EWMA of a bounded oldest→newest queue: numerator
    * Σ qᵢ·2^i (newest weighted 2^(len−1)), norm 2^len − 1, one
    * integer division to milli-cents — the same arithmetic as the
    * batch window fold, value by value.
    */
  def ewmaOf(q: Seq[Long]): Long = {
    var e = 0L; var w = 1L
    q.foreach { v => e += v * w; w *= 2L }
    (1000L * e) / (w - 1L)
  }

  /** One-trigger EWMA transition (events sorted by event time within
    * the trigger; cross-trigger order is the drain's responsibility).
    */
  def advanceEwma(st: Option[EwSt], evs: Seq[Ev]): EwSt = {
    var s = st.getOrElse(EwSt(Vector.empty, 0L, 0L, 0L, 0L))
    for (ev <- evs.sortBy(x => (x.sec, x.event_id))) {
      val dev = if (s.n == 0L) 0L else math.abs(1000L * ev.value_c - s.ewmaLast)
      val spike = s.n > 0L && dev > 2L * s.ewmaLast
      val q2 = (s.q :+ ev.value_c).takeRight(graft.relational.Queries.EwmaDepth)
      s = EwSt(q2, s.n + 1L, ewmaOf(q2), math.max(s.maxDev, dev),
        s.nSpikes + (if (spike) 1L else 0L))
    }
    s
  }

  /** The per-trigger EWMA snapshot stream — split out so the
    * multi-trigger spec can drive time-ordered waves through the
    * exact production state machine.
    */
  private[graft] def ewmaSnaps(ds: Dataset[Ev]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .mapGroupsWithState[EwSt, (Long, Long, Long, Long, Long)](
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[Ev], state: GroupState[EwSt]) =>
          val st = advanceEwma(state.getOption, it.toSeq)
          state.update(st)
          (uid, st.n, st.ewmaLast, st.maxDev, st.nSpikes)
      }
      .toDF("user_id", "n_events", "ewma_last_mc", "max_dev_mc", "n_spikes")
  }

  /** stream_ewma — exact dyadic-decay EWMA + spike detection LIVE:
    * the bounded 32-value queue rides in `mapGroupsWithState` group
    * state (O(depth)/user — never the user's history); each trigger
    * emits a counter snapshot, and the sink finalize picks the LAST
    * snapshot per user via `max_by` on the strictly-increasing event
    * count (n is monotone; ewma itself is not, so max alone would be
    * wrong). Shares q_ewma's oracle verbatim — three formulations
    * (batch window fold, rank-distance self-join SQL, live queue),
    * one certified answer.
    */
  def ewmaStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    input.addData(typedEvents(spark, dir).collect().toSeq)
    val snaps = ewmaSnaps(input.toDS())
    val sink = sinkName("stream_ewma")
    val q = snaps.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Update()).start()
    q.processAllAvailable(); q.stop()
    spark.table(sink).groupBy("user_id")
      .agg(max("n_events").as("n_events"),
        max_by(col("ewma_last_mc"), col("n_events")).as("ewma_last_mc"),
        max("max_dev_mc").as("max_dev_mc"),
        max("n_spikes").as("n_spikes"))
      .orderBy("user_id")
  }

  /** One-trigger LOCF transition (events sorted by event time within
    * the trigger; cross-trigger order is the drain's responsibility,
    * as with [[advanceSession]]).
    */
  def advanceGapfill(st: Option[GapSt], evs: Seq[Ev]): GapSt = {
    var s = st.getOrElse(GapSt(has = false, 0L, 0L, 0L, 0L, 0L))
    for (e <- evs.sortBy(x => (x.sec, x.event_id))) {
      s = if (e.event_type == "purchase")
        s.copy(has = true, lastV = e.value_c, n = s.n + 1, nObs = s.nObs + 1)
      else if (s.has) s.copy(n = s.n + 1, carried = s.carried + s.lastV)
      else s.copy(n = s.n + 1, nUnf = s.nUnf + 1)
    }
    s
  }

  /** stream_gapfill — last-observation-carried-forward LIVE: the
    * per-user fill value and counters live in constant-size group
    * state (`mapGroupsWithState`); each trigger emits the user's
    * counter snapshot, and since every counter is MONOTONE
    * nondecreasing the sink finalize is a plain per-user max. Shares
    * q_gapfill's oracle verbatim — the batch window formulation and
    * the stateful stream certify each other.
    */
  /** The per-trigger LOCF snapshot stream — split out so the
    * multi-trigger spec can drive time-ordered waves through the
    * exact production state machine.
    */
  private[graft] def gapfillSnaps(ds: Dataset[Ev]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .mapGroupsWithState[GapSt, (Long, Long, Long, Long, Long)](
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[Ev], state: GroupState[GapSt]) =>
          val st = advanceGapfill(state.getOption, it.toSeq)
          state.update(st)
          (uid, st.n, st.nObs, st.nUnf, st.carried)
      }
      .toDF("user_id", "n_events", "n_obs", "n_unfilled", "carried_c")
  }

  def gapfillStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    input.addData(typedEvents(spark, dir).collect().toSeq)
    val snaps = gapfillSnaps(input.toDS())
    val sink = sinkName("stream_gapfill")
    val q = snaps.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Update()).start()
    q.processAllAvailable(); q.stop()
    spark.table(sink).groupBy("user_id")
      .agg(max("n_events").as("n_events"), max("n_obs").as("n_obs"),
        max("n_unfilled").as("n_unfilled"), max("carried_c").as("carried_c"))
      .orderBy("user_id")
  }

  def retention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    input.addData(typedEvents(spark, dir).collect().toSeq)
    val snaps = input.toDS()
      .map(e => (e.user_id, e.sec / 86400L))
      .groupByKey(_._1)
      .mapGroupsWithState[RetSt, (Long, Long, Long)](GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[(Long, Long)], state: GroupState[RetSt]) =>
          val st = advanceRetention(state.getOption, it.map(_._2).toSeq)
          state.update(st)
          (uid, st.cohort, st.mask)
      }
      .toDF("user_id", "cohort", "mask")
    val sink = sinkName("stream_retention")
    val q = snaps.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Update()).start()
    q.processAllAvailable(); q.stop()
    val st = spark.table(sink)
    // final snapshot per user: cohort only decreases; for the final
    // cohort the mask only grows — two bounded aggregations
    val minC = st.groupBy(col("user_id").as("uid"))
      .agg(min(col("cohort")).as("cohort_day"))
    val fin = st.join(minC,
        st("user_id") === minC("uid") && st("cohort") === minC("cohort_day"))
      .groupBy(col("uid"), col("cohort_day"))
      .agg(max(col("mask")).as("mask"))
    fin.select(col("cohort_day"), col("mask"),
        explode(expr(s"sequence(0L, ${RetMaxOffset - 1}L)")).as("offset_d"))
      .filter(expr("(shiftright(mask, cast(offset_d as int)) & 1) = 1"))
      .groupBy("cohort_day", "offset_d")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "offset_d")
  }

  /** stream_funnel — the LIVE conversion funnel: per-user stage
    * timestamps held in constant-size group state
    * (`flatMapGroupsWithState`, the [[sessionizeStream]] machinery
    * with a [[FunnelSt]] state machine instead of a session), each
    * trigger emitting the user's current stage snapshot; the sink
    * read re-aggregates snapshots into the same one-row funnel
    * summary as the batch q_funnel — and shares its oracle verbatim.
    * Snapshots only advance (stages set once under in-order
    * arrival), so the per-user finalize is a plain max.
    */
  def funnelStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    input.addData(typedEvents(spark, dir).collect().toSeq)
    val snapshots = input.toDS()
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelSt, (Long, Long, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[Ev], state: GroupState[FunnelSt]) =>
          val st = advanceFunnel(
            state.getOption.getOrElse(FunnelSt(-1L, -1L, -1L)), it.toSeq)
          state.update(st)
          Iterator.single((uid, st.t1, st.t2, st.t3))
      }
      .toDF("user_id", "t1", "t2", "t3")
    val sink = sinkName("stream_funnel")
    val q = snapshots.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Update()).start()
    q.processAllAvailable(); q.stop()
    // finalize: latest snapshot per user (stages only advance), then
    // the batch-identical funnel summary
    val fin = spark.table(sink)
      .groupBy("user_id")
      .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"), max(col("t3")).as("t3"))
    fin.agg(coalesce(sum((col("t1") >= 0).cast("long")), lit(0L)).as("n_viewers")).crossJoin(
        fin.filter(col("t2") >= 0)
          .agg(count(lit(1)).as("n_clickers"),
            coalesce(sum(col("t2") - col("t1")), lit(0L)).as("sum_click_delay_s")))
      .crossJoin(
        fin.filter(col("t3") >= 0)
          .agg(count(lit(1)).as("n_purchasers"),
            coalesce(sum(col("t3") - col("t2")), lit(0L)).as("sum_purchase_delay_s")))
  }

  /** Per-user DFA state for [[matchRecognizeStream]]: `active` is
    * true after an un-broken `view [click*]` prefix whose length is
    * `curLen`; n/sumLen/seqLen are the monotone emitted measures.
    * O(1) per user — the whole point of running CEP as streaming
    * state instead of buffering sequences.
    */
  case class MrSt(active: Boolean, curLen: Long, n: Long,
      sumLen: Long, seqLen: Long)

  /** Advance the `view click* purchase` DFA over in-order events —
    * exactly q_match_recognize's leftmost non-overlapping greedy
    * semantics (a fresh `view` while active restarts the match start;
    * any other type breaks the prefix; a `purchase` completes and
    * skips past the last row).
    */
  def advanceMr(st: MrSt, evs: Seq[Ev]): MrSt = {
    var s = st
    for (e <- evs.sortBy(x => (x.sec, x.event_id))) {
      val t = e.event_type
      s = s.copy(seqLen = s.seqLen + 1)
      if (s.active) {
        t match {
          case "click" => s = s.copy(curLen = s.curLen + 1)
          case "purchase" => s = s.copy(active = false,
            n = s.n + 1, sumLen = s.sumLen + s.curLen + 1)
          case "view" => s = s.copy(curLen = 1L)
          case _ => s = s.copy(active = false)
        }
      } else if (t == "view") s = s.copy(active = true, curLen = 1L)
    }
    s
  }

  /** stream_match_recognize — q_match_recognize LIVE (the Flink-CEP
    * signature shape on Structured Streaming): per-user row-pattern
    * matching of `view click* purchase` with constant-size group
    * state ([[MrSt]] — a DFA state + match counters, never a buffered
    * sequence), advanced by `mapGroupsWithState` across THREE
    * time-ordered micro-batches so the automaton genuinely carries a
    * half-open match across batch boundaries. Each trigger emits the
    * user's monotone snapshot; the finalize is a plain max per user,
    * and the drained table shares q_match_recognize's oracle
    * VERBATIM — batch regex matching and streamed DFA state are two
    * formulations of one SQL. The production CEP economics at scale:
    * heavy event flow in, O(users) state, exact pattern measures out.
    */
  def matchRecognizeStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = typedEvents(spark, dir).collect().toSeq
      .sortBy(e => (e.sec, e.event_id))
    val input = MemoryStream[Ev]
    val snapshots = input.toDS()
      .groupByKey(_.user_id)
      .mapGroupsWithState[MrSt, (Long, Long, Long, Long)](
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[Ev], state: GroupState[MrSt]) =>
          val st = advanceMr(
            state.getOption.getOrElse(MrSt(false, 0L, 0L, 0L, 0L)), it.toSeq)
          state.update(st)
          (uid, st.n, st.sumLen, st.seqLen)
      }
      .toDF("user_id", "n_matches", "sum_len", "seq_len")
    val sink = sinkName("stream_match_recognize")
    val q = snapshots.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Update()).start()
    // three TIME-ordered waves: cross-batch state continuation is the
    // content here — a match opened in one batch completes in the next
    val third = (evs.length + 2) / 3
    evs.grouped(math.max(third, 1)).foreach { w =>
      input.addData(w); q.processAllAvailable()
    }
    q.stop()
    spark.table(sink)
      .groupBy("user_id")
      .agg(max("n_matches").as("n_matches"), max("sum_len").as("sum_len"),
        max("seq_len").as("seq_len"))
      .filter(col("n_matches") > 0)
      .orderBy("user_id")
  }

  /** Advance the windowed-alternation `view (click|other)* purchase`
    * DFA — the alternation means only a fresh `view` restarts the
    * match start and only `purchase` completes; every OTHER type
    * extends an active match instead of breaking it (exactly
    * q_match_recognize_win's `v(c|x)*p` leftmost greedy semantics:
    * the greedy star stops at the first non-(c|x) char, so the first
    * purchase completes).
    */
  def advanceMrWin(st: MrSt, evs: Seq[Ev]): MrSt = {
    var s = st
    for (e <- evs.sortBy(x => (x.sec, x.event_id))) {
      val t = e.event_type
      s = s.copy(seqLen = s.seqLen + 1)
      if (s.active) {
        t match {
          case "purchase" => s = s.copy(active = false,
            n = s.n + 1, sumLen = s.sumLen + s.curLen + 1)
          case "view" => s = s.copy(curLen = 1L)
          case _ => s = s.copy(curLen = s.curLen + 1)
        }
      } else if (t == "view") s = s.copy(active = true, curLen = 1L)
    }
    s
  }

  /** stream_match_recognize_win — q_match_recognize_win LIVE: the
    * windowed+alternation CEP pattern as streaming state, keyed by
    * (user, tumbling UTC day) so a match can never span a window
    * boundary BY KEY CONSTRUCTION — the window clause becomes part of
    * the state key, which is also what makes the state EVICTABLE in
    * production (a day whose watermark has passed can never match
    * again; here eviction is off because the drain is finite). Same
    * three time-ordered micro-batches as the plain twin, so windows
    * genuinely straddle batch boundaries; the drained table shares
    * q_match_recognize_win's oracle VERBATIM.
    */
  def matchRecognizeWinStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = typedEvents(spark, dir).collect().toSeq
      .sortBy(e => (e.sec, e.event_id))
    val input = MemoryStream[Ev]
    val snapshots = input.toDS()
      .groupByKey(e => (e.user_id, e.sec / 86400L))
      .mapGroupsWithState[MrSt, (Long, Long, Long, Long, Long)](
        GroupStateTimeout.NoTimeout()) {
        (key: (Long, Long), it: Iterator[Ev], state: GroupState[MrSt]) =>
          val st = advanceMrWin(
            state.getOption.getOrElse(MrSt(false, 0L, 0L, 0L, 0L)), it.toSeq)
          state.update(st)
          (key._1, key._2, st.n, st.sumLen, st.seqLen)
      }
      .toDF("user_id", "day", "n_matches", "sum_len", "seq_len")
    val sink = sinkName("stream_match_recognize_win")
    val q = snapshots.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Update()).start()
    val third = (evs.length + 2) / 3
    evs.grouped(math.max(third, 1)).foreach { w =>
      input.addData(w); q.processAllAvailable()
    }
    q.stop()
    spark.table(sink)
      .groupBy("user_id", "day")
      .agg(max("n_matches").as("n_matches"), max("sum_len").as("sum_len"),
        max("seq_len").as("seq_len"))
      .filter(col("n_matches") > 0)
      .orderBy("user_id", "day")
  }

  /** stream_quantile — approximate p50/p90/p99 over a LIVE stream:
    * the state is [[graft.ops.Sampling.quantHist]]'s mergeable
    * equi-width histogram (bounded (type, bucket) rows; counts/maxes
    * merge per trigger), and the quantile READ is the same bounded
    * [[graft.ops.Sampling.quantPick]] post-pass the batch operator
    * runs — the live-percentile-dashboard shape: heavy corpus → tiny
    * always-current sketch → cheap read. Identical one-sided
    * bucket-width error bound, identical oracle.
    */
  def quantileStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = Tables(spark, dir, "events")
      .select(col("event_type"), col("value")).as[(String, Double)].collect().toSeq
    val input = MemoryStream[(String, Double)]
    input.addData(evs)
    val agg = graft.ops.Sampling.quantHist(input.toDS().toDF("event_type", "value"))
    val sink = sinkName("stream_quantile")
    val q = agg.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    graft.ops.Sampling.quantPick(spark.table(sink))
  }

  /** stream_exact_median — EXACT live medians: the streaming agg
    * maintains [[graft.ops.Sampling.medianHist]]'s (group, cents)
    * count grid in its state store (bounded by groups × the value
    * domain; counts merge by ADDITION across triggers — same
    * mergeable-state shape as [[quantileStream]], but the drain reads
    * an exact order statistic, not a bucket estimate). Shares the
    * batch oracle verbatim.
    */
  def exactMedianStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = Tables(spark, dir, "events")
      .select(col("event_type"), col("value")).as[(String, Double)].collect().toSeq
    val input = MemoryStream[(String, Double)]
    input.addData(evs)
    val agg = graft.ops.Sampling.medianHist(input.toDS().toDF("event_type", "value"))
    val sink = sinkName("stream_exact_median")
    val q = agg.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    graft.ops.Sampling.medianPick(spark.table(sink))
  }

  /** stream_range_join — [[graft.relational.Queries.qRangeJoin]]'s
    * bucketed no-equi-key containment join LIVE: each arriving event
    * maps scan-side to its single domain bucket and stream-static
    * equi-joins the STATIC exploded interval frame (the persisted
    * bucket index — ≤2 rows per interval); the exact range predicate
    * is a stateless post-filter, so the only stateful operator is the
    * per-event verdict aggregation (bounded by the events in flight
    * on the bounded drain; an unbounded deployment would window it).
    * Events with no containing interval re-enter at read (the batch
    * op's inner-join semantics are restored by construction: COUNT
    * over zero rows). Shares q_range_join's oracle verbatim.
    */
  def rangeJoinStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val W = 7L * 86400L
    val iv = Tables(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"),
        expr("(unix_micros(cast(o_orderdate as timestamp)) div 1000000)").as("lo"))
      .withColumn("hi", col("lo") + W)
      .withColumn("bk", explode(expr(s"sequence(lo div $W, (hi - 1) div $W)")))
    val input = MemoryStream[Long]
    input.addData(Tables(spark, dir, "events")
      .select(col("event_id")).as[Long].collect().toSeq)
    val verdict = input.toDF().toDF("event_id")
      .withColumn("t", lit(788918400L) + (col("event_id") % 2400) * 86400L)
      .withColumn("bk", expr(s"t div $W"))
      .join(iv, Seq("bk"))
      .filter(col("t") >= col("lo") && col("t") < col("hi"))
      .groupBy("event_id")
      .agg(count(lit(1)).as("n_orders"),
        min("o_orderkey").as("min_orderkey"),
        sum("o_orderkey").as("sum_orderkey"))
    val sink = sinkName("stream_range_join")
    val q = verdict.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    spark.table(sink).orderBy("event_id")
  }

  /** stream_asof — the as-of enrichment LIVE: each arriving event is
    * stream-static equi-joined on its key against the static orders
    * frame, the `osec <= t` bound is a stateless filter, and the
    * winning row is the per-event max of the packed (osec, orderkey)
    * order — the same greatest-(time, tie) rule as the batch
    * [[graft.relational.Queries.qAsof]] and the native operator,
    * resolved by ONE aggregation instead of buffered state. Events
    * with no prior order rejoin at read with the −1 sentinel. Shares
    * q_asof's oracle verbatim — three independent implementations
    * (union-window, custom SparkPlan, stream-static) against one SQL.
    */
  def asofStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ord = Tables(spark, dir, "orders").select(
      col("o_custkey").cast("long").as("key"),
      expr("(unix_micros(cast(o_orderdate as timestamp)) div 1000000)").as("osec"),
      col("o_orderkey"))
    val input = MemoryStream[(Long, Long)]
    input.addData(Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id")).as[(Long, Long)].collect().toSeq)
    val verdict = input.toDF().toDF("event_id", "user_id")
      .withColumn("key", (col("user_id") % 100 + 1).cast("long"))
      .withColumn("t", lit(788918400L) + (col("event_id") % 2400) * 86400L)
      .join(ord, Seq("key"))
      .filter(col("osec") <= col("t"))
      .groupBy("event_id", "key")
      .agg(max_by(col("o_orderkey"), struct(col("osec"), col("o_orderkey")))
          .as("asof_orderkey"),
        max("osec").as("asof_osec"))
    val sink = sinkName("stream_asof")
    val q = verdict.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    Tables(spark, dir, "events")
      .select(col("event_id"), (col("user_id") % 100 + 1).cast("long").as("key"))
      .join(spark.table(sink).select("event_id", "asof_orderkey", "asof_osec"),
        Seq("event_id"), "left")
      .select(col("event_id"), col("key"),
        coalesce(col("asof_orderkey"), lit(-1L)).as("asof_orderkey"),
        coalesce(col("asof_osec"), lit(-1L)).as("asof_osec"))
      .orderBy("event_id")
  }

  /** stream_topk — continuous leaderboard: top-10 users by total
    * event value, re-ranked every trigger (Complete mode supports the
    * post-aggregation sort+limit). State is the running per-user
    * aggregate — O(users), the leaderboard itself costs a bounded
    * top-k over it per trigger.
    */
  def topk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    input.addData(typedEvents(spark, dir).collect().toSeq)
    val agg = input.toDS()
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value_c")).as("sum_value_c"))
      .orderBy(col("sum_value_c").desc, col("user_id"))
      .limit(10)
    val sink = sinkName("stream_topk")
    val q = agg.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    spark.table(sink).orderBy(col("sum_value_c").desc, col("user_id"))
  }

  /** stream_session — stateful sessionization with BOUNDED state:
    * per-user group state is only the open session ([[OpenSess]],
    * 4 longs). Closed sessions are emitted the moment a >gap event
    * arrives; the open session is re-emitted as an Update-mode
    * snapshot each trigger (later triggers overwrite it — the sink
    * read deduplicates by (user_id, session_start) keeping the
    * max-n_events row, which is the final snapshot since sessions
    * only grow and the start key never changes). An event-time
    * timeout (watermark + gap) emits the final session of an idle
    * user and REMOVES the state row, so on an unbounded stream state
    * is O(active users), not O(events); the start-second session key
    * keeps post-eviction sessions distinct (see [[SessionOut]]).
    */
  def session(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    input.addData(typedEvents(spark, dir).collect().toSeq)
    val sessions = sessionizeStream(input.toDS())
    val sink = sinkName("stream_session")
    val q = sessions.toDF().writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Update()).start()
    q.processAllAvailable(); q.stop()
    finalizeSessionSink(spark.table(sink))
  }

  /** stream_session_file — the SAME stateful sessionization driven
    * from a FILE SOURCE in multiple REAL micro-batches, so the one
    * flatMapGroupsWithState operator is also proven free of
    * MemoryStream's driver-side feeding (the [[tumblingFile]] pattern
    * extended to arbitrary-state streaming). The staging writes FOUR
    * CHRONOLOGICAL time slices as sequential single-file commits: the
    * file source replays files in modification-time order, so each
    * batch's events are no older than the previous slice's maximum —
    * the 30-minute watermark never drops a cross-batch event and the
    * multi-batch drain must reproduce the single-batch (and batch
    * twin's) sessions exactly. This mirrors production directory-watch
    * ingest, where arriving files ARE roughly event-time ordered.
    * Shares the stream_session oracle verbatim.
    */
  /** stream_session_native — sessionization through Spark's BUILT-IN
    * streaming `session_window` aggregation (the merging-window state
    * store) beside the custom flatMapGroupsWithState machine: the
    * prefer-built-ins principle applied to the hardest streaming op.
    * Boundary semantics pinned by the batch twin
    * ([[graft.relational.Queries.qSessionNative]]): session_window
    * MERGES an event arriving exactly `gap` after the previous one,
    * so gap = 1800 s reproduces the strict `> 1800` split rule.
    * Append mode + 30-min watermark: sessions emit exactly once,
    * finalized, and state evicts at the watermark (update mode is
    * unsupported for session windows). A bounded drain would
    * otherwise strand every session inside the final watermark
    * horizon (13 on this corpus), so the feed ends with one sentinel
    * "punctuation" event a day past the corpus — it advances the
    * GLOBAL watermark so the tail flushes, and its own single-event
    * session is dropped at read by its sentinel user id. Shares the
    * stream_session oracle verbatim.
    */
  def sessionNative(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val evs = typedEvents(spark, dir).collect().toSeq
    val sentinel = Ev(-1L, -1L, evs.map(_.sec).max + 86400L, 0L, "flush")
    input.addData(evs :+ sentinel)
    val agg = input.toDS().toDF()
      .withColumn("ets", timestamp_seconds(col("sec")))
      .withWatermark("ets", "30 minutes")
      .groupBy(col("user_id"), session_window(col("ets"), "1800 seconds"))
      .agg(count(lit(1)).as("n_events"),
        min(col("sec")).as("session_start"),
        (max(col("sec")) - min(col("sec"))).as("dur_sec"),
        sum(col("value_c")).as("sum_value_c"))
    val sink = sinkName("stream_session_native")
    val q = agg.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    spark.table(sink)
      .filter(col("user_id") =!= -1L)
      .select(col("user_id"), col("session_start"), col("n_events"),
        col("dur_sec"), col("sum_value_c"))
      .orderBy("user_id", "session_start")
  }

  def sessionFile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = typedEvents(spark, dir)
    Scratch.withDir("stream_sess") { tmp =>
      // bounded driver work: two scalars for the slice bounds
      val mm = ev.toDF().agg(min(col("sec")), max(col("sec"))).collect()(0)
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val step = math.max(1L, (hi - lo) / 4 + 1)
      for (k <- 0L until 4L) {
        ev.toDF()
          .filter(col("sec") >= lo + k * step && col("sec") < lo + (k + 1) * step)
          .coalesce(1).write.mode(if (k == 0L) "overwrite" else "append").parquet(tmp)
      }
      val sessions = sessionizeStream(
        spark.readStream.schema(ev.toDF().schema)
          .option("maxFilesPerTrigger", "1").parquet(tmp).as[Ev])
      val sink = sinkName("stream_session_file")
      val q = sessions.toDF().writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Update()).start()
      q.processAllAvailable()
      val nBatches = q.recentProgress.count(_.numInputRows > 0)
      q.stop()
      require(nBatches >= 2,
        s"file source drained in $nBatches batches; expected a real multi-batch run")
      finalizeSessionSink(spark.table(sink)).localCheckpoint(true)
        .orderBy("user_id", "session_start")
    }
  }

  /** The streaming sessionization DAG: watermarked event time →
    * groupByKey(user) → flatMapGroupsWithState with EventTimeTimeout.
    * Factored out so specs can drive it trigger-by-trigger.
    */
  def sessionizeStream(ds: Dataset[Ev], gapSec: Long = 1800): Dataset[SessionOut] = {
    import ds.sparkSession.implicits._
    ds.withColumn("ets", timestamp_seconds(col("sec")))
      .withWatermark("ets", "30 minutes")
      .as[EvT]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSess, SessionOut](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, it: Iterator[EvT], state: GroupState[OpenSess]) =>
          if (state.hasTimedOut) {
            // idle past watermark+gap: close the open session, drop state
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(uid, s.start, s.n, s.last - s.start, s.sum))
          } else {
            val evs = it.map(e => Ev(e.event_id, e.user_id, e.sec, e.value_c, e.event_type)).toSeq
            val (closed, openOpt) = advanceSession(uid, state.getOption, evs, gapSec)
            openOpt match {
              case Some(s) =>
                state.update(s)
                // fire once the watermark passes the session gap
                // (never at-or-before the current watermark)
                state.setTimeoutTimestamp(math.max(
                  (s.last + gapSec) * 1000L + 1000L,
                  state.getCurrentWatermarkMs() + 1000L))
                (closed :+ SessionOut(uid, s.start, s.n, s.last - s.start, s.sum)).iterator
              case None => closed.iterator
            }
          }
      }
  }

  /** Update-mode memory sink holds every snapshot of each session; the
    * final state of a session is its max-n_events row (sessions only
    * grow under their immutable (user_id, session_start) key; ties
    * carry identical payloads).
    */
  def finalizeSessionSink(sink: DataFrame): DataFrame =
    sink.groupBy("user_id", "session_start")
      .agg(max(col("n_events")).as("n_events"),
        max_by(col("dur_sec"), col("n_events")).as("dur_sec"),
        max_by(col("sum_value_c"), col("n_events")).as("sum_value_c"))
      .orderBy("user_id", "session_start")

  /** stream_dedup — streaming exact deduplication: state-store-backed
    * `dropDuplicates` on the content hash (the streaming face of
    * dedup_exact; with an unbounded source you'd add a watermark to
    * bound the state retention window). Output is the distinct key
    * set — deterministic regardless of arrival order.
    */
  def dedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val keys = Tables(spark, dir, "documents")
      .select(md5(col("text")).as("key")).as[String].collect().toSeq
    val input = MemoryStream[String]
    input.addData(keys)
    val sink = sinkName("stream_dedup")
    val q = input.toDS().toDF("key").dropDuplicates("key")
      .writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    spark.table(sink).orderBy("key")
  }

  /** The watermark-bounded dedup DAG: event-time watermark →
    * `dropDuplicatesWithinWatermark` on (user_id, event_type) → key
    * projection. Factored out so specs can drive it trigger-by-trigger
    * (the key projection AFTER the dedup keeps the emitted set
    * deterministic regardless of which duplicate arrived first).
    */
  def dedupWmStream(ds: Dataset[Ev]): DataFrame =
    ds.withColumn("ets", timestamp_seconds(col("sec")))
      .withWatermark("ets", "30 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))

  /** stream_dedup_wm — watermark-BOUNDED streaming deduplication:
    * unlike [[dedup]] (state grows with every key ever seen —
    * documented as unbounded), `dropDuplicatesWithinWatermark` drops
    * a key's state row once the watermark passes its event time +
    * delay, so an endless stream keeps O(keys within the watermark
    * window) state. Duplicates inside the window are suppressed
    * exactly; a key recurring after eviction is re-emitted — the
    * documented contract, asserted trigger-by-trigger in the spec.
    * On the driver's single-batch drain the watermark never advances
    * mid-batch, so nothing evicts and the output is the exact
    * distinct (user_id, event_type) set.
    */
  def dedupWm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    input.addData(typedEvents(spark, dir).collect().toSeq)
    val sink = sinkName("stream_dedup_wm")
    val q = dedupWmStream(input.toDS()).writeStream.format("memory")
      .queryName(sink).outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    spark.table(sink).orderBy("user_id", "event_type")
  }

  /** stream_kmv — the KMV distinct-user sketch as a streaming
    * aggregation: [[graft.functions.KmvKthHash]] runs inside the
    * streaming aggregation state store (its bounded TreeSet buffer
    * serializes into the store between triggers and merges on the
    * next), so an unbounded stream keeps O(groups·K) state — the
    * streaming face of agg_kmv_distinct, same sketch contents.
    */
  def kmvStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = Tables(spark, dir, "events")
      .select(col("event_type"), col("user_id")).as[(String, Long)].collect().toSeq
    val input = MemoryStream[(String, Long)]
    input.addData(evs)
    val agg = input.toDS().toDF("event_type", "user_id")
      .withColumn("h", expr("graft_md5_prefix(cast(user_id as string))"))
      .groupBy("event_type")
      .agg(expr(s"graft_kmv_kth(h, ${graft.ops.Sampling.KmvK})").as("kmv"))
      .select(col("event_type"), col("kmv.k_used").as("k_used"),
        col("kmv.kth_hash").as("kth_hash"))
    val sink = sinkName("stream_kmv")
    val q = agg.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    spark.table(sink).orderBy("event_type")
  }

  case class Doc(doc_id: Long, text: String, source: String)

  /** stream_diversity — the per-source concentration audit LIVE: the
    * streaming aggregation holds the (source, token) count cell frame
    * (vocab-bounded, the stream_drift state shape) in Complete mode;
    * the finalize runs the drained cells through EXACTLY
    * [[graft.ops.Sampling.diversityReport]] — one code path for batch
    * and stream — and certifies against the stats_diversity oracle
    * verbatim. The live "is a source suddenly repeating itself"
    * monitor.
    */
  def diversityStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
      .as[Doc].collect().toSeq
    val input = MemoryStream[Doc]
    input.addData(docs)
    val cells = input.toDF()
      .select(col("source"),
        explode(expr(graft.ops.TextAnalysis.toksExpr)).as("t"))
      .groupBy("source", "t").agg(count(lit(1)).as("c"))
    val sink = sinkName("stream_diversity")
    val q = cells.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    graft.ops.Sampling.diversityReport(spark.table(sink))
  }

  /** stream_clean — the corpus-cleaning stages of
    * [[graft.ops.Pipeline.clean]] running UNCHANGED on a document
    * stream: the rule-flag and mask projections are stateless
    * scan-side transforms (identical code path batch or stream), and
    * the exact dedup is state-store `dropDuplicates` on the masked
    * content hash (unbounded keys — an unbounded deployment swaps in
    * the [[dedupWmStream]] watermark-bounded variant once documents
    * carry an event time). Emits the distinct cleaned-content key set.
    */
  def clean(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source")).as[Doc].collect().toSeq
    val input = MemoryStream[Doc]
    input.addData(docs)
    val cleaned = graft.ops.TextAnalysis.withMasked(
      graft.ops.TextAnalysis.withRuleFlags(input.toDF())
        .filter(col("keep") === 1))
      .select(md5(col("masked")).as("masked_md5"))
      .dropDuplicates("masked_md5")
    val sink = sinkName("stream_clean")
    val q = cleaned.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    spark.table(sink).orderBy("masked_md5")
  }

  /** stream_card — [[graft.ops.Pipeline.cardDf]] running UNCHANGED on
    * a document stream in Complete mode: the rule-flag/split stages
    * are stateless scan-side projections, the (source, split)
    * aggregation holds bounded state (the dimension domain), and
    * every trigger emits the refreshed dataset card — the live
    * corpus-accounting dashboard of an ingestion pipeline.
    */
  def cardStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source")).as[Doc].collect().toSeq
    val input = MemoryStream[Doc]
    input.addData(docs)
    val card = graft.ops.Pipeline.cardDf(input.toDF())
    val sink = sinkName("stream_card")
    val q = card.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    spark.table(sink).orderBy("source", "split")
  }

  /** stream_drift — the ingest-source drift monitor LIVE: the
    * streaming aggregation maintains the (source, token) count cell
    * frame in its state store (bounded by sources × vocab, counts
    * merge by addition across triggers — the [[quantileStream]]
    * mergeable-state shape), and the drain runs the SAME χ² read
    * stage as the batch operator ([[graft.ops.Sampling.driftReport]])
    * — a live "which source is drifting right now" dashboard over a
    * document stream, sharing the batch oracle verbatim.
    */
  def driftStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source")).as[Doc].collect().toSeq
    val input = MemoryStream[Doc]
    input.addData(docs)
    val cells = input.toDF()
      .withColumn("t", expr(graft.ops.TextAnalysis.toksExpr))
      .select(col("source"), explode(col("t")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("o"))
    val sink = sinkName("stream_drift")
    val q = cells.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    graft.ops.Sampling.driftReport(spark.table(sink))
  }

  /** stream_incr_dedup — [[graft.ops.Dedup.incremental]]'s admission
    * stage LIVE: incoming documents stream-static-join against the
    * STATIC historical band index (the persisted artifact a 100 TB
    * deployment keeps between ingest days). The MinHash signature is
    * computed SCAN-SIDE as a fold over the shingle array (bit-identical
    * to the batch explode+groupBy signatures, but stateless — a
    * streaming groupBy per doc would be a second stateful operator),
    * candidates come from one equi-join probe per band row, the exact
    * integer-Jaccard verify is a stateless projection, and the only
    * state is the per-doc verdict aggregation (Complete mode; bounded
    * by the batch in flight). Unlike the batch twin there is no
    * earlier-in-batch arm — the live path adjudicates each doc against
    * the index as it arrives, which is exactly the production
    * semantics (the index absorbs the batch afterwards).
    */
  def incrDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val batch = Tables(spark, dir, "documents").filter(col("doc_id") % 4 === 0)
      .select(col("doc_id"), col("text"), col("source")).as[Doc].collect().toSeq
    incrDedupDriven(spark, dir, Seq(batch))
  }

  /** [[incrDedup]] with the incoming batch delivered across explicit
    * triggers — the spec seam proving the Complete-mode verdict state
    * merges per doc across micro-batches.
    */
  private[graft] def incrDedupDriven(spark: SparkSession, dir: String,
      feeds: Seq[Seq[Doc]]): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.{Dedup, TextAnalysis}
    val bandCols = (0 until Dedup.MinhashK / 2).map { j =>
      concat_ws(":", col(s"mh${2 * j}"), col(s"mh${2 * j + 1}"))
    }
    val index = Dedup.signatures(spark, dir).filter(col("doc_id") % 4 =!= 0)
      .select(col("doc_id").as("doc_idx"),
        posexplode(array(bandCols: _*)).as(Seq("band_i", "band_v")))
    val oldToks = Tables(spark, dir, "documents").filter(col("doc_id") % 4 =!= 0)
      .select(col("doc_id").as("doc_idx"),
        expr(s"array_distinct(${TextAnalysis.toksExpr})").as("toks_b"),
        expr(s"cast(size(array_distinct(${TextAnalysis.toksExpr})) as bigint)").as("nt_b"))
    val input = MemoryStream[Doc]
    val sigExprs = (0 until Dedup.MinhashK).map { j =>
      val (aj, bj) = Dedup.perm(j)
      expr(s"aggregate(sh, cast(9223372036854775807 as bigint), " +
        s"(acc, x) -> least(acc, ($aj * graft_md5_prefix(x) + $bj) % ${Dedup.MinhashP}))")
        .as(s"mh$j")
    }
    val streamBands = input.toDF()
      .withColumn("t", expr(TextAnalysis.toksExpr))
      .withColumn("sh", expr(Dedup.shinglesExpr))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id") +: col("t") +: sigExprs: _*)
      .withColumn("toks_a", array_distinct(col("t")))
      .withColumn("nt_a", size(col("toks_a")).cast("long"))
      .select(col("doc_id"), col("toks_a"), col("nt_a"),
        posexplode(array(bandCols: _*)).as(Seq("band_i", "band_v")))
    val verdict = streamBands
      .join(index, Seq("band_i", "band_v"))
      .join(oldToks, Seq("doc_idx"))
      .withColumn("inter", expr("cast(size(array_intersect(toks_a, toks_b)) as bigint)"))
      .withColumn("uni", col("nt_a") + col("nt_b") - col("inter"))
      .groupBy("doc_id")
      .agg(size(collect_set(col("doc_idx"))).cast("long").as("n_cands"),
        min(when(col("inter") * 2 >= col("uni"), col("doc_idx"))).as("dup_of"))
    val sink = sinkName("stream_incr_dedup")
    val q = verdict.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Complete()).start()
    feeds.foreach { batch => input.addData(batch); q.processAllAvailable() }
    q.stop()
    Tables(spark, dir, "documents").filter(col("doc_id") % 4 === 0)
      .select(col("doc_id"))
      .join(spark.table(sink), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_cands"), lit(0L)).as("n_cands"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        (coalesce(col("dup_of"), lit(-1L)) === -1L).cast("long").as("kept"))
      .orderBy("doc_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_incr_dedup" -> (incrDedup _),
    "stream_exact_median" -> (exactMedianStream _),
    "stream_drift" -> (driftStream _),
    "stream_card" -> (cardStream _),
    "stream_sliding" -> (sliding _),
    "stream_join" -> (joinStatic _),
    "stream_ann_topk" -> (annTopk _),
    "stream_volume_ingest" -> (volumeIngest _),
    "stream_sj" -> (streamStreamJoin _),
    "stream_topk" -> (topk _),
    "stream_range_join" -> (rangeJoinStream _),
    "stream_asof" -> (asofStream _),
    "stream_cms" -> (cmsStream _),
    "stream_hll" -> (hllStream _),
    "stream_volume_stats" -> (volumeStats _),
    "stream_quantile" -> (quantileStream _),
    "stream_funnel" -> (funnelStream _),
    "stream_retention" -> (retention _),
    "stream_tumbling" -> (tumbling _),
    "stream_tumbling_file" -> (tumblingFile _),
    "stream_ohlc" -> (ohlc _),
    "stream_ewma" -> (ewmaStream _),
    "stream_cdc_apply" -> (cdcApply _),
    "stream_stats_prune" -> (streamStatsPrune _),
    "stream_log_tail" -> (streamLogTail _),
    "stream_bloom_lookup" -> (streamBloomLookup _),
    "stream_wap" -> (graft.sources.TableRefs.streamWap _),
    "stream_snapshot_tail" -> (graft.sources.SnapshotDiff.snapshotTail _),
    "stream_match_recognize" -> (matchRecognizeStream _),
    "stream_match_recognize_win" -> (matchRecognizeWinStream _),
    "stream_late_drop" -> (lateDrop _),
    "stream_anomaly" -> (anomalyStream _),
    "stream_eq_delete" -> (graft.sources.EqDelete.streamEqDelete _),
    "stream_ivm" -> (streamIvm _),
    "stream_diversity" -> (diversityStream _),
    "stream_gapfill" -> (gapfillStream _),
    "stream_session" -> (session _),
    "stream_session_native" -> (sessionNative _),
    "stream_session_file" -> (sessionFile _),
    "stream_dedup" -> (dedup _),
    "stream_dedup_wm" -> (dedupWm _),
    "stream_kmv" -> (kmvStream _),
    "stream_clean" -> (clean _)
  )

  /** Oracles: same shapes as the batch twins (users column omitted
    * from tumbling — exact distinct counts aren't a streaming agg).
    */
  val oracles: Map[String, String] = Map(
    // identical semantics to the batch card on the bounded drain
    "stream_card" -> graft.ops.OpsOracles.all("pipeline_card"),
    // identical semantics to the batch block stats on the bounded drain
    "stream_volume_stats" -> graft.octree.OctreeOracles.all("oct_stats"),
    // the histogram state drains to the same read as the batch operator
    "stream_quantile" -> graft.ops.OpsOracles.all("stats_approx_quantile"),
    // the (source, token) count state drains to the same χ² read
    "stream_drift" -> graft.ops.OpsOracles.all("stats_source_drift"),
    "stream_incr_dedup" -> graft.ops.OpsOracles.all("stream_incr_dedup"),
    // the serve stream drains to the same exact top-5 as the batch scan
    "stream_ann_topk" -> graft.ops.OpsOracles.all("sim_brute_topk"),
    // the manifest log reassembles the exact pyramid table
    "stream_volume_ingest" -> graft.octree.OctreeOracles.all("oct_pyramid"),
    "stream_exact_median" -> graft.ops.OpsOracles.all("stats_exact_median"),
    // the per-user state machine drains to the batch funnel summary
    "stream_funnel" -> Queries.funnelOracleSql,
    // the per-user (cohort, mask) state drains to the batch cohort
    // table — same SQL as q_retention (SparkEntry.oracleSql)
    "stream_retention" ->
      """WITH a AS (
        |  SELECT DISTINCT user_id,
        |    CAST((epoch_ns(ts) // 1000000000) // 86400 AS BIGINT) AS day
        |  FROM events),
        |c AS (SELECT user_id, MIN(day) AS cohort_day FROM a GROUP BY 1)
        |SELECT c.cohort_day, a.day - c.cohort_day AS offset_d,
        |  COUNT(*) AS n_users
        |FROM a JOIN c ON a.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "stream_cms" -> {
      import graft.ops.{Sampling, OpsOracles}
      val unions = (0 until Sampling.CmsDepth).map { j =>
        s"SELECT $j AS d, ${OpsOracles.md5Int(s"(CAST(user_id AS VARCHAR) || '#' || '$j')")} % ${Sampling.CmsWidth} AS idx FROM events"
      }.mkString("\n  UNION ALL ")
      s"""SELECT CAST(d AS BIGINT) AS d, idx, COUNT(*) AS cnt FROM (
         |  $unions)
         |GROUP BY d, idx ORDER BY d, idx""".stripMargin
    },
    "stream_hll" -> {
      import graft.ops.{OpsOracles, Sampling}
      s"""WITH hh AS (SELECT event_type,
         |        ${OpsOracles.md5Int("CAST(user_id AS VARCHAR)")} AS h FROM events),
         |vv AS (SELECT event_type, h % ${Sampling.HllM} AS bucket,
         |         h // ${Sampling.HllM} AS v FROM hh),
         |rr AS (SELECT event_type, bucket,
         |         CASE WHEN v = 0 THEN CAST(27 AS BIGINT)
         |              ELSE CAST(log2(v & (-v)) AS BIGINT) + 1 END AS rho
         |       FROM vv)
         |SELECT event_type, bucket, MAX(rho) AS m_rho
         |FROM rr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "stream_topk" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(FLOOR((value)*100) AS BIGINT)) AS BIGINT) AS sum_value_c
        |FROM events GROUP BY user_id
        |ORDER BY sum_value_c DESC, user_id LIMIT 10""".stripMargin,
    "stream_sj" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec
        |  FROM events)
        |SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  c.user_id, CAST(p.sec - c.sec AS BIGINT) AS delay_sec
        |FROM e c JOIN e p ON c.user_id = p.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.sec >= c.sec AND p.sec <= c.sec + 3600
        |ORDER BY click_id, purchase_id""".stripMargin,
    "stream_sliding" ->
      """WITH e AS (
        |  SELECT CAST((epoch_ns(ts) // 1000000000) // 3600 AS BIGINT) AS h,
        |    event_type, CAST(FLOOR((value)*100) AS BIGINT) AS value_c
        |  FROM events),
        |w AS (
        |  SELECT h AS win_start_h, event_type, value_c FROM e
        |  UNION ALL
        |  SELECT h - 1 AS win_start_h, event_type, value_c FROM e)
        |SELECT win_start_h, event_type, COUNT(*) AS cnt,
        |  CAST(SUM(value_c) AS BIGINT) AS sum_value_c
        |FROM w GROUP BY win_start_h, event_type
        |ORDER BY win_start_h, event_type""".stripMargin,
    "stream_join" ->
      """SELECT c_mktsegment, event_type, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(FLOOR((value)*100) AS BIGINT)) AS BIGINT) AS sum_value_c
        |FROM events JOIN customer ON c_custkey = user_id % 100 + 1
        |GROUP BY c_mktsegment, event_type
        |ORDER BY c_mktsegment, event_type""".stripMargin,
    "stream_clean" ->
      s"""WITH ${graft.ops.OpsOracles.filterCtes},
         |${graft.ops.OpsOracles.maskCtes}
         |SELECT DISTINCT md5(s3.masked) AS masked_md5
         |FROM s3 JOIN g ON s3.doc_id = g.doc_id
         |WHERE g.n_fail = 0 ORDER BY masked_md5""".stripMargin,
    "stream_kmv" ->
      s"""WITH uh AS (
         |  SELECT DISTINCT event_type,
         |    CAST(${graft.ops.OpsOracles.md5Int("CAST(user_id AS VARCHAR)")} AS BIGINT) AS h
         |  FROM events),
         |r AS (SELECT event_type, h,
         |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk FROM uh)
         |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS k_used, CAST(MAX(h) AS BIGINT) AS kth_hash
         |FROM r WHERE rk <= ${graft.ops.Sampling.KmvK}
         |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_dedup" ->
      "SELECT DISTINCT md5(text) AS key FROM documents ORDER BY key",
    "stream_dedup_wm" ->
      """SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id, event_type
        |FROM events ORDER BY user_id, event_type""".stripMargin,
    // live OHLC drains to the same bars as the batch window pass
    "stream_ohlc" -> graft.relational.SharedOracles.ohlc,
    // the stateful LOCF drains to the same per-user accounting as the
    // batch window formulation
    "stream_gapfill" -> graft.relational.SharedOracles.gapfill,
    // the bounded-queue live EWMA drains to the same per-user report
    // as the batch bounded-frame window fold
    "stream_ewma" -> graft.relational.SharedOracles.ewma,
    // the exactly-once micro-batch CDC stream drains to the same
    // post-merge table as the one-shot copy-on-write merge
    "stream_cdc_apply" -> graft.sources.TableMerge.mergeOracle,
    // the FOURTH formulation against the merge SQL: live delta
    // maintenance of the persisted MV under the micro-batched feed
    "stream_ivm" -> graft.sources.TableMerge.mergeOracle,
    // every served query's plan arithmetic + exact matched aggregate,
    // recomputed in closed form per band
    "stream_stats_prune" -> s"""WITH o AS (SELECT o_orderkey AS k,
      |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS total_c,
      |    CAST(year(o_orderdate) AS BIGINT) AS p
      |  FROM orders),
      |mx AS (SELECT MAX(k) AS mk FROM o),
      |qs AS (SELECT * FROM (VALUES (0, 10, 15), (1, 30, 35), (2, 50, 55))
      |       t(qid, lop, hip)),
      |b AS (SELECT o.*,
      |    (k * ${graft.sources.StatsPrune.PruneFiles}) // (mk + 1) AS fid
      |  FROM o, mx),
      |st AS (SELECT p, fid, MIN(k) AS lo_k, MAX(k) AS hi_k,
      |    COUNT(*) AS n_rows FROM b GROUP BY 1, 2),
      |qb AS (SELECT qid, (lop * mk) // 100 AS lo_b, (hip * mk) // 100 AS hi_b
      |  FROM qs, mx),
      |hit AS (SELECT qb.qid, st.n_rows FROM qb JOIN st
      |  ON st.hi_k >= qb.lo_b AND st.lo_k <= qb.hi_b),
      |pl AS (SELECT qid, COUNT(*) AS files_read, SUM(n_rows) AS rows_read
      |  FROM hit GROUP BY 1),
      |m AS (SELECT qb.qid, COUNT(b.k) AS n_match,
      |    COALESCE(SUM(b.total_c), 0) AS sum_total_c,
      |    COALESCE(SUM(b.k), 0) AS sum_key
      |  FROM qb LEFT JOIN b ON b.k BETWEEN qb.lo_b AND qb.hi_b GROUP BY 1)
      |SELECT CAST(qs.qid AS BIGINT) AS qid,
      |  (SELECT COUNT(*) FROM st) AS files_total,
      |  CAST(COALESCE(pl.files_read, 0) AS BIGINT) AS files_read,
      |  CAST(COALESCE(pl.rows_read, 0) AS BIGINT) AS rows_read,
      |  CAST(COALESCE(m.n_match, 0) AS BIGINT) AS n_match,
      |  CAST(COALESCE(m.sum_total_c, 0) AS BIGINT) AS sum_total_c,
      |  CAST(COALESCE(m.sum_key, 0) AS BIGINT) AS sum_key
      |FROM qs LEFT JOIN pl ON pl.qid = qs.qid
      |LEFT JOIN m ON m.qid = qs.qid ORDER BY 1""".stripMargin,
    // the streaming lookup loop drains to the batch op's exact
    // per-probe rows — one SQL certifies both
    "stream_bloom_lookup" -> graft.sources.BloomIndex.bloomOracle,
    // per-batch WAP outcomes: publish, quarantine, continue
    "stream_wap" -> graft.sources.TableRefs.streamWapOracle,
    // the changelog tail: per-(version, op) deltas of the three
    // copy-on-write commits, N rows over data-driven touched sets
    "stream_snapshot_tail" -> graft.sources.SnapshotDiff.tailOracle,
    // shared VERBATIM with the batch row-pattern op: regex matching
    // and streamed DFA state are two formulations of one SQL
    "stream_match_recognize" -> graft.relational.Queries.matchRecognizeOracleSql,
    "stream_match_recognize_win" ->
      graft.relational.Queries.matchRecognizeWinOracleSql,
    "stream_late_drop" -> lateDropOracleSql,
    "stream_anomaly" -> graft.ops.TimeSeries.oracles("ts_anomaly"),
    // shared VERBATIM with src_eq_delete: batch staging and
    // exactly-once stream ingestion are two formulations of one SQL
    "stream_eq_delete" -> graft.sources.EqDelete.eqDeleteOracle,
    // the tail's cumulative state after each commit, restated from the
    // year-append history: one year file per commit 1..7, change
    // commits 8 (compaction) and 9 (drop) skipped — flat cumulative
    "stream_log_tail" ->
      """WITH o AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
        |    o_orderkey AS k,
        |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS pc FROM orders),
        |y0 AS (SELECT MIN(y) AS y0 FROM o),
        |v AS (SELECT range AS version FROM range(1, 10))
        |SELECT CAST(version AS BIGINT) AS version,
        |  CAST(CASE WHEN version <= 7 THEN 1 ELSE 0 END AS BIGINT)
        |    AS files_read,
        |  (SELECT COUNT(*) FROM o, y0
        |   WHERE y <= y0 + LEAST(version, 7) - 1) AS cum_rows,
        |  CAST((SELECT SUM(k) FROM o, y0
        |   WHERE y <= y0 + LEAST(version, 7) - 1) AS BIGINT) AS cum_sum_key,
        |  CAST((SELECT SUM(pc) FROM o, y0
        |   WHERE y <= y0 + LEAST(version, 7) - 1) AS BIGINT) AS cum_sum_pc
        |FROM v ORDER BY 1""".stripMargin,
    // the live (source, token) cell state finalizes to the same
    // concentration report as the batch pass
    "stream_diversity" -> graft.ops.OpsOracles.all("stats_diversity"),
    // the file-source drive computes the identical aggregate, so it
    // shares the tumbling oracle verbatim (defined right below)
    "stream_tumbling_file" ->
      """WITH e AS (
        |  SELECT CAST(FLOOR((epoch_ns(ts) // 1000000000)/3600.0) AS BIGINT) AS bucket_h,
        |    event_type, CAST(FLOOR((value)*100) AS BIGINT) AS value_c
        |  FROM events)
        |SELECT bucket_h, event_type, COUNT(*) AS cnt,
        |  CAST(SUM(value_c) AS BIGINT) AS sum_value_c
        |FROM e GROUP BY bucket_h, event_type
        |ORDER BY bucket_h, event_type""".stripMargin,
    "stream_tumbling" ->
      """WITH e AS (
        |  SELECT CAST(FLOOR((epoch_ns(ts) // 1000000000)/3600.0) AS BIGINT) AS bucket_h,
        |    event_type, CAST(FLOOR((value)*100) AS BIGINT) AS value_c
        |  FROM events)
        |SELECT bucket_h, event_type, COUNT(*) AS cnt,
        |  CAST(SUM(value_c) AS BIGINT) AS sum_value_c
        |FROM e GROUP BY bucket_h, event_type
        |ORDER BY bucket_h, event_type""".stripMargin,
    "stream_session" -> sessionOracle,
    "stream_session_native" -> sessionOracle,
    // same SQL as the batch q_range_join / q_asof rows — the TEXT is
    // hoisted into graft.relational.SharedOracles so the batch and
    // streaming twins physically cannot drift (referencing
    // SparkEntry.oracleSql here would recurse — it merges this map)
    "stream_range_join" -> graft.relational.SharedOracles.rangeJoin,
    "stream_asof" -> graft.relational.SharedOracles.asof,
    // the chronological multi-batch file-source drain must reproduce
    // the identical sessions — shares the oracle verbatim
    "stream_session_file" -> sessionOracle
  )

  private lazy val sessionOracle: String =
    """WITH e AS (
      |  SELECT event_id, user_id,
      |    CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec,
      |    CAST(FLOOR((value)*100) AS BIGINT) AS value_c
      |  FROM events),
      |s AS (
      |  SELECT *, CASE WHEN lag(sec) OVER w IS NULL
      |                   OR sec - lag(sec) OVER w > 1800
      |            THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
      |t AS (
      |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      |  FROM s)
      |SELECT user_id, CAST(MIN(sec) AS BIGINT) AS session_start,
      |  COUNT(*) AS n_events,
      |  CAST(MAX(sec) - MIN(sec) AS BIGINT) AS dur_sec,
      |  CAST(SUM(value_c) AS BIGINT) AS sum_value_c
      |FROM t GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin
}
