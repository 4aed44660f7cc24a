package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.streaming.Stream

/** One Kafka-source-shaped record, as `Stream.fromKafkaShaped` expects. */
final case class KRow(topic: String, partition: Int, offset: Long,
                      timestamp: java.sql.Timestamp, key: Array[Byte],
                      value: Array[Byte])

/** stream_window: Kafka-shaped JSON events → `Stream.fromKafkaShaped` →
  * `filter` → `map` → keyed 1 s tumbling `window` (0.25 s grace; count, sum,
  * approx_count_distinct) → `forEachBatch` sink.
  *
  * Event i's event time is its scheduled send time on a fixed epoch
  * (`BaseUs + i · 1e6/Rate` µs), minus up to 0.2 s for the 5% sent out of
  * order. Window results therefore follow from the seed alone. Open loop:
  * event i is sent at `wall0 + i/Rate`; a result's latency runs from the
  * scheduled send time of the last event in it to the sink seeing it. */
object StreamWindow extends Workload {
  val Rate = 5000            // events/s in the open-loop phase
  val Chunk = 20000          // events per closed-loop request
  val Keys = 1000
  val ZipfS = 1.1
  val OutOfOrder = 0.05
  val Dropped = 0.10         // share the `filter` removes
  val WindowUs = 1000000L
  val MaxOutOfOrderUs = 200000 // all within the 0.25 s grace
  val LatencyLimitMs = 10000.0
  val BaseUs = 1700000000000000L // window-aligned epoch µs
  val StepUs: Long = 1000000L / Rate
  val OpenShare = 0.75       // of --seconds; the closed loop gets the rest
  val WarmChunks = 2

  final case class Ev(i: Int, key: Int, v: Int, u: Int, keep: Boolean, oooUs: Int) {
    def tsUs: Long = BaseUs + i.toLong * StepUs - oooUs
    def json: String =
      s"""{"k":"k$key","v":$v,"u":$u,"t":"${if (keep) "ok" else "x"}"}"""
  }

  /** The seed's event sequence, generated on demand in index order. */
  final class Events(seed: Long) {
    private val rng = new Rng(seed * 1000003L + 17L)
    private val zipf = new Zipf(Keys, ZipfS)
    val evs = mutable.ArrayBuffer.empty[Ev]
    def upTo(n: Int): Unit = while (evs.size < n) {
      val i = evs.size
      val key = zipf.sample(rng)
      val v = 1 + rng.int(1000)
      val u = rng.int(50000)
      val keep = !rng.chance(Dropped)
      val ooo = if (i > 0 && rng.chance(OutOfOrder)) 1 + rng.int(MaxOutOfOrderUs) else 0
      evs += Ev(i, key, v, u, keep, ooo)
    }
    def rows(from: Int, until: Int): Seq[KRow] = {
      upTo(until)
      (from until until).map(i => row(evs(i)))
    }
  }

  def row(e: Ev): KRow = row(e.i.toLong, e.tsUs, e.json)
  def row(offset: Long, tsUs: Long, json: String): KRow = {
    val ts = new java.sql.Timestamp(Math.floorDiv(tsUs, 1000L))
    ts.setNanos((Math.floorMod(tsUs, 1000000L) * 1000L).toInt)
    KRow("events", 0, offset, ts, null, json.getBytes("UTF-8"))
  }

  final case class Res(key: String, startUs: Long, n: Long, s: Long, d: Long,
                       seenNs: Long, batch: Long)

  val schema: StructType = StructType(Seq(
    StructField("k", StringType), StructField("v", LongType),
    StructField("u", LongType), StructField("t", StringType)))

  /** A running chain: its source, query and what the sink has seen. */
  final class Chain(spark: SparkSession, ckpt: String) {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: Encoder[KRow] = Encoders.product[KRow]
    val source: MemoryStream[KRow] = MemoryStream[KRow]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Res]
    @volatile var sent = 0L
    /** Hand-offs to the source so far; hand-off k is MemoryStream offset k. */
    var adds = 0L
    val stream: Stream = Stream.fromKafkaShaped(spark, source.toDF(), schema)
      .filter(col("value.t") === "ok")
      .map(struct(col("value.k").as("k"), (col("value.v") * 2).as("v2"),
        col("value.u").as("u")))
      // the key is aliased: an unaliased expression key trips the façade's
      // re-select by name (see perfbench/NOTES.md).
      .window("1 second", "250 milliseconds",
        Seq(count(lit(1)).as("n"), sum(col("value.v2")).as("s"),
          approx_count_distinct(col("value.u")).as("d")),
        keyed = Seq(col("value.k").as("key")))
    val query: StreamingQuery = stream.forEachBatch({ (df: DataFrame, batch: Long) =>
      Trace.span("streaming.sink", s"batch-$batch") {
        val rows = df.select(col("value.key"), col("value.n"), col("value.s"),
          col("value.d"), col("metadata.window_start")).collect()
        val now = System.nanoTime()
        rows.foreach { r =>
          val ts = r.getTimestamp(4)
          val us = ts.getTime * 1000L + (ts.getNanos / 1000) % 1000
          seen.add(Res(r.getString(0), us, r.getLong(1), r.getLong(2), r.getLong(3), now, batch))
        }
      }
    }, Some(ckpt))

    def add(rows: Seq[KRow]): Unit = { source.addData(rows: _*); sent += rows.size; adds += 1 }

    /** Send `rows` and wait until they are processed and the windows they
      * close are emitted: the data batch, then the no-data batch the
      * advanced watermark triggers. Waiting for both makes every request
      * the same unit of work whichever of the two the engine would
      * otherwise have started first. */
    def request(rows: Seq[KRow]): Unit = {
      val before = lastBatch
      add(rows)
      query.processAllAvailable()
      val deadline = System.nanoTime() + 5000000000L
      while (!query.recentProgress.exists(p => p.batchId > before && p.numInputRows == 0) &&
        System.nanoTime() < deadline && query.isActive) Thread.sleep(1)
    }
    private def lastBatch: Long = Option(query.lastProgress).map(_.batchId).getOrElse(-1L)
    def stop(): Unit = stream.stop()
  }

  final case class Expect(n: Long, s: Long, lastIdx: Int)

  /** Exact per-(key, window) count, sum and last event index of `evs`. */
  def expected(evs: Seq[Ev]): Map[(String, Long), Expect] = {
    val m = mutable.HashMap.empty[(String, Long), Expect]
    evs.foreach { e =>
      if (e.keep) {
        val k = (s"k${e.key}", Math.floorDiv(e.tsUs, WindowUs) * WindowUs)
        val p = m.getOrElse(k, Expect(0, 0, -1))
        m(k) = Expect(p.n + 1, p.s + 2L * e.v, math.max(p.lastIdx, e.i))
      }
    }
    m.toMap
  }

  /** The closing event's key: an hour ahead in event time, it moves the
    * watermark past every other window; its own window never closes. */
  val CloseKey = "close"

  def closeRow(lastIdx: Int): KRow =
    row(lastIdx.toLong + 1, BaseUs + lastIdx.toLong * StepUs + 3600L * 1000000L,
      s"""{"k":"$CloseKey","v":1,"u":0,"t":"ok"}""")

  /** Send the closing event and wait until every expected window (or the
    * timeout) has reached the sink. */
  def flush(c: Chain, lastIdx: Int, want: Int): Unit = {
    c.add(Seq(closeRow(lastIdx)))
    c.query.processAllAvailable()
    val deadline = System.nanoTime() + 20000000000L
    while (c.seen.size < want && System.nanoTime() < deadline &&
      c.query.isActive) Thread.sleep(20)
  }

  /** A chain warmed by `WarmChunks` closed-loop requests (events
    * [0, WarmChunks · Chunk)). */
  def warmChain(ctx: Ctx, ev: Events): Chain = {
    val c = new Chain(ctx.spark, ctx.freshDir("ckpt"))
    (0 until WarmChunks).foreach(k => c.request(ev.rows(k * Chunk, (k + 1) * Chunk)))
    c
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    ctx.start(ctx.args.cpus)
    val openS = ctx.args.seconds * OpenShare
    val closedS = ctx.args.seconds - openS
    val openFrom = WarmChunks * Chunk
    val openUntil = openFrom + (openS * Rate).toInt

    // ---- set-up: input generation, a query started and warmed by one
    // chunk, three times; the last query carries on into the measurement
    var ev: Events = null
    var c: Chain = null
    val prep = (1 to 3).map { rep =>
      Log(s"set-up $rep")
      if (c != null) c.stop()
      Clock.secs {
        ev = new Events(ctx.args.seed)
        ev.upTo(openUntil)
        c = warmChain(ctx, ev)
      }._2
    }
    val setupS = (System.currentTimeMillis() - ctx.launchEpochMs) / 1000.0 -
      prep.sum + Stats.median(prep)
    Heap.sample()

    // ---- open loop at Rate
    val jobsFailed0 = ctx.failedJobs()
    val p0 = ctx.progress.size
    Log("open loop")
    ev.upTo(openUntil)
    val gen = new OpenLoop(openFrom, openUntil, StepUs * 1000L,
      (a, b) => c.add(ev.rows(a, b)),
      () => OpenLoop.endOffset(c.query) >= c.adds - 1,
      () => math.max(0L, c.sent - ctx.progress.inputRows(c.query.id))).run()
    val wall0 = gen.wall0
    c.query.processAllAvailable()
    val latSeen = c.seen.toArray(Array.empty[Res]).toSeq
    val pLat = ctx.progress.since(p0)

    // ---- closed loop
    val eng = if (ctx.args.trace) Some(EngineWindow.open(ctx.spark, ctx.engine)) else None
    val p1 = ctx.progress.size
    Log("closed loop")
    val (tpRps, chunks, total) = closedLoop(c, ev, openUntil, closedS)
    val engine = eng.map(_.close())
    val pTp = ctx.progress.since(p1)
    val jobsFailed = ctx.failedJobs() - jobsFailed0
    if (jobsFailed > 0) out.fail(s"$jobsFailed Spark jobs failed", jobsFailed)
    val lateDropped = (pLat ++ pTp).filter(_.id == c.query.id)
      .flatMap(_.stateOperators.toSeq).map(_.numRowsDroppedByWatermark).sum
    if (lateDropped > 0) out.fail(s"the watermark dropped $lateDropped rows", lateDropped)
    Heap.sample()

    Log("flush")
    val want = expected(ev.evs.take(total).toSeq)
    flush(c, total - 1, want.size)
    c.stop()

    // ---- correctness: every window equals what the seed implies
    Log("verify")
    val got = c.seen.toArray(Array.empty[Res]).toSeq
    verify(want, approxDistinct(ctx.spark, ev.evs.take(total).toSeq), got, out)

    // ---- latency: windows whose last event the open loop sent, as the
    // sink saw them before the closed loop began
    val lat = latSeen.flatMap { r =>
      want.get((r.key, r.startUs)).filter(e => e.lastIdx >= openFrom && e.lastIdx < openUntil)
        .map(e => (r.seenNs - (wall0 + (e.lastIdx - openFrom).toLong * StepUs * 1000L)) / 1e6)
    }
    val past = lat.count(_ > LatencyLimitMs)
    if (past > 0) out.fail(s"$past window results past the $LatencyLimitMs ms limit", past)
    val valid = gen.valid(Rate.toLong)
    if (!valid) out.fail(f"open loop invalid: generator late ${gen.lateMsMax}%.1f ms, " +
      s"backlog grew ${gen.backlogGrew(Rate.toLong)}")

    out.metric("setup_s", setupS, "s")
    out.metric("throughput_rps", tpRps, "1/s")
    out.metric("latency_p50_ms", Stats.quantile(lat, 0.5), "ms")
    out.metric("latency_p99_ms", Stats.quantile(lat, 0.99), "ms")
    out.metric("peak_heap_mb", Heap.peakMb, "MB")
    out.record("latency_samples") = lat.size
    out.record("chunk_s") = chunks
    out.record("rates") = Map("open_loop_eps" -> Rate, "chunk_events" -> Chunk,
      "open_loop_s" -> openS, "closed_loop_s" -> closedS)
    out.record("sizes") = Map("open_loop_events" -> (openUntil - openFrom),
      "events_total" -> total, "keys" -> Keys, "windows_checked" -> want.size)
    out.record("prep_s") = prep
    out.record("open_loop_batches") = pLat.filter(_.id == c.query.id).map(p =>
      Seq(p.numInputRows.toDouble, p.durationMs.get("triggerExecution").doubleValue,
        p.durationMs.getOrDefault("addBatch", 0L).doubleValue))
    out.record("validity") = Map("valid" -> valid, "gen_late_ms_max" -> gen.lateMsMax,
      "backlog_grew" -> gen.backlogGrew(Rate.toLong), "backlog_max_rows" -> gen.backlogMax)
    val sent = ev.evs.take(total)
    out.record("input_shape") = Map(
      "out_of_order_share" -> sent.count(_.oooUs > 0).toDouble / sent.size,
      "dropped_share" -> sent.count(!_.keep).toDouble / sent.size,
      "top_key_share" -> sent.count(_.key == 0).toDouble / sent.size,
      "top10_key_share" -> sent.count(_.key < 10).toDouble / sent.size)

    if (ctx.args.trace) {
      Layers.streaming(out, pLat ++ pTp)
      out.metric("streaming.backlog_max_rows", gen.backlogMax.toDouble, "rows")
      out.metric("gen.late_ms_max", gen.lateMsMax, "ms")
      engine.foreach(m => Layers.engine(out, m, math.max(1, pTp.count(_.numInputRows > 0))))
      traceExtras(ctx, out, closedS)
    }
  }

  /** Closed loop from event `from`: one client sends a chunk and waits for
    * it to complete, for `seconds`. Returns (median chunk events/s, chunk
    * seconds, next index). */
  def closedLoop(c: Chain, ev: Events, from: Int, seconds: Double): (Double, Seq[Double], Int) = {
    var next = from
    val took = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds || took.size < 3) {
      val rows = ev.rows(next, next + Chunk)
      took += Clock.secs(Trace.span("streaming.chunk", s"chunk-${took.size}") {
        c.request(rows)
      })._2
      next += Chunk
    }
    (Chunk / Stats.median(took), took.toSeq, next)
  }

  /** Expected approx_count_distinct per window: the same HLL++ sketch over
    * the same rows in one batch aggregation (HLL merges are max-of-register,
    * so the streamed value must equal it exactly). */
  def approxDistinct(spark: SparkSession, evs: Seq[Ev]): Map[(String, Long), Long] = {
    import spark.implicits._
    evs.filter(_.keep).map(e => (s"k${e.key}", Math.floorDiv(e.tsUs, WindowUs) * WindowUs, e.u.toLong))
      .toDF("key", "w", "u").groupBy("key", "w").agg(approx_count_distinct(col("u")))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
  }

  def verify(want: Map[(String, Long), Expect], hll: Map[(String, Long), Long],
             got: Seq[Res], out: Outcome): Unit = {
    val real = got.filter(_.key != CloseKey)
    val byKey = real.groupBy(r => (r.key, r.startUs))
    out.attempted += want.size
    var bad = 0L
    want.foreach { case (k, e) =>
      byKey.get(k) match {
        case None => bad += 1; if (bad <= 3) out.errors += s"window $k missing"
        case Some(rs) =>
          val r = rs.head
          if (rs.size != 1 || r.n != e.n || r.s != e.s || !hll.get(k).contains(r.d)) {
            bad += 1
            if (bad <= 3) out.errors += s"window $k: got (${r.n},${r.s},${r.d}) x${rs.size} " +
              s"want (${e.n},${e.s},${hll.get(k)})"
          }
      }
    }
    val extra = byKey.keySet.diff(want.keySet).size
    if (extra > 0) out.errors += s"$extra unexpected windows"
    out.failed += bad + extra
  }

  /** Traced run only: tracing overhead (closed loops untraced, then
    * traced, on one warmed query) and the single-core baseline on
    * `local[1]`. */
  private def traceExtras(ctx: Ctx, out: Outcome, seconds: Double): Unit = {
    val ev = new Events(ctx.args.seed)
    val c = warmChain(ctx, ev)
    Trace.on = false
    val (untraced, _, next) = closedLoop(c, ev, WarmChunks * Chunk, seconds / 2)
    Trace.on = true
    val (traced, _, _) = closedLoop(c, ev, next, seconds / 2)
    c.stop()
    out.metric("trace.overhead_pct", (untraced / traced - 1.0) * 100.0, "%")
    ctx.start(1)
    val ev1 = new Events(ctx.args.seed)
    val c1 = warmChain(ctx, ev1)
    out.metric("baseline.local1_throughput_rps",
      closedLoop(c1, ev1, WarmChunks * Chunk, seconds)._1, "1/s")
    c1.stop()
  }
}
