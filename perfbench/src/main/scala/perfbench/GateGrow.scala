package perfbench

import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{BloomDedup, TextDedup}
import graft.streaming.{DedupIngest, Gate, Stream}

/** gate_grow: a document stream through the self-growing dedup gate
  * (`DedupIngest.startGatedGrowing`) in parquet staging mode
  * (`graft.stage.dir`), against an index built once from a generated
  * 20,000-doc corpus. Stream docs: 20% exact copies of corpus docs, 20%
  * one-word perturbations of other corpus docs, 60% novel. Each corpus doc
  * is the source of at most one stream doc, so the exact pairs are known
  * from the seed whatever the batch boundaries. */
object GateGrow extends Workload {
  val CorpusDocs = 20000
  val Rate = 200              // docs/s in the open-loop phase
  val Chunk = 5000            // docs per closed-loop request
  val WarmDocs = 500
  val LatencyLimitMs = 60000.0
  val IdBase = 1000000L
  val Capacity = 200000L      // bloom capacity for the ingest horizon

  /** kind: 0 novel, 1 exact copy of `src`, 2 near copy of `src`. */
  final case class Doc(id: Long, text: String, kind: Int, src: Long)

  final class Inputs(seed: Long) {
    private val rng = new Rng(seed * 7919L + 3L)
    val corpus: Array[String] = Docs.distinctTexts(rng, CorpusDocs)
    private val perm = Docs.permutation(rng, CorpusDocs)
    private var copies, nears = 0
    val docs = mutable.ArrayBuffer.empty[Doc]
    /** Novel warm-up docs: they fold into the index but match nothing. */
    def warm(rep: Int): Seq[Doc] = {
      val r = new Rng(seed * 31L + rep)
      (0 until WarmDocs).map(i => Doc(IdBase / 2 + rep * WarmDocs + i, Docs.text(r), 0, -1))
    }
    def upTo(n: Int): Unit = while (docs.size < n) {
      val j = docs.size
      val id = IdBase + j
      val u = rng.double()
      docs += (
        if (u < 0.2 && 2 * copies < CorpusDocs) {
          val src = perm(2 * copies); copies += 1
          Doc(id, corpus(src), 1, src)
        } else if (u < 0.4 && 2 * nears + 1 < CorpusDocs) {
          val src = perm(2 * nears + 1); nears += 1
          Doc(id, Docs.perturb(rng, corpus(src), s"zq$j"), 2, src)
        } else Doc(id, Docs.text(rng), 0, -1))
    }
    def slice(from: Int, until: Int): Seq[Doc] = { upTo(until); docs.slice(from, until).toSeq }
  }

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  def krow(d: Doc): KRow = KRow("docs", 0, d.id, new java.sql.Timestamp(0L), null,
    s"""{"doc_id":${d.id},"text":"${d.text}"}""".getBytes("UTF-8"))

  final case class BatchOut(batch: Long, exact: Seq[(Long, Long)],
                            near: Seq[(Long, Long)], seenNs: Long)

  /** A running gate: its source, query and what the sink has seen. Docs
    * are recorded in send order with their scheduled send time (or -1). */
  final class Chain(spark: SparkSession, val state: AtomicReference[DedupIngest.GrowingState],
                    ckpt: String) {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: Encoder[KRow] = Encoders.product[KRow]
    val source: MemoryStream[KRow] = MemoryStream[KRow]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[BatchOut]
    val sent = mutable.ArrayBuffer.empty[(Doc, Long)]
    /** The end (exclusive doc index) of each `addData` call: MemoryStream
      * offset k is the k-th call. */
    val addEnds = mutable.ArrayBuffer.empty[Int]
    val stream: Stream = Stream.fromKafkaShaped(spark, source.toDF(), schema)
    val query = DedupIngest.startGatedGrowing(stream, state, "value.doc_id", "value.text",
      checkpoint = Some(ckpt)) { (exact, near, _, batch) =>
      Trace.span("gate.sink", s"batch-$batch") {
        val ex = exact.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        val nr = near.select(col("da"), col("db")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
        seen.add(BatchOut(batch, ex, nr, System.nanoTime()))
      }
    }
    def add(ds: Seq[Doc], schedNs: Long => Long): Unit = {
      source.addData(ds.map(krow): _*)
      ds.foreach(d => sent += ((d, schedNs(d.id))))
      addEnds += sent.size
    }
    /** Docs in finished batches, from the last progress's end offset. */
    def processed: Int = Option(query.lastProgress).flatMap(p => offsetOf(p.sources.head.endOffset))
      .map(o => addEnds(o.toInt)).getOrElse(0)
    def sync(): Unit = query.processAllAvailable()
    def stop(): Unit = stream.stop()
  }

  /** Build the index in a fresh staging dir and start a gate on it, warmed
    * by one batch of novel docs. */
  def prepare(ctx: Ctx, in: Inputs, rep: Int): Chain = {
    val spark = ctx.spark
    spark.conf.set("graft.stage.dir", ctx.freshDir("stage"))
    import spark.implicits._
    val corpus = in.corpus.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val st = Trace.span("gate.build_index", s"setup-$rep") {
      DedupIngest.buildGrowingState(corpus, "doc_id", "text", capacityItems = Capacity)
    }
    val c = new Chain(spark, new AtomicReference(st), ctx.freshDir("ckpt"))
    c.add(in.warm(rep), _ => -1L)
    c.sync()
    c
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    ctx.start(ctx.args.cpus)
    val half = ctx.args.seconds / 2.0
    val latN = (half * Rate).toInt

    // ---- set-up: inputs, index build and a warm-up batch, three times;
    // the last one's gate carries on into the measured phases.
    var chain: Chain = null
    var in: Inputs = null
    val prep = (1 to 3).map { rep =>
      Log(s"set-up $rep")
      if (chain != null) chain.stop()
      Clock.secs {
        in = new Inputs(ctx.args.seed)
        in.upTo(latN + 4 * Chunk)
        chain = prepare(ctx, in, rep)
      }._2
    }
    val c = chain
    val setupS = (System.currentTimeMillis() - ctx.launchEpochMs) / 1000.0 -
      prep.sum + Stats.median(prep)
    Heap.sample()

    // ---- open loop
    Log("open loop")
    val jobsFailed0 = ctx.failedJobs()
    val p0 = ctx.progress.size
    in.upTo(latN)
    var gen: OpenLoop = null
    gen = new OpenLoop(0, latN, 1000000000L / Rate,
      (a, b) => c.add(in.slice(a, b), id => gen.due((id - IdBase).toInt)),
      () => OpenLoop.endOffset(c.query) >= c.addEnds.size - 1,
      () => math.max(0L, c.sent.size - c.processed).toLong)
    gen.run()
    c.sync()
    val pLat = ctx.progress.since(p0)

    // ---- closed loop
    Log("closed loop")
    val eng = if (ctx.args.trace) Some(EngineWindow.open(ctx.spark, ctx.engine)) else None
    val p1 = ctx.progress.size
    val (rps, chunks, next) = closedLoop(c, in, latN, half)
    val engine = eng.map(_.close())
    val pTp = ctx.progress.since(p1)
    val jobsFailed = ctx.failedJobs() - jobsFailed0
    if (jobsFailed > 0) out.fail(s"$jobsFailed Spark jobs failed", jobsFailed)
    Heap.sample()

    // ---- correctness: the exact pairs are the generator's ground truth
    Log("verify")
    val outs = c.seen.toArray(Array.empty[BatchOut]).toSeq
    val exact = outs.flatMap(_.exact)
    val near = outs.flatMap(_.near).toSet
    val measured = c.sent.map(_._1).filter(_.id >= IdBase)
    val want = measured.filter(_.kind == 1).map(d => (d.id, d.src)).toSet
    val got = exact.toSet
    out.attempted += measured.size
    val missing = want.diff(got)
    val spurious = got.diff(want)
    if (missing.nonEmpty || spurious.nonEmpty || exact.size != got.size)
      out.fail(s"exact pairs: ${missing.size} missing, ${spurious.size} spurious, " +
        s"${exact.size - got.size} repeated (e.g. ${missing.take(2)} ${spurious.take(2)})",
        missing.size + spurious.size + (exact.size - got.size))

    // ---- latency per doc: the sink seeing its batch − its scheduled send
    val lat = docLatencies(c, ctx.progress)
    val past = lat.count(_ > LatencyLimitMs)
    if (past > 0) out.fail(s"$past docs past the $LatencyLimitMs ms limit", past)
    val valid = gen.valid(Rate.toLong)
    if (!valid) out.fail(f"open loop invalid: generator late ${gen.lateMsMax}%.1f ms, " +
      s"backlog grew ${gen.backlogGrew(Rate.toLong)}")

    out.metric("setup_s", setupS, "s")
    out.metric("throughput_rps", rps, "1/s")
    out.metric("latency_p50_ms", Stats.quantile(lat, 0.5), "ms")
    out.metric("latency_p99_ms", Stats.quantile(lat, 0.99), "ms")
    out.metric("peak_heap_mb", Heap.peakMb, "MB")
    out.record("latency_samples") = lat.size
    out.record("throughput_chunks") = chunks
    out.record("rates") = Map("open_loop_dps" -> Rate, "chunk_docs" -> Chunk)
    out.record("sizes") = Map("corpus_docs" -> CorpusDocs, "open_loop_docs" -> latN,
      "stream_docs" -> measured.size, "warm_docs" -> WarmDocs)
    out.record("prep_s") = prep
    out.record("validity") = Map("valid" -> valid, "gen_late_ms_max" -> gen.lateMsMax,
      "backlog_grew" -> gen.backlogGrew(Rate.toLong), "backlog_max_rows" -> gen.backlogMax)
    out.record("input_shape") = Map(
      "exact_dup_share" -> measured.count(_.kind == 1).toDouble / measured.size,
      "near_dup_share" -> measured.count(_.kind == 2).toDouble / measured.size,
      "novel_share" -> measured.count(_.kind == 0).toDouble / measured.size)
    out.record("batches") = outs.size

    if (ctx.args.trace) {
      Layers.streaming(out, pLat ++ pTp)
      out.metric("streaming.backlog_max_rows", gen.backlogMax.toDouble, "rows")
      out.metric("gen.late_ms_max", gen.lateMsMax, "ms")
      engine.foreach(m => Layers.engine(out, m, math.max(1, pTp.count(_.numInputRows > 0))))
      val nearDocs = measured.filter(_.kind == 2)
      out.metric("gate.exact_recall",
        if (want.isEmpty) 1.0 else want.intersect(got).size.toDouble / want.size, "ratio")
      out.metric("gate.near_recall", if (nearDocs.isEmpty) 0.0
        else nearDocs.count(d => near((d.id, d.src))).toDouble / nearDocs.size, "ratio")
      gateLayers(ctx, out, c, in)
      Trace.on = false
      val (untraced, _, next2) = closedLoop(c, in, next, half / 2)
      Trace.on = true
      val (traced, _, _) = closedLoop(c, in, next2, half / 2)
      out.metric("trace.overhead_pct", (untraced / traced - 1.0) * 100.0, "%")
      c.stop()
      ctx.start(1)
      val in1 = new Inputs(ctx.args.seed)
      val c1 = prepare(ctx, in1, 9)
      out.metric("baseline.local1_throughput_rps", closedLoop(c1, in1, 0, half)._1, "1/s")
      c1.stop()
    } else c.stop()
  }

  /** Closed loop from doc `from`: one client sends a chunk and waits for
    * it, for `seconds`. Returns (docs/s, chunks, next doc index). */
  def closedLoop(c: Chain, in: Inputs, from: Int, seconds: Double): (Double, Int, Int) = {
    var next = from
    var chunks = 0
    var busyNs = 0L
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds || chunks < 2) {
      val ds = in.slice(next, next + Chunk)
      val s0 = System.nanoTime()
      Trace.span("gate.chunk", s"chunk-$chunks") { c.add(ds, _ => -1L); c.sync() }
      busyNs += System.nanoTime() - s0
      next += Chunk; chunks += 1
    }
    (chunks.toLong * Chunk / (busyNs / 1e9), chunks, next)
  }

  def offsetOf(o: String): Option[Long] =
    Option(o).flatMap(x => scala.util.Try(x.trim.toLong).toOption)

  /** Each open-loop doc's latency: the sink seeing the batch that took it
    * (batches cover MemoryStream offsets (start, end]) − its scheduled
    * send time. */
  def docLatencies(c: Chain, progress: ProgressListener): Seq[Double] = {
    val seenAt = c.seen.toArray(Array.empty[BatchOut]).map(b => b.batch -> b.seenNs).toMap
    val lat = mutable.ArrayBuffer.empty[Double]
    progress.since(0).filter(_.id == c.query.id).foreach { p =>
      val s = p.sources.head
      val from = offsetOf(s.startOffset).map(o => c.addEnds(o.toInt)).getOrElse(0)
      val until = offsetOf(s.endOffset).map(o => c.addEnds(o.toInt)).getOrElse(0)
      seenAt.get(p.batchId).foreach { seen =>
        (from until until).foreach { k =>
          val sched = c.sent(k)._2
          if (sched >= 0) lat += (seen - sched) / 1e6
        }
      }
    }
    lat.toSeq
  }

  /** Per-layer gate numbers from the library's public calls, on batches
    * captured from the stream (1,000 docs each, in the stream's shape). */
  private def gateLayers(ctx: Ctx, out: Outcome, c: Chain, in: Inputs): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val st = c.state.get()
    val scratch = ctx.freshDir("fold-scratch")
    val probe, fold, bloom, reopen, lsh, sig = mutable.ArrayBuffer.empty[Double]
    var cands, settled = 0L
    val docs = c.sent.map(_._1).filter(_.id >= IdBase)
    (0 until 3).foreach { b =>
      val slice = docs.slice(b * 1000, (b + 1) * 1000)
      val batch = slice.map(d => (d.id, d.text)).toSeq.toDF("doc_id", "text")
        .select(struct(col("doc_id"), col("text")).as("value")).cache()
      batch.count()
      val g = s"captured-$b"
      probe += Clock.secs(Trace.span("gate.probe", g) {
        val (ex, nr) = DedupIngest.gateBatch(batch, st.cs, "value.doc_id", "value.text")
        settled += ex.count(); nr.collect()
      })._2 * 1000
      val dg = batch.select(col("value.doc_id").as("db"), md5(col("value.text")).as("__digest"))
      cands += BloomDedup.probe(dg, "__digest", st.cs.exactFilter).count()
      val sh = TextDedup.shingleProjection(batch, "value.doc_id", "value.text", st.cs.index.n)
      fold += Clock.secs(Trace.span("gate.fold_write", g) {
        Gate.growDir(sh, scratch, b.toLong)
      })._2 * 1000
      bloom += Clock.secs(Trace.span("gate.bloom_build", g) {
        BloomDedup.mergeFilters(st.cs.exactFilter,
          BloomDedup.buildFilter(dg, "__digest", st.expectedItems, st.fpp))
      })._2 * 1000
      reopen += Clock.secs(Trace.span("gate.state_reopen", g) {
        Seq(st.shingledPath, st.bandPath, st.digestsPath, st.tombstonesPath)
          .map(p => Gate.readGrown(spark, p).inputFiles.length).sum
      })._2 * 1000
      lsh += Clock.secs(Trace.span("op.minhash_lsh", g) {
        TextDedup.minhashLshPairsAgainstIndex(sh, st.cs.index.shingled, st.cs.index.bandKeys,
          st.cs.index.k, st.cs.index.bands, 0.5, None).write.format("noop").mode("overwrite").save()
      })._2
      sig += Clock.secs(Trace.span("functions.minhash_sig", g) {
        sh.select(expr(s"minhash_sig(sh, ${st.cs.index.k})"))
          .write.format("noop").mode("overwrite").save()
      })._2
      batch.unpersist()
    }
    out.metric("gate.probe_ms_p50", Stats.median(probe), "ms")
    out.metric("gate.fold_write_ms_p50", Stats.median(fold), "ms")
    out.metric("gate.bloom_build_ms_p50", Stats.median(bloom), "ms")
    out.metric("gate.state_reopen_ms_p50", Stats.median(reopen), "ms")
    out.metric("gate.bloom_precision", if (cands == 0) 1.0 else settled.toDouble / cands, "ratio")
    out.metric("op.minhash_lsh_s", Stats.median(lsh), "s")
    out.metric("functions.minhash_sig_s", Stats.median(sig), "s")
  }
}
