package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** curate_batch: back-to-back passes of the registry's `x_pipeline_modern`
  * then `x_pipeline_warc` over a generated `documents`/`embeddings` corpus
  * (10% exact and 10% near duplicates), with a cleared cache before each
  * query. A pass's output is checked against the DuckDB oracle once (by
  * the Python wrapper) and every later pass against it by digest. */
object CurateBatch extends Workload {
  val DocsN = 2000
  val Queries = Seq("x_pipeline_modern", "x_pipeline_warc")

  /** Write the seed's corpus as `documents.parquet` and `embeddings.parquet`
    * under `dir`; returns (exact dup share, near dup share). */
  def writeCorpus(spark: SparkSession, seed: Long, dir: String): (Double, Double) = {
    import spark.implicits._
    val r = new Rng(seed * 104729L + 11L)
    val texts = new Array[String](DocsN)
    var exact, near = 0
    (0 until DocsN).foreach { i =>
      val u = r.double()
      texts(i) =
        if (i > 0 && u < 0.1) { exact += 1; texts(r.int(i)) }
        else if (i > 0 && u < 0.2) { near += 1; Docs.perturb(r, texts(r.int(i)), Docs.Vocab(r.int(30))) + " dup" }
        else Docs.text(r)
    }
    val docs = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, Docs.lang(r), s"src${i % 20}", t.length.toLong)
    }
    docs.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(1).write.parquet(s"$dir/documents.parquet")
    val centers = Array.fill(10)(Array.fill(64)(r.gaussian()))
    val embs = (0 until DocsN * 2 / 5).map { i =>
      val label = r.int(10)
      (i.toLong, Docs.unitVector(r, centers(label), 0.8).toSeq, label)
    }
    embs.toDF("vec_id", "embedding", "label").repartition(1)
      .write.parquet(s"$dir/embeddings.parquet")
    (exact.toDouble / DocsN, near.toDouble / DocsN)
  }

  /** One query: build (inside `SparkEntry.queries(name)`), then execute and
    * collect. Returns (rows, build s, exec s). */
  def runQuery(spark: SparkSession, name: String, dir: String): (Array[Row], DataFrame, Double, Double) = {
    spark.sharedState.cacheManager.clearCache()
    val (df, build) = Clock.secs(Trace.span(s"queries.build.$name", name) {
      SparkEntry.queries(name)(spark, dir)
    })
    val (rows, exec) = Clock.secs(Trace.span(s"queries.exec.$name", name) {
      spark.sparkContext.setJobDescription(s"curate:$name")
      try df.collect() finally spark.sparkContext.setJobDescription(null)
    })
    (rows, df, build, exec)
  }

  /** Order-insensitive digest of a query's output rows. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.start(ctx.args.cpus)
    graft.functions.GraftFunctions.ensureRegistered(spark)

    // ---- set-up: corpus generation three times (median), then one
    // warm-up pass whose output the oracle checks
    var dir = ""
    var shares = (0.0, 0.0)
    val gen = (1 to 3).map { rep =>
      Log(s"set-up $rep")
      Clock.secs {
        dir = ctx.freshDir("corpus")
        shares = writeCorpus(spark, ctx.args.seed, dir)
      }._2
    }
    Log("warm-up pass")
    val want = mutable.LinkedHashMap.empty[String, String]
    val (_, warmS) = Clock.secs {
      Queries.foreach { q =>
        val (rows, df, _, _) = runQuery(spark, q, dir)
        want(q) = digest(rows)
        val got = ctx.freshDir(s"out-$q")
        spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(got)
        out.pending += Map("query" -> q, "sql" -> SparkEntry.oracleSql(q), "dir" -> dir,
          "tables" -> Seq("documents", "embeddings"), "got" -> got, "seed" -> ctx.args.seed)
      }
    }
    val setupS = (System.currentTimeMillis() - ctx.launchEpochMs) / 1000.0 -
      gen.sum + Stats.median(gen)
    Heap.sample()

    // ---- timed passes: at least two, for --seconds
    Log("passes")
    val jobsFailed0 = ctx.failedJobs()
    val passes = timedPasses(ctx, out, dir, want, ctx.args.seconds, minPasses = 2)
    val jobsFailed = ctx.failedJobs() - jobsFailed0
    if (jobsFailed > 0) out.fail(s"$jobsFailed Spark jobs failed", jobsFailed)
    Heap.sample()
    val walls = passes.map(_.wall)

    out.metric("setup_s", setupS, "s")
    out.metric("throughput_rps", DocsN / Stats.median(walls), "1/s")
    out.metric("latency_p50_ms", Stats.quantile(walls, 0.5) * 1000, "ms")
    out.metric("latency_p99_ms", Stats.quantile(walls, 0.99) * 1000, "ms")
    out.metric("peak_heap_mb", Heap.peakMb, "MB")
    out.record("latency_samples") = walls.size
    out.record("pass_s") = walls
    out.record("warm_pass_s") = warmS
    out.record("corpus_gen_s") = gen
    out.record("sizes") = Map("docs" -> DocsN, "embeddings" -> DocsN * 2 / 5)
    out.record("input_shape") = Map("exact_dup_share" -> shares._1, "near_dup_share" -> shares._2)
    Queries.foreach { q =>
      out.record(s"build_s.$q") = passes.map(_.build(q))
      out.record(s"exec_s.$q") = passes.map(_.exec(q))
    }

    if (ctx.args.trace) {
      val jobs = passes.head.jobs
      Queries.foreach { q =>
        out.metric(s"curate.build_s.$q", Stats.median(passes.map(_.build(q))), "s")
        out.metric(s"curate.exec_s.$q", Stats.median(passes.map(_.exec(q))), "s")
        out.metric(s"curate.jobs.$q", jobs(q), "count")
      }
      passes.flatMap(_.engine).headOption.foreach(m => Layers.engine(out, m, 1))
      opLayers(spark, out, dir, ctx)
      Trace.on = false
      val untraced = timedPasses(ctx, out, dir, want, 0, minPasses = 1).map(_.wall)
      Trace.on = true
      out.metric("trace.overhead_pct", (Stats.median(walls) / Stats.median(untraced) - 1) * 100, "%")
      ctx.start(1)
      graft.functions.GraftFunctions.ensureRegistered(ctx.spark)
      val one = timedPasses(ctx, out, dir, want, 0, minPasses = 1).map(_.wall)
      out.metric("baseline.local1_throughput_rps", DocsN / Stats.median(one), "1/s")
    }
  }

  final case class Pass(wall: Double, build: Map[String, Double], exec: Map[String, Double],
                        jobs: Map[String, Double], engine: Option[Map[String, Double]])

  def timedPasses(ctx: Ctx, out: Outcome, dir: String, want: collection.Map[String, String],
                  seconds: Double, minPasses: Int): Seq[Pass] = {
    val spark = ctx.spark
    val passes = mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    while (passes.size < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val i = passes.size
      val eng = if (Trace.on) Some(EngineWindow.open(spark, ctx.engine)) else None
      val build, exec, jobs = mutable.Map.empty[String, Double]
      var wall = 0.0
      Queries.foreach { q =>
        val j0 = if (Trace.on) { Bus.drain(spark); ctx.engine.snap().jobs } else 0L
        val ((rows, _, b, e), w) = Clock.secs(Trace.span(s"curate.pass", s"pass-$i") {
          runQuery(spark, q, dir)
        })
        wall += w; build(q) = b; exec(q) = e
        if (Trace.on) { Bus.drain(spark); jobs(q) = (ctx.engine.snap().jobs - j0).toDouble }
        out.attempted += 1
        if (digest(rows) != want(q)) out.fail(s"pass $i of $q differs from the checked output")
      }
      passes += Pass(wall, build.toMap, exec.toMap, jobs.toMap, eng.map(_.close()))
    }
    passes.toSeq
  }

  /** Per-operator seconds on the curate corpus: each library call alone,
    * executed through the `noop` sink. */
  private def opLayers(spark: SparkSession, out: Outcome, dir: String, ctx: Ctx): Unit = {
    import graft.operators._
    import graft.sources.{Tables, Warc}
    def noop(df: => DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def time(name: String)(body: => Unit): Unit =
      out.metric(name, Clock.secs(Trace.span(name, "ops")(body))._2, "s")
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"), col("source"))
    val emb = Tables.embeddings(spark, dir).select(col("vec_id").as("id"), col("embedding"))
    val pages = docs.select(col("doc_id"),
      concat(lit("https://site.example/d/"), col("doc_id").cast("string")).as("url"),
      concat(lit("<html><body><p>"), col("text"), lit("</p><p>mail admin"),
        col("doc_id").cast("string"), lit("@site.example</p></body></html>")).as("__html"))
    time("op.repeated_spans_s")(noop(TextDedup.repeatedSpans(docs, "doc_id", "text", k = 8)))
    time("op.quality_classifier_s")(noop(Ranking.qualityClassifier(docs, "doc_id", "text",
      isPositive = col("source").isin("src0", "src1", "src2"))))
    val sh = Tables.stage(TextDedup.shingleRelation(docs, "doc_id", "text", 3))
    var pairs: DataFrame = null
    time("op.minhash_lsh_s") {
      pairs = Tables.stage(TextDedup.minhashLshPairs(sh, k = 12, bands = 4, threshold = 0.5))
    }
    time("op.connected_components_s")(noop(Graph.connectedComponents(pairs, "da", "db")))
    time("op.semantic_dedup_s")(noop(Ann.semanticDedup(emb, emb.filter(col("id") < 8), 0.45)))
    time("op.html_extract_s")(noop(Html.extractText(pages, "doc_id", "__html")))
    time("op.pii_redact_s")(noop(Pii.withRedacted(pages, "__html", out = "rtext")))
    time("op.bigram_lm_s")(noop(Ranking.ngramLm(Ranking.bigramFrequencies(docs, "doc_id", "text"))._1))
    time("sources.stage_s")(noop(Tables.stage(docs.withColumn("n", length(col("text"))))))
    time("sources.warc_roundtrip_s")(noop(Warc.roundTrip(pages, "url", "__html",
      ctx.freshDir("warc"), files = 4)))
    time("functions.minhash_sig_s")(noop(sh.select(expr("minhash_sig(sh, 12)"))))
  }
}
