package perfbench

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the run's arguments, its own
  * listeners, a scratch directory inside the run's work dir. */
final class Ctx(val args: Args, val launchEpochMs: Long) {
  val engine = new EngineListener
  val progress = new ProgressListener
  private var current: SparkSession = _
  def spark: SparkSession = current

  /** (Re)start the session on `local[cpus]`, settings mirroring the
    * library's own bench entry point. */
  def start(cpus: Int): SparkSession = {
    if (current != null) stop()
    current = Session.local(cpus, args.work)
    current.sparkContext.addSparkListener(engine)
    current.streams.addListener(progress)
    current
  }
  def stop(): Unit = if (current != null) {
    current.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    current = null
  }

  /** Spark jobs that failed so far (a failed operation each). */
  def failedJobs(): Long = { Bus.drain(spark); engine.snap().jobsFailed }

  private val dirs = new java.util.concurrent.atomic.AtomicInteger
  /** A fresh directory under the run's work dir (removed with it). */
  def freshDir(tag: String): String = {
    val d = new java.io.File(args.work, s"$tag-${dirs.incrementAndGet()}")
    d.mkdirs()
    d.getAbsolutePath
  }
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      out: String, work: String, traceOut: String, cpus: Int)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("out"), need("work"),
      m.getOrElse("trace-out", ""),
      m.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
  }
}

object Session {
  /** The session settings the record reports; the same ones `graft.Bench`
    * builds its session with. */
  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.pushdown.inFilterThreshold" -> "256",
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    "spark.ui.enabled" -> "false")

  def local(cpus: Int, work: String): SparkSession = {
    val local = new java.io.File(work, "spark-local")
    local.mkdirs()
    val b = SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
    val s = settings(cpus).foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f] $msg")
}

object Bus {
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

/** Entry point: `--workload --seed --seconds --trace --out --work
  * [--trace-out] [--launch-ms] [--cpus]`. Writes one JSON result to
  * `--out`; the Python wrapper turns it into the benchmark's result line. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val launch = argv.sliding(2).collectFirst { case Array("--launch-ms", v) => v.toLong }
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val ctx = new Ctx(args, launch)
    val out = new Outcome
    Trace.on = args.trace
    val t0 = System.nanoTime()
    try {
      val w: Workload = args.workload match {
        case "stream_window" => StreamWindow
        case "gate_grow" => GateGrow
        case "curate_batch" => CurateBatch
        case other => sys.error(s"unknown workload $other")
      }
      w.run(ctx, out)
      ctx.progress.error.foreach(e => out.fail(s"streaming query failed: $e"))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        out.fail(s"run aborted: $e")
        out.record("aborted") = e.toString
    } finally {
      if (args.trace && args.traceOut.nonEmpty) {
        out.metric("trace.spans", Trace.count.toDouble, "count")
        Trace.dump(args.traceOut)
      }
      ctx.stop()
    }
    out.record("run_s") = (System.nanoTime() - t0) / 1e9
    out.record("cpus") = args.cpus
    out.record("seed") = args.seed
    out.record("seconds") = args.seconds
    out.record("trace") = args.trace
    out.record("xmx_mb") = Heap.maxHeapMb
    out.record("session") = Session.settings(args.cpus).toMap
    Json.writeFile(args.out, Map(
      "workload" -> args.workload,
      "attempted" -> out.attempted, "failed" -> out.failed,
      "errors" -> out.errors,
      "metrics" -> out.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "pending" -> out.pending,
      "record" -> out.record))
    // the session's non-daemon threads must not outlive the result
    System.exit(0)
  }
}

trait Workload {
  def run(ctx: Ctx, out: Outcome): Unit
}
