package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metric families shared by the workloads. */
object Layers {
  /** `engine.*` over one measured window, counts and seconds per unit of
    * work (`per` batches or passes); ratios as measured. */
  def engine(out: Outcome, m: Map[String, Double], per: Int): Unit = {
    val ratios = Set("engine.cores_busy", "engine.task_skew_p50")
    val units = Map("engine.jobs" -> "count",
      "engine.stages" -> "count", "engine.tasks" -> "count",
      "engine.cores_busy" -> "cores", "engine.task_skew_p50" -> "ratio")
    m.foreach { case (k, v) =>
      val unit = units.getOrElse(k, if (k.endsWith("_mb")) "MB" else "s")
      out.metric(k, if (ratios(k)) v else v / per, unit)
    }
  }

  private def durP50(ps: Seq[StreamingQueryProgress], key: String): Double =
    Stats.median(ps.flatMap(p => Option(p.durationMs.get(key)).map(_.doubleValue)))

  /** `streaming.*` from the benchmark's own `StreamingQueryListener`. */
  def streaming(out: Outcome, all: Seq[StreamingQueryProgress]): Unit = {
    val ps = all.filter(_.numInputRows > 0)
    val st = all.flatMap(_.stateOperators.toSeq)
    out.metric("streaming.batches", ps.size.toDouble, "count")
    out.metric("streaming.rows_per_batch_p50", Stats.median(ps.map(_.numInputRows.toDouble)), "rows")
    out.metric("streaming.trigger_ms_p50", durP50(ps, "triggerExecution"), "ms")
    out.metric("streaming.add_batch_ms_p50", durP50(ps, "addBatch"), "ms")
    out.metric("streaming.query_planning_ms_p50", durP50(ps, "queryPlanning"), "ms")
    out.metric("streaming.get_batch_ms_p50", durP50(ps, "getBatch"), "ms")
    out.metric("streaming.wal_commit_ms_p50", durP50(ps, "walCommit"), "ms")
    out.metric("streaming.state_rows", if (st.isEmpty) 0 else st.map(_.numRowsTotal).max.toDouble, "rows")
    out.metric("streaming.state_mem_mb",
      if (st.isEmpty) 0 else st.map(_.memoryUsedBytes).max / 1048576.0, "MB")
    out.metric("streaming.state_commit_ms_p50", Stats.median(
      ps.flatMap(_.stateOperators.toSeq).map(_.commitTimeMs.toDouble)), "ms")
    out.metric("streaming.late_dropped", st.map(_.numRowsDroppedByWatermark).sum.toDouble, "rows")
  }
}
