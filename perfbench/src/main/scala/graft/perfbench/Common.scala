package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Per-layer metrics shared by every workload: Spark execution counters
  * (`exec.*`), Catalyst phases (`catalyst.*`) and memo occupancy, each
  * given per timed pass so that runs with different pass counts compare. */
object Common {
  final case class Snap(exec: Map[String, Double], cat: Map[String, Double])

  def snapshot(r: Run, s: SparkSession, exec: Option[ExecListener],
      cat: Option[CatalystListener]): Snap = {
    if (r.args.trace) r.drain(s)
    val snap = Snap(exec.map(_.snapshot()).getOrElse(Map.empty),
      cat.map(_.snapshot()).getOrElse(Map.empty))
    // `stage_skew` is a maximum, not a sum: the next snapshot reads the
    // largest skew since this one
    exec.foreach(_.resetSkew())
    snap
  }

  private def delta(a: Map[String, Double], b: Map[String, Double], k: String): Double =
    b.getOrElse(k, 0.0) - a.getOrElse(k, 0.0)

  /** Writes `exec.*` and `catalyst.*` for the passes between two snapshots. */
  def passMetrics(r: Run, a: Snap, b: Snap, passes: Int, wallSum: Double): Unit = {
    val n = passes.max(1).toDouble
    Seq("jobs", "stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s", "gc_s",
      "task_wait_s", "shuffle_write_mb", "shuffle_read_mb", "shuffle_records", "spill_mb",
      "input_records", "output_records").foreach { k =>
      val unit = if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB" else "count"
      r.metric(s"exec.$k", delta(a.exec, b.exec, k) / n, unit)
    }
    r.metric("exec.busy_share",
      delta(a.exec, b.exec, "task_run_s") / (wallSum.max(1e-9) * r.args.cores), "ratio")
    r.metric("exec.stage_skew", b.exec.getOrElse("stage_skew", 0.0), "ratio")
    Seq("analysis_s", "optimization_s", "planning_s").foreach { k =>
      r.metric(s"catalyst.$k", delta(a.cat, b.cat, k) / n, "s")
    }
    r.metric("catalyst.plan_chars", delta(a.cat, b.cat, "plan_chars") / n, "count")
    r.metric("queries.verify_candidates", delta(a.cat, b.cat, "verify_candidates") / n, "count")
    r.metric("queries.verify_kept", delta(a.cat, b.cat, "verify_kept") / n, "count")
  }

  /** Memoized (persisted or checkpointed) RDDs and their size. */
  def memoMetrics(r: Run, s: SparkSession): Unit = {
    val sc = s.sparkContext
    r.metric("queries.memo_rdds", sc.getPersistentRDDs.size, "count")
    r.metric("queries.memo_mb",
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0, "MB")
  }
}
