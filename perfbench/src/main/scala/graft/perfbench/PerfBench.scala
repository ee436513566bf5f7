package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession

/** Command-line arguments, passed by `perfbench/run.py`. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, work: String, out: String, cores: Int, corpus: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("work"), m("out"), m("cores").toInt, m("corpus"))
  }
}

/** State of one benchmark run: metrics, output checks, the tracer, and
  * the helpers every workload shares (session set-up, pass timing, CPU
  * and heap probes). */
final class Run(val args: Args) {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  var attempted = 0L
  var failed = 0L
  val tracer = new Tracer(args.trace)
  val extra = mutable.LinkedHashMap[String, Any]()

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  private var phaseT0 = System.nanoTime()
  /** Wall seconds of the run's phases, for reading where a run's time goes. */
  def phase(name: String): Unit = {
    val now = System.nanoTime()
    extra(s"phase_${name}_s") = (now - phaseT0) / 1e9
    phaseT0 = now
  }

  /** One output check: counts as one attempted operation. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) failed += 1
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }

  /** Timed passes for `--seconds`: a count, not a clock, so every run of
    * a workload times the same sequence of passes whatever its speed. */
  def passes(perSecond: Double, min: Int): Int =
    math.max(min, math.round(args.seconds * perSecond).toInt)

  /** Creates the session the way the program's callers do. */
  def createSession(): SparkSession = {
    val s = GraftSession.builder(args.cores.toString)
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Sets up `n` times from a stopped context and keeps the last; the
    * `setup_s` metric is the median. `ready` is the workload's own part of
    * set-up (index builds, stream start); `undo` tears down what it made. */
  def setUp[A](n: Int)(ready: SparkSession => A)(undo: A => Unit): (SparkSession, A) = {
    val times = mutable.ArrayBuffer[Double]()
    var last: (SparkSession, A) = null
    (1 to n).foreach { k =>
      val t0 = System.nanoTime()
      val s = createSession()
      val a = ready(s)
      times += (System.nanoTime() - t0) / 1e9
      if (k < n) { undo(a); s.stop() } else last = (s, a)
    }
    metric("setup_s", Stats.median(times.toSeq), "s")
    extra("setup_samples_s") = times.toSeq
    last
  }

  def attachTracer(s: SparkSession): Option[ExecListener] =
    if (!args.trace) None
    else {
      tracer.sc = s.sparkContext
      val l = new ExecListener(tracer)
      s.sparkContext.addSparkListener(l)
      Some(l)
    }

  def drain(s: SparkSession): Unit = org.apache.spark.perfbench.Bus.drain(s.sparkContext)

  /** Process CPU seconds so far. */
  def cpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Heap in use after a forced full collection, in MB. The pause lets
    * Spark's ContextCleaner drop the blocks of collected broadcasts and
    * shuffles before the second collection. */
  def heapRetainedMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def writeResult(): Unit = {
    val json = Json.obj(Seq(
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.toSeq.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "extra" -> extra.toMap))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args.out), json)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object PerfBench {
  /** Writes a DataFrame's full result to the `noop` sink: every column of
    * every row is produced, unlike a `count()`, which Catalyst prunes. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    new java.io.File(args.work).mkdirs()
    val run = new Run(args)
    args.workload match {
      case "lake_ingest" => LakeIngest.run(run)
      case "curate_batch" => CurateBatch.run(run)
      case "curate_stream" => CurateStream.run(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (args.trace) run.tracer.writeJsonl(s"${args.work}/spans.jsonl")
    run.writeResult()
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
  }
}
