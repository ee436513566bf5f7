package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.NativeEval
import org.apache.spark.unsafe.types.UTF8String

import graft.{SparkEntry, Tables}

/** `curate_batch`: the training-data curation queries over a seeded
  * document corpus. The first pass, untimed and untraced, runs on a fresh
  * `newSession()` and writes the parquet results the oracle check reads;
  * it also warms the JVM. Every timed pass writes each full result to
  * `noop`: the cold pass on another fresh `newSession()`, so every session
  * memo is built inside it, then the warm passes on the same session. */
object CurateBatch {
  val Queries: Seq[String] = Seq("q_quality_filter", "q_pii_scrub", "q_text_repetition",
    "q_dedup_minhash", "q_dedup_jaccard_prefix", "q_decontaminate_bloom",
    "q_pipeline_curate", "q_pack_bins")

  def run(r: Run): Unit = {
    val a = r.args
    val dir = a.corpus
    val (spark, _) = r.setUp(9)(_ => ())(_ => ())
    r.phase("setup")
    val nDocs = Tables.documents(spark, dir).count()
    val fns = Queries.map(q => q -> SparkEntry.queries(q))

    // the results the oracle check reads, on a fresh session so that the
    // check covers the memo builds; the memos it leaves are dropped, so
    // that the heap holds only those of the timed session
    val sc = spark.sparkContext
    val kept = sc.getPersistentRDDs.keySet
    val checked = spark.newSession()
    fns.foreach { case (q, fn) => fn(checked, dir).write.mode("overwrite").parquet(s"${a.work}/out/$q") }
    sc.getPersistentRDDs.foreach { case (id, rdd) => if (!kept(id)) rdd.unpersist(blocking = true) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${a.work}/oracle_sql.json"),
      Json.value(Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap))
    r.phase("oracle_pass")
    r.drain(spark)
    val exec = r.attachTracer(spark)
    val perQ = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    def sample(k: String, v: Double): Unit = perQ.getOrElseUpdate(k, mutable.ArrayBuffer()) += v

    /** One pass over every query: (wall, cpu) seconds. */
    def pass(s: SparkSession, kind: String): (Double, Double) = {
      val c0 = r.cpuS
      val t0 = System.nanoTime()
      r.tracer.span(s"curate_batch $kind pass", "bench", root = true) {
        fns.foreach { case (q, fn) =>
          val q0 = System.nanoTime()
          r.tracer.span(q, "queries")(PerfBench.materialize(fn(s, dir)))
          sample(s"queries.$q.${kind}_s", (System.nanoTime() - q0) / 1e9)
        }
      }
      ((System.nanoTime() - t0) / 1e9, r.cpuS - c0)
    }

    // cold: on a fresh session, so every memo is built inside it
    val session = spark.newSession()
    val cat = CatalystListener.on(session, a.trace)
    val coldS = pass(session, "cold")._1
    r.phase("cold")
    val before = Common.snapshot(r, session, exec, Some(cat))
    val walls, cpus = mutable.ArrayBuffer[Double]()
    while (walls.size < r.passes(perSecond = 0.3, min = 2)) {
      val (w, c) = pass(session, "warm")
      walls += w; cpus += c
    }
    val after = Common.snapshot(r, session, exec, Some(cat))
    val heap = r.heapRetainedMb()
    r.phase("timed")
    if (a.trace) Common.memoMetrics(r, session)
    // a query's latency: from its start until its full result is written,
    // median over the warm passes; the percentiles are over the eight
    val lat = fns.map { case (q, _) => Stats.median(perQ(s"queries.$q.warm_s").toSeq) }
    val wall = Stats.median(walls.toSeq)
    r.metric("cold_s", coldS, "s")
    r.metric("wall_s", wall, "s")
    r.metric("records_per_s", nDocs / wall, "rec/s")
    r.metric("latency_p50_s", Stats.quantile(lat.toSeq, 0.5), "s")
    r.metric("latency_p90_s", Stats.quantile(lat.toSeq, 0.9), "s")
    r.metric("cpu_s", Stats.median(cpus.toSeq), "s")
    r.metric("heap_retained_mb", heap, "MB")
    r.extra("wall_samples_s") = walls.toSeq
    perQ.foreach { case (k, v) => r.extra(k) = v.toSeq }

    if (a.trace) {
      Common.passMetrics(r, before, after, walls.size, walls.sum)
      perQ.foreach { case (k, v) => r.metric(k, Stats.median(v.toSeq), "s") }
      Functions.measure(r, session, dir)
    }
  }
}

/** Direct single-thread timings of the native per-row functions on the
  * corpus text, with the inputs collected to the driver beforehand. */
object Functions {
  def measure(r: Run, s: SparkSession, dir: String): Unit = {
    val texts = Tables.documents(s, dir).select("text").collect()
      .map(row => UTF8String.fromString(row.getString(0)))
    var sink = 0L
    def med(body: => Unit): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble
    })
    val sh = texts.map(t => NativeEval.tokenShingles(t, 3))
    val shNs = r.tracer.span("NativeEval.tokenShingles", "functions")(
      med(texts.foreach(t => sink += NativeEval.tokenShingles(t, 3).numElements())))
    r.metric("functions.shingles_ns_per_doc", shNs / texts.length, "ns")
    val mhNs = r.tracer.span("NativeEval.minhashSig", "functions")(
      med(sh.foreach(x => sink += NativeEval.minhashSig(x, 128).getLong(0))))
    r.metric("functions.minhash_ns_per_doc", mhNs / texts.length, "ns")
    val rng = new scala.util.Random(r.args.seed)
    val pairs = Array.fill(20000)((rng.nextInt(sh.length), rng.nextInt(sh.length)))
    val ixNs = r.tracer.span("NativeEval.arrayIntersectSize", "functions")(
      med(pairs.foreach { case (i, j) => sink += NativeEval.arrayIntersectSize(sh(i), sh(j)) }))
    r.metric("functions.intersect_ns_per_pair", ixNs / pairs.length, "ns")
    r.extra("functions_sink") = sink
  }
}
