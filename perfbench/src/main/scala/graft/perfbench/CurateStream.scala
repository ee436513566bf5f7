package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.queries.Dedup
import graft.streaming.{StreamMeter, StreamingEtl}

/** `curate_stream`: incremental dedup at ingest. The "new" documents of
  * the corpus arrive as small parquet files, renamed into a watched
  * directory by one scheduler thread at a fixed rate (an open loop), and
  * a processing-time query runs `StreamingEtl.incrementalDedupStream`
  * against the history index built during set-up. */
object CurateStream {
  /** Arrival rate and trigger: a micro-batch of 8 files takes about
    * 0.6 s on 4 cores, so the 1 s trigger leaves the stream idle part of
    * each interval. */
  val FilesPerSecond = 8.0
  val TriggerMs = 1000L

  final case class Live(q: StreamingQuery, listener: StreamListener, watch: File, ckpt: File,
      table: String)

  def run(r: Run): Unit = {
    val a = r.args
    val dir = a.corpus
    val sources = Option(new File(dir, "stream").listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val meter0 = StreamMeter.setupNanos
    val colds = mutable.ArrayBuffer[Double]()
    /** The first micro-batch of a started stream, fed one warm-up file that
      * repeats the first input file's documents (their pairs are emitted
      * once; the stream's dedup state drops the repeats later). */
    def coldBatch(l: Live): Unit = {
      // copied beside the watched directory, then renamed in: the source
      // must never list a half-written file
      val tmp = new File(a.work, "warmup.tmp")
      Files.copy(sources.head.toPath, tmp.toPath, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp.toPath, new File(l.watch, "warmup-00000.parquet").toPath,
        StandardCopyOption.ATOMIC_MOVE)
      val until = System.nanoTime() + 120000000000L
      while (l.listener.progress.asScala.forall(_.numInputRows == 0) && System.nanoTime() < until)
        Thread.sleep(5)
      colds ++= l.listener.progress.asScala.find(_.numInputRows > 0)
        .map(p => dur(p, "triggerExecution"))
    }
    var n = 0
    val (spark, live) = r.setUp(3) { s =>
      n += 1
      val watch = new File(a.work, s"watch$n"); watch.mkdirs()
      val ckpt = new File(a.work, s"ckpt$n")
      val index = Dedup.persistedBandIndex(s, dir)
      val history = Dedup.historicalShingles(s, dir)
      val listener = new StreamListener
      s.streams.addListener(listener)
      val docs = s.readStream.schema(graft.Tables.documents(s, dir).schema)
        .parquet(watch.getAbsolutePath)
      val table = s"pairs$n"
      val q = StreamingEtl.incrementalDedupStream(docs, index, history)
        .writeStream.format("memory").queryName(table).outputMode("append")
        .trigger(Trigger.ProcessingTime(TriggerMs))
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .start()
      // ready once the first (empty) trigger has looked for data
      val until = System.nanoTime() + 60000000000L
      while (!q.status.message.startsWith("Waiting") && System.nanoTime() < until)
        Thread.sleep(2)
      Live(q, listener, watch, ckpt, table)
    } { l => coldBatch(l); l.q.stop() }
    coldBatch(live)
    live.listener.progress.clear()
    r.phase("setup")
    val exec = r.attachTracer(spark)

    // stage copies outside the timed region; arrival is a same-directory rename
    val stage = new File(a.work, "stage"); stage.mkdirs()
    val staged = sources.map { f =>
      val t = new File(stage, f.getName)
      Files.copy(f.toPath, t.toPath, StandardCopyOption.REPLACE_EXISTING)
      t
    }
    val before = Common.snapshot(r, spark, exec, None)
    val passId = r.tracer.nextId()
    val c0 = r.cpuS
    val t0 = System.currentTimeMillis() + 200
    val due = staged.indices.map(k => t0 + (k * 1000 / FilesPerSecond).toLong)
    val late = new Array[Double](staged.size)
    val scheduler = new Thread(() => {
      staged.zipWithIndex.foreach { case (f, k) =>
        val wait = due(k) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        late(k) = (System.currentTimeMillis() - due(k)) / 1e3
        Files.move(f.toPath, new File(live.watch, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
      }
    }, "perfbench-scheduler")
    scheduler.start()
    scheduler.join()
    live.q.processAllAvailable()
    val cpu = r.cpuS - c0
    r.phase("schedule")
    r.drain(spark)
    val after = Common.snapshot(r, spark, exec, None)
    val heap = r.heapRetainedMb()

    // which micro-batch took each file: the file source's own log
    val batchOf = fileBatches(new File(live.ckpt, "sources/0"))
    val progress = live.listener.progress.asScala.toSeq.filter(_.numInputRows > 0)
    val commitMs = progress.map(p => p.batchId -> endMs(p)).toMap
    val lat = staged.indices.map { k =>
      val b = batchOf.getOrElse(staged(k).getName, -1L)
      commitMs.get(b).map(c => (c - due(k)) / 1e3).getOrElse(Double.NaN)
    }
    r.check("every file committed", !lat.exists(_.isNaN),
      s"${lat.count(_.isNaN)} files without a committed batch")
    val lats = lat.filterNot(_.isNaN)
    val trig = progress.map(p => dur(p, "triggerExecution"))
    val rows = progress.map(_.numInputRows.toDouble)
    // the JIT keeps speeding micro-batches up through the first half of
    // the schedule: the second half gives the steady figures
    val steady = trig.size / 2
    r.metric("wall_s", Stats.median(trig.drop(steady)), "s")
    r.metric("cold_s", Stats.median(colds.toSeq), "s")
    r.metric("records_per_s", rows.drop(steady).sum / trig.drop(steady).sum.max(1e-9), "rec/s")
    r.metric("latency_p50_s", Stats.quantile(lats, 0.5), "s")
    r.metric("latency_p90_s", Stats.quantile(lats, 0.9), "s")
    r.metric("cpu_s", cpu / progress.size.max(1), "s")
    r.metric("heap_retained_mb", heap, "MB")
    val schedEnd = due.last
    r.extra("batches") = progress.size
    r.extra("cold_samples_s") = colds.toSeq
    r.extra("trigger_samples_s") = trig
    r.extra("rows_per_batch") = rows
    r.extra("files") = staged.size

    // ---- output check: the stream's pairs equal the batch operator's ----
    val got = spark.table(live.table).collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val want = Dedup.qDedupIncremental(spark, dir).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    r.check("stream pairs == batch q_dedup_incremental", got.sorted.sameElements(want.sorted),
      s"stream ${got.length} pairs, batch ${want.length}")
    r.check("stream pairs non-empty", want.nonEmpty, "no pairs")
    r.extra("pairs") = got.length
    r.phase("check")
    live.q.stop()

    if (a.trace) {
      def med(k: String) = Stats.median(progress.map(p => dur(p, k)))
      r.metric("streaming.batches", progress.size, "count")
      r.metric("streaming.rows_per_batch", Stats.median(rows), "count")
      r.metric("streaming.add_batch_s", med("addBatch"), "s")
      r.metric("streaming.query_planning_s", med("queryPlanning"), "s")
      r.metric("streaming.wal_commit_s", med("walCommit"), "s")
      r.metric("streaming.get_batch_s", med("getBatch"), "s")
      r.metric("streaming.latest_offset_s", med("latestOffset"), "s")
      r.metric("streaming.trigger_s", med("triggerExecution"), "s")
      val last = progress.lastOption
      r.metric("streaming.state_rows",
        last.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0), "count")
      r.metric("streaming.state_mb",
        last.map(_.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0).getOrElse(0.0), "MB")
      r.metric("streaming.harness_setup_s", (StreamMeter.setupNanos - meter0) / 1e9, "s")
      r.metric("streaming.backlog_files",
        staged.indices.count(k => commitMs.getOrElse(batchOf.getOrElse(staged(k).getName, -1L),
          Long.MaxValue) > schedEnd), "count")
      r.metric("bench.generator_late_s", late.max, "s")
      Common.passMetrics(r, before, after, progress.size, trig.sum)
      // a micro-batch plans inside the stream: the progress report has it
      r.metric("catalyst.planning_s", med("queryPlanning"), "s")
      Common.memoMetrics(r, spark)
      Functions.measure(r, spark, dir)
      // spans: the schedule is the pass; each micro-batch nests under it,
      // and the jobs a batch started nest under the batch
      val batchSpan = progress.map { p =>
        val id = r.tracer.nextId()
        val end = endMs(p).toDouble
        r.tracer.add(Span(id, passId, passId, s"micro-batch ${p.batchId}", "streaming",
          end - dur(p, "triggerExecution") * 1e3, end))
        p.batchId -> id
      }.toMap
      val jobBatch = exec.get.batchOfJobSpan.toMap
      r.tracer.rewrite { s =>
        jobBatch.get(s.id).flatMap(batchSpan.get) match {
          case Some(b) if s.layer == "spark_job" => s.copy(parent = b, trace = passId)
          case _ => s
        }
      }
      val jobIds = jobBatch.keySet
      r.tracer.rewrite(s => if (s.layer == "spark_stage" && jobIds(s.parent)) s.copy(trace = passId) else s)
      r.tracer.add(Span(passId, 0L, passId, "curate_stream schedule", "bench", t0.toDouble,
        commitMs.values.maxOption.getOrElse(t0).toDouble))
    }
  }

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)

  private def endMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli + (dur(p, "triggerExecution") * 1e3).toLong

  /** File name -> first batch id, read from the file source's metadata log
    * (`<batch>` and `<batch>.compact` files, one JSON entry per line). */
  private def fileBatches(log: File): Map[String, Long] = {
    val Entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored
    val out = mutable.Map[String, Long]()
    Option(log.listFiles()).toSeq.flatten.filter(_.getName.matches("\\d+(\\.compact)?")).foreach { f =>
      Files.readAllLines(f.toPath).asScala.foreach {
        case Entry(path, b) =>
          val name = path.substring(path.lastIndexOf('/') + 1)
          out(name) = math.min(out.getOrElse(name, Long.MaxValue), b.toLong)
        case _ =>
      }
    }
    out.toMap
  }
}
