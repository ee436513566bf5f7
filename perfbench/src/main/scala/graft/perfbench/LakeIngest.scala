package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.Files
import java.nio.{ByteBuffer, ByteOrder}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.sources.{Dbc, Dbf, DatasusEtl, Sinks}

/** A seeded corpus shaped like DATASUS files: one shared 92-column schema
  * with 98-byte records, files named `<TIPO><UF><YYMM>.dbc` over
  * tipos × UFs × 12 competências, bodies compressed by `Blast.implode`
  * (coded literals plus real back-references), and a few truncated files
  * that the permissive scan must reject when it opens them. */
object LakeCorpus {
  /** Part of the cache key: bump on any change to the generated bytes. */
  val Version = "lake-v2"
  val NCols = 92
  // 3 + 4 + 90 × 1 = 97 bytes of fields + the deletion flag = 98 B
  val Widths: Array[Int] = Array(3, 4) ++ Array.fill(NCols - 2)(1)
  val Records = 20000

  final case class FileSpec(name: String, tipo: String, uf: String, comp: String,
      records: Int, corrupt: Boolean)

  /** The file list follows from the seed alone, so a cached corpus needs
    * no manifest to be read back. */
  def plan(seed: Long): Seq[FileSpec] = {
    val rng = new scala.util.Random(seed)
    val tipos = rng.shuffle(Seq("PA", "RD", "SP", "AB", "ER")).take(2).sorted
    val ufs = rng.shuffle(Seq("SP", "MG", "RJ", "BA", "RS", "PR", "PE", "CE")).take(2).sorted
    val yy = 20 + rng.nextInt(5)
    val grid = for (t <- tipos; u <- ufs; m <- 1 to 12) yield (t, u, f"$yy%02d$m%02d")
    // file sizes from 0.5x to 1.5x the mean: a fixed set, in seeded order,
    // so every seed asks for the same amount of work
    val weights = rng.shuffle(grid.indices.map(i => 0.5 + i.toDouble / (grid.size - 1)))
    val scale = Records / weights.sum
    val good = grid.zip(weights).map { case ((t, u, c), w) =>
      FileSpec(s"$t$u$c.dbc", t, u, c, math.max(1, (w * scale).toInt), corrupt = false)
    }
    // named after the last tipo/UF so the schema-defining first file is good
    val bad = Seq(12, 11).map { m =>
      val c = f"${yy - 1}%02d$m%02d"
      FileSpec(s"${tipos.last}${ufs.last}$c.dbc", tipos.last, ufs.last, c, 0, corrupt = true)
    }
    good ++ bad
  }

  private def header(nRecords: Int): Array[Byte] = {
    val headerSize = 32 + 32 * NCols + 1
    val head = ByteBuffer.allocate(headerSize).order(ByteOrder.LITTLE_ENDIAN)
    head.put(0, 0x03.toByte)
    head.put(1, 24.toByte); head.put(2, 1.toByte); head.put(3, 1.toByte)
    head.putInt(4, nRecords)
    head.putShort(8, headerSize.toShort)
    head.putShort(10, (1 + Widths.sum).toShort)
    var off = 32
    Widths.indices.foreach { i =>
      val nb = f"F$i%02d".getBytes(ISO_8859_1)
      nb.indices.foreach(k => head.put(off + k, nb(k)))
      head.put(off + 11, 'C'.toByte)
      head.put(off + 16, Widths(i).toByte)
      off += 32
    }
    head.put(off, 0x0D.toByte)
    head.array()
  }

  /** DBF bytes of one file. Each one-byte field draws from a small,
    * skewed alphabet of its own (flags and codes, as in SIH/SIA files), so
    * records share long runs and the compressor finds back-references. */
  def dbf(seed: Long, f: FileSpec): Array[Byte] = {
    val rng = new scala.util.Random(seed * 7919 + f.name.hashCode)
    // alphabet sizes follow the column, symbols the seed
    val alpha = Array.tabulate(NCols) { c =>
      val k = Seq(1, 1, 2, 2, 3, 4, 10)(c % 7)
      rng.shuffle("0123456789ABCDEFGHIJ ".toSeq).take(k).mkString
    }
    val head = header(f.records)
    val rs = 1 + Widths.sum
    val out = new Array[Byte](head.length + f.records * rs + 1)
    System.arraycopy(head, 0, out, 0, head.length)
    val codes = Array.fill(5)(f"${rng.nextInt(1000)}%03d")
    var p = head.length
    var r = 0
    while (r < f.records) {
      out(p) = 0x20
      val code = codes(math.min(4, (rng.nextDouble() * rng.nextDouble() * 5).toInt))
      code.getBytes(ISO_8859_1).copyToArray(out, p + 1)
      f"${r % 10000}%04d".getBytes(ISO_8859_1).copyToArray(out, p + 4)
      var c = 2
      while (c < NCols) {
        val a = alpha(c)
        // skewed: the first symbol of the alphabet dominates
        val i = if (a.length == 1 || rng.nextInt(4) != 0) 0 else rng.nextInt(a.length)
        out(p + 6 + c) = a.charAt(i).toByte
        c += 1
      }
      p += rs
      r += 1
    }
    out(p) = 0x1A
    out
  }

  /** Builds (or reuses) the corpus; returns its directory. */
  def ensure(dataDir: String, seed: Long, threads: Int): File = {
    val dir = new File(dataDir, s"$Version-s$seed-r$Records")
    val marker = new File(dir, "_OK")
    if (!marker.exists()) {
      dir.mkdirs()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      try {
        val jobs = plan(seed).map { f =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = {
              val bytes =
                if (f.corrupt) Dbc.fromDbf(dbf(seed, f.copy(records = 8))).take(40)
                else Dbc.fromDbf(dbf(seed, f))
              Files.write(new File(dir, f.name).toPath, bytes)
            }
          })
        }
        jobs.foreach(_.get())
      } finally pool.shutdown()
      Files.writeString(new File(dir, "manifest.json").toPath, Json.value(plan(seed).map(f =>
        Map("file" -> f.name, "tipo" -> f.tipo, "uf" -> f.uf, "competencia" -> f.comp,
          "records" -> f.records, "expect_skipped" -> f.corrupt))))
      Files.write(marker.toPath, Array.emptyByteArray)
    }
    dir
  }
}

/** `lake_ingest`: the reference's own job. `Pipeline.run` decodes every
  * file, writes the partitioned lake and reads it back for the report;
  * a pass ends when both `LoadReport` frames are collected. */
object LakeIngest {
  def run(r: Run): Unit = {
    val a = r.args
    val files = LakeCorpus.plan(a.seed)
    val dir = LakeCorpus.ensure(a.data, a.seed, a.cores)
    r.phase("gen")
    val glob = s"${dir.getAbsolutePath}/*.dbc"
    val good = files.filterNot(_.corrupt)
    val nRecords = good.map(_.records.toLong).sum
    val dbfBytes = good.map(f => 32L + 32 * LakeCorpus.NCols + 1 + f.records.toLong * 98 + 1).sum

    val (spark, _) = r.setUp(9)(_ => ())(_ => ())
    r.phase("setup")
    val exec = r.attachTracer(spark)
    val taskEnds = new TaskEnds
    spark.sparkContext.addSparkListener(taskEnds)
    val lakeRoot = new File(a.work, "lake")
    var passNo = 0
    def lakeDir(): String = { passNo += 1; new File(lakeRoot, s"pass$passNo").getAbsolutePath }

    /** Seconds from each pass start until each file's rows were written:
      * the finish times of the pass's widest stage, one task per file. */
    val fileLat = mutable.ArrayBuffer[Seq[Double]]()

    /** One timed pass: (seconds, cpu seconds, summary rows, per-table rows). */
    def pass(s: SparkSession, out: String) = {
      r.drain(s)
      taskEnds.take()
      val c0 = r.cpuS
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (sum, per) = r.tracer.span("lake_ingest pass", "bench", root = true) {
        val rep = r.tracer.span("Pipeline.run", "sources")(Pipeline.run(s, glob, out))
        r.tracer.span("LoadReport.collect", "pipeline")(
          (rep.summary.collect(), rep.perTable.collect()))
      }
      val res = ((System.nanoTime() - t0) / 1e9, r.cpuS - c0, sum, per)
      r.drain(s)
      val widest = taskEnds.take().values.maxBy(_.size)
      fileLat += widest.map(e => (e - start) / 1e3)
      res
    }

    // the first pass of the process is an untimed warm-up (class loading,
    // JIT); its report is checked like every other
    val (_, _, firstSum, firstPer) = pass(spark.newSession(), lakeDir())
    deleteRecursively(lakeRoot)
    fileLat.clear()
    r.phase("first")

    val cat = CatalystListener.on(spark, a.trace)
    val walls = mutable.ArrayBuffer[Double]()
    val cpus = mutable.ArrayBuffer[Double]()
    var last = (firstSum, firstPer)
    var lastLake = ""
    val before = Common.snapshot(r, spark, exec, Some(cat))
    while (walls.size < r.passes(perSecond = 1.0, min = 4)) {
      lastLake = lakeDir()
      val (w, c, s1, p1) = pass(spark, lastLake)
      walls += w; cpus += c; last = (s1, p1)
      if (walls.size > 1) deleteRecursively(new File(lakeRoot, s"pass${passNo - 1}"))
    }
    val after = Common.snapshot(r, spark, exec, Some(cat))
    val heap = r.heapRetainedMb()
    r.phase("timed")
    val steadyLat = fileLat.drop(walls.size / 2).flatten.toSeq
    // fresh sessions on the warm process: a session's first-call costs
    val colds = (1 to 2).map { _ =>
      val c = pass(spark.newSession(), lakeDir())
      deleteRecursively(new File(lakeRoot, s"pass$passNo"))
      c
    }
    val (_, _, coldSum, coldPer) = colds.last
    r.metric("cold_s", Stats.median(colds.map(_._1)), "s")
    r.phase("cold")
    // the decode and parquet write paths run once per file, so the JIT
    // settles over several passes: the first half of them is warm-up
    val steady = walls.toSeq.drop(walls.size / 2)
    val wall = Stats.median(steady)
    r.metric("wall_s", wall, "s")
    r.metric("records_per_s", nRecords / wall, "rec/s")
    r.metric("latency_p50_s", Stats.quantile(steadyLat, 0.5), "s")
    r.metric("latency_p90_s", Stats.quantile(steadyLat, 0.9), "s")
    r.metric("cpu_s", Stats.median(cpus.toSeq.drop(walls.size / 2)), "s")
    r.metric("heap_retained_mb", heap, "MB")
    r.extra("passes") = walls.size
    r.extra("wall_samples_s") = walls.toSeq
    r.extra("cold_samples_s") = colds.map(_._1)

    // ---- output checks (outside the timed region) ----
    checkReport(r, "first", files, firstSum, firstPer)
    checkReport(r, "warm", files, last._1, last._2)
    checkReport(r, "cold", files, coldSum, coldPer)
    val lakeFiles = listFiles(new File(lastLake)).filter(_.getName.endsWith(".parquet"))
    val lakeBytes = lakeFiles.map(_.length).sum.toDouble

    // ---- per-layer numbers (traced run only) ----
    if (a.trace) {
      Common.passMetrics(r, before, after, walls.size, walls.sum)
      layers(r, spark, glob, good, dir)
      r.metric("sources.lake_files", lakeFiles.size, "count")
      r.metric("sources.lake_mb", lakeBytes / 1048576.0, "MB")
      r.metric("sources.lake_bytes_per_input_byte", lakeBytes / dbfBytes, "ratio")
      r.metric("sources.dbf_mb", dbfBytes / 1048576.0, "MB")
      r.metric("sources.files_skipped",
        (files.size - last._1.head.getAs[Long]("arquivos_processados")).toDouble, "count")
      val spans = r.tracer.all
      r.metric("pipeline.report_s", Stats.median(
        spans.filter(_.name == "LoadReport.collect").map(s => (s.endMs - s.startMs) / 1e3)), "s")
    }
    deleteRecursively(lakeRoot)
  }

  /** Direct, single-call timings of the decode layers. */
  private def layers(r: Run, spark: SparkSession, glob: String,
      good: Seq[LakeCorpus.FileSpec], dir: File): Unit = {
    val raw = good.map(f => Files.readAllBytes(new File(dir, f.name).toPath))
    var inflated: Seq[Array[Byte]] = Nil
    val inflateS = time(r.tracer.span("Dbc.toDbf", "sources") { inflated = raw.map(Dbc.toDbf) })
    r.metric("sources.dbc_inflate_s", inflateS, "s")
    var n = 0L
    val decodeS = time(r.tracer.span("Dbf.records", "sources") {
      inflated.foreach(b => Dbf.records(b).foreach(rec => n += rec.length))
    })
    r.metric("sources.dbf_decode_s", decodeS, "s")
    r.check("dbf decode field count", n == good.map(_.records.toLong).sum * LakeCorpus.NCols,
      s"decoded $n fields")
    inflated = Nil

    def scan = spark.read.format("dbc").option("mode", "permissive").load(glob)
    val scanS = time(r.tracer.span("dbc scan", "sources")(PerfBench.materialize(scan)))
    r.metric("sources.scan_s", scanS, "s")

    val decoded = DatasusEtl.withFileMeta(scan.withColumn("_path", col("_file")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      decoded.count()
      val out = new File(r.args.work, "lake/direct").getAbsolutePath
      val writeS = time(r.tracer.span("Sinks.writeLake", "sources")(Sinks.writeLake(decoded, out)))
      r.metric("sources.write_lake_s", writeS, "s")
    } finally decoded.unpersist(blocking = true)
  }

  private def checkReport(r: Run, tag: String, files: Seq[LakeCorpus.FileSpec],
      summary: Array[org.apache.spark.sql.Row], perTable: Array[org.apache.spark.sql.Row]): Unit = {
    val good = files.filterNot(_.corrupt)
    val byTipo = good.groupBy(_.tipo)
    val want = byTipo.map { case (t, fs) =>
      t -> (fs.map(_.records.toLong).sum, fs.size.toLong, fs.map(_.comp).distinct.sorted)
    }
    val got = perTable.map { row =>
      row.getAs[String]("tabela") -> (row.getAs[Long]("total_registros"),
        row.getAs[Long]("n_arquivos"),
        row.getAs[scala.collection.Seq[String]]("competencias_existentes").toSeq)
    }.toMap
    r.check(s"$tag per-tipo totals", got == want, s"got $got want $want")
    val s = summary.head
    r.check(s"$tag summary",
      s.getAs[Long]("total_registros_inseridos") == good.map(_.records.toLong).sum &&
        s.getAs[Long]("tabelas_distintas") == byTipo.size &&
        s.getAs[Long]("arquivos_processados") == good.size, s"got $s")
    r.check(s"$tag skipped files",
      files.size - s.getAs[Long]("arquivos_processados") == files.count(_.corrupt),
      s"processed ${s.getAs[Long]("arquivos_processados")} of ${files.size}")
  }

  def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def listFiles(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) listFiles(f) else Seq(f))

  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
