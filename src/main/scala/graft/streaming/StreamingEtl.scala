package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Structured Streaming equivalents of the reference's incremental
  * semantics (SURVEY §2.7): monthly competência files arriving over time,
  * consumed as micro-batches with catch-up (`Trigger.AvailableNow`),
  * checkpointed state, and idempotent sinks — replacing the reference's
  * Bull/Redis queues, hand retries, and duplicate-append behavior
  * (/root/reference/src/datasus/datasus.module.ts:16-21,
  * src/datasus/datasus.service.ts:33).
  */
object StreamingEtl {

  /** File-source JSON stream with an explicit schema (schema inference is a
    * batch-only convenience; streams must pin their contract). */
  def jsonStream(spark: SparkSession, inputDir: String, schema: StructType,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(schema)
    maxFilesPerTrigger.foldLeft(r)((b, n) => b.option("maxFilesPerTrigger", n))
      .json(inputDir)
  }

  /** Tumbling event-time windowed counts with a watermark bounding state:
    * late rows beyond `lateness` are dropped, and window state is evicted
    * once the watermark passes — constant memory on an unbounded stream
    * (the property the reference got from NDJSON line-streaming,
    * NDJSON_IMPLEMENTADO.md:190-196, here with event-time correctness). */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
                     lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** SLIDING (hopping) windowed counts — window(ts, len, slide) emits one
    * row per overlapping window (len/slide windows per event); watermark
    * bounds state exactly as for tumbling windows. The streaming twin of
    * queries.Events.qEvSliding (StreamingSpec: stream == batch; gated as
    * q_stream_sliding sharing that oracle — total_value_c uses the same
    * integer-cents convention so no float reaches the gate hash). */
  def slidingCounts(events: DataFrame, windowLen: String = "2 hours",
                    slide: String = "1 hour", lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("total_value_c"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value_c"))

  /** Streaming hash-deterministic sampling: the batch training-mix
    * operator (queries.TrainingData.qSampleStratified) is stateless
    * per-row, so the SAME predicate runs unchanged on an unbounded
    * stream — membership depends only on the key's md5, never on
    * arrival order, batch boundaries, or executor count. StreamingSpec
    * proves stream == batch row-for-row. */
  def sampleStream(df: DataFrame, keyCol: String, ratePct: Int): DataFrame =
    df.filter(graft.functions.Hashing.bucket(keyCol, 100) < ratePct)

  /** Streaming context-window packing: the stateful sibling of
    * queries.TrainingData.qPackBins — per-source running token count
    * carried across micro-batches, each document assigned its bin on
    * arrival. Contract (like [[sessionizeStream]]): per-source doc_id
    * order across batches, i.e. corpus shards arrive in id order. Works
    * identically on a batch Dataset (state starts empty). */
  def packStream(docs: DataFrame, binTokens: Long = 8192)
      : org.apache.spark.sql.Dataset[PackedDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.selectExpr("source", "doc_id", "n_chars DIV 4 + 1 AS tok_est")
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[PackState, PackedDoc](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        case (src, rows, state) =>
          var running = state.getOption.map(_.running).getOrElse(0L)
          val out = rows.toSeq.sortBy(_._2).map { case (_, id, tok) =>
            running += tok
            PackedDoc(src, id, tok, (running - 1) / binTokens)
          }
          state.update(PackState(running))
          out.iterator
      }
  }

  /** Streaming VERBATIM scoring — the online form of
    * queries.Dedup.qDedupVerbatim at serving time: each arriving document
    * explodes into (doc_id, shingle) rows statelessly, joins stream-static
    * against a batch-built shingle document-frequency index (see
    * Dedup.shingleDfIndex), and rolls up per doc — one streaming
    * aggregation, state bounded by in-flight documents. The batch and
    * stream sides share verbatimAgainstIndex verbatim, so StreamingSpec's
    * stream == batch equality is structural, not coincidental. */
  def verbatimScoreStream(docs: DataFrame, dfIndex: DataFrame): DataFrame = {
    val inv = docs
      .select(col("doc_id"),
        graft.functions.TextFunctions.shingleSet(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), explode(col("sh")).as("sng"))
    graft.queries.Dedup.verbatimAgainstIndex(inv, dfIndex)
  }

  /** Streaming LM-COVERAGE scoring — the online form of
    * queries.TrainingData.qLmScore at serving time: each arriving document
    * explodes into (doc_id, bigram) rows statelessly
    * (TrainingData.bigramsOf runs unchanged on a stream), joins
    * stream-static against the batch-trained broadcastable top-500 bigram
    * LM, and rolls up coverage per doc — one streaming aggregation. The
    * batch and stream sides share lmScoreAgainstIndex verbatim, so
    * StreamingSpec's stream == batch equality is structural. */
  def lmScoreStream(docs: DataFrame, lmIndex: DataFrame): DataFrame =
    graft.queries.TrainingData.lmScoreAgainstIndex(
      graft.queries.TrainingData.bigramsOf(docs), lmIndex)

  /** Streaming CLASSIFIER scoring — the online form of
    * queries.TrainingData.qClfScore: the hashing-trick linear model is a
    * pure per-row fold over the token array (weights derived from the
    * token hash — no vocabulary state, no shuffle, no watermark), so the
    * batch operator's column expressions run UNCHANGED on an unbounded
    * stream in append mode. Per-document filtering decisions at ingest
    * latency. */
  def clfScoreStream(docs: DataFrame): DataFrame =
    graft.queries.TrainingData.clfScoreCols(docs)

  /** Streaming CONTEXT-WINDOW CHUNKING — the online form of
    * queries.TrainingData.qChunkRag: arriving documents explode into
    * 64-token/stride-48 chunk rows statelessly (bounded row-local
    * fan-out), and the per-source cost report is the shared SINGLE
    * aggregation (doc-level stats ride chunk 0), so the twin is one
    * streaming aggregation in complete mode — the chunk rows themselves
    * are what an at-ingest embedding/indexing stage would consume. */
  def chunkStream(docs: DataFrame): DataFrame =
    graft.queries.TrainingData.chunkRagCols(docs)

  /** Streaming SCRIPT-MIX audit — the online form of
    * queries.TextAnalysis.qTextScriptmix: per-row character-class strips
    * are stateless, so the per-source mojibake/mixed-script report is one
    * streaming aggregation in complete mode; at-ingest monitoring of an
    * encoding regression in an upstream feed. */
  def scriptmixStream(docs: DataFrame): DataFrame =
    graft.queries.TextAnalysis.scriptmixCols(docs)

  /** Streaming PII REDACTION — the online form of
    * queries.TrainingData.qPiiScrub: pure per-row regex redaction and
    * hit counting, append mode, zero state — scrub-at-ingest so raw PII
    * never lands in the lake. */
  def piiScrubStream(docs: DataFrame): DataFrame =
    graft.queries.TrainingData.piiScrubCols(docs)

  /** Streaming DECONTAMINATION at ingest — the online form of
    * queries.Dedup.qDecontaminateBloom: train documents arriving on the
    * stream explode into shingles, probe the fixed-size eval bloom sketch
    * as a compiled per-row predicate, and only bloom survivors reach the
    * stream-static verify join against the exact eval shingle set (bloom
    * false positives die there; no false negatives exist). Misses bypass
    * the join entirely and rejoin via self-union so per-doc totals stay
    * exact — one streaming aggregation, output identical to the batch
    * operator (StreamingSpec). At ingest scale the join input is
    * O(contaminated shingles), not O(arriving shingles). */
  def decontaminateStream(docs: DataFrame, evalSh: DataFrame,
                          bloomBytes: Array[Byte]): DataFrame = {
    import org.apache.spark.sql.graft.NativeExprs
    val inv = docs
      .filter(col("source") =!= "src0")
      .select(col("doc_id"),
        graft.functions.TextFunctions.shingleSet(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), explode(col("sh")).as("sng"))
    val probed = inv.withColumn("maybe",
      NativeExprs.bloomMightContain(lit(bloomBytes), xxhash64(col("sng"))))
    val hitSide = probed.filter(col("maybe"))
      .join(evalSh.withColumn("hit", lit(1L)), Seq("sng"), "left")
      .select(col("doc_id"), coalesce(col("hit"), lit(0L)).as("hit"))
    val missSide = probed.filter(!col("maybe"))
      .select(col("doc_id"), lit(0L).as("hit"))
    hitSide.union(missSide)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), sum(col("hit")).as("n_eval_hits"))
      .withColumn("contaminated",
        (col("n_eval_hits") * 2 >= col("n_shingles")).cast("long"))
  }

  /** Streaming NOVELTY-AT-INGEST — the online form of
    * queries.TextAnalysis.qTextNoveltyIncr: each arriving document
    * explodes into shingles statelessly, left-joins stream-static
    * against the write-once historical distinct-shingle set, and rolls
    * up its novelty fraction in one streaming aggregation. The batch and
    * stream sides share noveltyAgainstIndex VERBATIM, so StreamingSpec's
    * stream == batch equality is structural. The memorization-risk gate
    * applied at ingest latency. */
  def noveltyStream(docs: DataFrame, histSh: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.shingleSet
    val inv = docs
      .select(col("doc_id"), shingleSet(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), explode(col("sh")).as("sng"))
    graft.queries.TextAnalysis.noveltyAgainstIndex(inv, histSh)
  }

  /** Streaming LINE-DEDUP-AT-INGEST — the online form of
    * queries.Dedup.qDedupLinesIncr: each arriving document segments into
    * fixed-width chunks statelessly (higher-order array expressions, no
    * shuffle), left-joins stream-static against the write-once
    * historical distinct-chunk set, and rolls up its seen fraction plus
    * the cleaned-content hash in one streaming aggregation. The batch
    * and stream sides share docChunks + lineDedupAgainst VERBATIM, so
    * StreamingSpec's stream == batch equality is structural. This is
    * the RefinedWeb-style line filter applied at ingest latency. */
  def lineDedupStream(docs: DataFrame, histChunks: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    graft.queries.Dedup.lineDedupAgainst(
        graft.queries.Dedup.docChunks(docs), histChunks, "n_seen")
      .select(col("doc_id"), col("n_chunks"), col("n_seen"),
        expr("(n_seen * 1000000L) DIV n_chunks").as("seen_ppm"), col("clean_h"))
  }

  /** Streaming INCREMENTAL dedup — the online form of
    * queries.Dedup.qDedupIncremental: each arriving document computes its
    * minhash signature and band keys statelessly (native expressions, no
    * shuffle), probes the write-once historical band index stream-static,
    * and verifies candidates exactly against the historical shingle store
    * — emitting (new_doc, hist_doc, jaccard_ppm) matches in append mode.
    * The only state is the emitted-pair dedup (band collisions produce
    * identical verified rows); bound it with a watermark on ingest time
    * in production. This is dedup-at-ingest: per-document latency, no
    * historical re-hash, ever. */
  def incrementalDedupStream(docs: DataFrame, histBands: DataFrame,
                             histSh: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.{minhashBands, minhashSig, shingleSet}
    val sh = docs
      .select(col("doc_id"), shingleSet(col("text")).as("sha"))
      .filter(size(col("sha")) > 0)
    // sig materialized in its own projection — inlining it inside
    // minhashBands re-evaluates the 128-perm signature once per band
    // slice element (see the batch operator's note)
    val banded = sh.select(col("doc_id").as("new_doc"), col("sha"),
        minhashSig(col("sha")).as("sig"))
      .select(col("new_doc"), col("sha"),
        explode(minhashBands(col("sig"),
          graft.queries.Dedup.IncrBands, graft.queries.Dedup.IncrRowsPerBand)).as("b"))
      .select(col("new_doc"), col("sha"),
        col("b.band").as("band"), col("b.bkey").as("bkey"))
    banded.join(histBands, Seq("band", "bkey"))
      // candidate dedup BEFORE the shingle-store join: a high-jaccard pair
      // collides in many bands and must pay the exact verify once, not
      // once per band (state keys are the same (new, hist) pairs either way)
      .dropDuplicates("new_doc", "hist_doc")
      .join(histSh, Seq("hist_doc"))
      .withColumn("i", org.apache.spark.sql.graft.NativeExprs
        .arrayIntersectSize(col("sha"), col("shb")))
      .withColumn("u", (size(col("sha")) + size(col("shb"))).cast("long") - col("i"))
      .filter(col("i") * 5 >= col("u") * 3)
      .select(col("new_doc"), col("hist_doc"),
        expr("(i * 1000000L) DIV u").as("jaccard_ppm"))
  }

  /** Per-row top-`nprobe` nearest-cell selection over a bounded centroid
    * LITERAL (rides the plan — no join, no shuffle; the serving-side
    * probe of IVF). Explicit comparator for (cos desc, c_id asc): the
    * negate-and-sort trick would put a NaN cosine at the wrong end
    * (Spark SQL orders NaN largest; -NaN is still NaN), diverging from
    * the batch window's desc ordering on zero vectors. NaN branches are
    * explicit because `>`/`<` are both false on NaN — without them a
    * NaN cosine (zero centroid) would read as a TIE on score and fall
    * to the cid tiebreak, while the batch twin's TopKAggregator uses
    * java.lang.Double.compare (NaN ranks LARGEST, so it sorts FIRST
    * under desc). Round-9 ADVICE: pin the same order here. */
  private[graft] def probeCells(v: org.apache.spark.sql.Column,
                                cents: Seq[(Long, Seq[Double])], nprobe: Int)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.NativeExprs
    transform(
      slice(array_sort(transform(typedLit(cents), c =>
        struct(NativeExprs.arrayCosine(v, c.getField("_2")).as("c"),
          c.getField("_1").as("cid"))), cosIdCmp), 1, nprobe),
      p => p.getField("cid"))
  }

  /** The (cos desc, id asc) struct comparator shared by [[probeCells]]
    * and [[topCellsIn]] — see probeCells' scaladoc for why the NaN
    * branches are explicit. */
  private val cosIdCmp =
    (l: org.apache.spark.sql.Column, r: org.apache.spark.sql.Column) =>
      when(isnan(l.getField("c")) && !isnan(r.getField("c")), lit(-1))
        .when(!isnan(l.getField("c")) && isnan(r.getField("c")), lit(1))
        .when(l.getField("c") > r.getField("c"), lit(-1))
        .when(l.getField("c") < r.getField("c"), lit(1))
        .when(l.getField("cid") < r.getField("cid"), lit(-1))
        .when(l.getField("cid") > r.getField("cid"), lit(1))
        .otherwise(lit(0))

  /** Per-row top-`t` cell selection over a COLUMN of packed
    * (c_id, cd) cell structs — [[probeCells]]'s HOF over a join-
    * delivered array instead of a plan literal: the stage-2 cut of the
    * hierarchical streaming probe, where the fine-centroid set is too
    * large to collect (k grows as n/C) but each probed GROUP's cell
    * array is bounded (~m·gsz entries). Same comparator, so the cut
    * ranks identically to the batch TopKAggregator. */
  private[graft] def topCellsIn(v: org.apache.spark.sql.Column,
                                cells: org.apache.spark.sql.Column, t: Int)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.NativeExprs
    transform(
      slice(array_sort(transform(cells, c =>
        struct(NativeExprs.arrayCosine(v, c.getField("cd")).as("c"),
          c.getField("c_id").as("cid"))), cosIdCmp), 1, t),
      p => p.getField("cid"))
  }

  /** Streaming INCREMENTAL EMBEDDING DEDUP — vectors arriving on a
    * stream dedup against the historical corpus's multi-assigned IVF
    * cell index (the online form of queries.Dedup.qDedupEmbedIncr,
    * sharing its oracle via the q_stream_embeddedup gate):
    *  1. per-row integer quantization + top-nprobe cell probe over the
    *     bounded centroid literal (stateless — no join, no shuffle);
    *  2. stream-static equi-join against the historical lists on c_id
    *     (bucketed by c_id at scale — co-partitioned);
    *  3. exact integer-cosine >= 0.5 (map-side, stateless — a pair
    *     shares <= 4 probed cells, so at most 4 duplicate cosines);
    *  4. pair-dedup of the verified SURVIVORS in stream state (append
    *     mode) — dedup after the verify so the state store holds
    *     output-scale keys, never candidate-scale (see the inline
    *     note); production bounds it further with an arrival-time
    *     watermark via dropDuplicatesWithinWatermark.
    * Vector near-dup filtering at ingest latency — arriving embeddings
    * are flagged against history before they land in the lake. */
  def embedDedupStream(newVecs: DataFrame, cents: Seq[(Long, Seq[Double])],
                       histLists: DataFrame, nprobe: Int = 6): DataFrame = {
    import org.apache.spark.sql.graft.NativeExprs
    val probed = newVecs
      .select(col("vec_id").as("new_vec"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1e7).cast("long").cast("double")).as("nd"))
      .withColumn("probe", probeCells(col("nd"), cents, nprobe))
      .select(col("new_vec"), col("nd"), explode(col("probe")).as("c_id"))
    // verify FIRST, dedup AFTER — on a stream this is load-bearing, not
    // just cheaper: dropDuplicates keeps its keys in the STATE STORE,
    // so deduping candidates would grow state with candidate volume
    // (O(slice x sqrt(history)) rows), while deduping the verified
    // survivors keeps state at OUTPUT scale. The <= 4x duplicate
    // cosines (one per shared probed cell) are stateless map-side work.
    probed
      .join(histLists.select(col("vec_id").as("hist_vec"), col("vd").as("hd"),
        col("c_id")), Seq("c_id"))
      .select(col("new_vec"), col("hist_vec"),
        NativeExprs.arrayCosine(col("nd"), col("hd")).as("cos_sim"))
      .filter(col("cos_sim") >= 0.5)
      .select(col("new_vec"), col("hist_vec"),
        round(col("cos_sim") * 1e9).cast("long").as("cos_ppb"))
      .dropDuplicates("new_vec", "hist_vec")
  }

  /** Streaming incremental embedding dedup through the HIERARCHICAL
    * index (queries.Dedup.embedIncrHierStatic) — the streaming-ingest
    * scale path past [[embedDedupStream]]'s sqrt-cell history index
    * (whose per-arrival candidate volume grows as sqrt(history) — the
    * 27.9x wall in the r13 100x audit). The whole probe is STATELESS:
    *  1. per-row quantize + top-w1 GROUP probe over the collected
    *     level-1 centroid literal — g ≈ sqrt(k) = sqrt(n_hist/C)
    *     entries (~2.3e3 rows at 1e9 history vectors), collectible
    *     where the n/C fine-centroid set never is;
    *  2. explode to w1 rows and ONE stream-static equi-join fetches
    *     each probed group's PACKED cell array (disjoint groups,
    *     ~gsz entries);
    *  3. the per-GROUP top-t cut runs immediately in the same
    *     projection ([[topCellsIn]] — one HOF over one group's array,
    *     the array dropped in place), matching the batch twin's
    *     GroupTopKAggregator cut exactly;
    *  4. stream-static join against the CONSTANT-cell-size inverted
    *     lists (per-arrival candidates = w1 · t · m_i · C, independent
    *     of history size), map-side exact verify, and only verified
    *     survivors pay stateful pair-dedup (state at output scale).
    * Ingest cost per arrival is bounded by sqrt(k) + constants — flat
    * as history grows, which is the property a 100 TB streaming
    * curation pipeline needs. */
  def embedDedupHierStream(newVecs: DataFrame, groups: Seq[(Long, Seq[Double])],
                           gcellsPacked: DataFrame, histLists: DataFrame,
                           w1: Int = graft.queries.Dedup.IvfIncrHierProbeGroups,
                           t: Int = graft.queries.Dedup.IvfIncrHierCellsPerGroup)
      : DataFrame = {
    import org.apache.spark.sql.graft.NativeExprs
    val probed = newVecs
      .select(col("vec_id").as("new_vec"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1e7).cast("long").cast("double")).as("nd"))
      .select(col("new_vec"), col("nd"),
        explode(probeCells(col("nd"), groups, w1)).as("g_id"))
    // ONE stream-static equi-join delivers each probed group's packed
    // cell array (~gsz entries with disjoint groups), and the per-group
    // top-t cut happens IMMEDIATELY in the same projection, dropping
    // the array — rows never accumulate more than one group's payload.
    // (The previous shape — w1 sequential joins folding all probed
    // groups' arrays onto one row for a global top-nprobe cut —
    // measured 3.7x SLOWER than the flat stream at the 100x audit:
    // each of the w1 joins recopied the row's accumulated arrays,
    // O(w1²) payload copies per arrival. The per-group budget is the
    // cut a stream can take with O(one group) per-row cost; the batch
    // twin and the oracle state the same semantics, so stream == batch
    // stays exact.)
    // no probe-level distinct on the stream (it would hold probe-scale
    // state): with single-assigned groups a cell is reachable through
    // one group only, and at mg > 1 duplicate candidates collapse to
    // identical verified rows in the output-scale dedup below
    val probes = probed
      .join(gcellsPacked, Seq("g_id"))
      .withColumn("c_id", explode(topCellsIn(col("nd"), col("cells"), t)))
      .select(col("new_vec"), col("nd"), col("c_id"))
    probes
      .join(histLists.select(col("vec_id").as("hist_vec"), col("vd").as("hd"),
        col("c_id")), Seq("c_id"))
      .select(col("new_vec"), col("hist_vec"),
        NativeExprs.arrayCosine(col("nd"), col("hd")).as("cos_sim"))
      .filter(col("cos_sim") >= 0.5)
      .select(col("new_vec"), col("hist_vec"),
        round(col("cos_sim") * 1e9).cast("long").as("cos_ppb"))
      .dropDuplicates("new_vec", "hist_vec")
  }

  /** Streaming VECTOR-SEARCH serving — IVF retrieval for queries arriving
    * on a stream, against the write-once static index (the serving shape
    * of queries.Similarity.qAnnIvf):
    *  1. probe: each arriving query picks its nprobe nearest centroids
    *     with array HOFs over the BOUNDED centroid literal (≤40 entries
    *     by construction — rides the plan, no join, no shuffle);
    *  2. candidates: stream-static equi-join against the inverted lists
    *     on the centroid id (bucketed by c_id at scale — co-partitioned);
    *  3. rank: one streaming aggregation with the bounded TopKAggregator
    *     (O(k) state per query; non-time windows don't exist on streams).
    * Output matches the batch IVF operator row-for-row (StreamingSpec).
    * Run in update/complete mode; each query's result finalizes once its
    * candidates are through. */
  def annServeStream(queries: DataFrame, cents: Seq[(Long, Seq[Double])],
                     lists: DataFrame, k: Int = 10, nprobe: Int = 3): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.graft.NativeExprs
    val probed = queries
      .withColumn("probe", probeCells(col("qv"), cents, nprobe))
      .select(col("q_id"), col("qv"), explode(col("probe")).as("c_id"))
    val scored = probed.join(lists, Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"),
        NativeExprs.arrayCosine(col("qv"), col("v")).as("cos_sim"),
        col("vec_id"))
      .as[(Long, Double, Long)]
    val topk = new graft.functions.TopKAggregator(k).toColumn
    scored.groupByKey(_._1)
      .agg(topk.name("top"))
      .flatMap { case (qId, top) =>
        top.iterator.zipWithIndex.map { case ((cos, id), i) =>
          // HALF_UP to match the batch side's Spark round()
          (qId, id,
            BigDecimal(cos * 1e9).setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong,
            (i + 1).toLong)
        }
      }
      .toDF("q_id", "neighbor_id", "cos_ppb", "rank")
  }

  /** Streaming repetition metrics (Gopher rules): the per-row HOF
    * formulation (TextAnalysis.repetitionColsPerRow) touches only the
    * row's own token array — a stateless map, so it runs unchanged in
    * append mode with zero state. */
  def repetitionStream(docs: DataFrame): DataFrame =
    graft.queries.TextAnalysis.repetitionColsPerRow(docs)

  /** Streaming hourly anomaly flagging — the online form of
    * queries.Events.qEvAnomaly: arriving events join the HISTORICAL
    * per-type moments (static, broadcast — the production shape: the
    * baseline is trained offline, not recomputed per batch) BEFORE the
    * windowed aggregation (streaming forbids joins after aggregations),
    * with the per-type constants riding the group key; the integer
    * 3-sigma flag is a post-aggregation projection. Stream == batch when
    * the moments come from the same corpus (StreamingSpec). */
  def anomalyStream(events: DataFrame, moments: DataFrame,
                    lateness: String = "2 hours"): DataFrame =
    events.withWatermark("ts", lateness)
      .join(moments, Seq("event_type"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"),
        col("nh"), col("sn"), col("ssn"))
      .agg(count(lit(1)).as("n"))
      .withColumn("dev", col("n") * col("nh") - col("sn"))
      .withColumn("is_anomaly",
        (col("dev") * col("dev") >
          (col("nh") * col("ssn") - col("sn") * col("sn")) * 9L).cast("long"))
      .select(col("event_type"), col("window.start").as("hour_ts"),
        col("n"), col("is_anomaly"))

  /** Streaming exact dedup by key with watermark-bounded state — the
    * idempotence the reference lacks (duplicate competência appends). */
  def dedupStream(events: DataFrame, keys: Seq[String], lateness: String = "2 hours"): DataFrame =
    events.withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(keys)

  /** Native session windows (30-min gap): the streaming sessionization of
    * queries.Events.qEvSession. Works identically in batch. */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("session_window.start").as("session_start"), col("user_id"),
        col("n_events"), col("total_value"))

  /** Custom streaming state via mapGroupsWithState: per-user running
    * (event count, value total), emitted each micro-batch in update mode.
    * The arbitrary-state escape hatch for aggregations the built-in
    * windowed operators can't express.
    *
    * SPEC-ONLY (deliberately not oracle-gated): the operator's contract
    * is its PER-BATCH emission trace — update mode appends one row per
    * touched user per micro-batch, so the result RELATION depends on
    * micro-batch boundaries, and the running total accumulates IEEE
    * floats in arrival order. Both are the semantics a running-total
    * monitor wants, and neither is a deterministic cross-engine relation
    * a DuckDB oracle can hash. StreamingSpec pins the final state
    * against the batch aggregate instead; the ORACLE-shaped custom-state
    * operators are the gated q_stream_fmgws / q_stream_pack. */
  final case class RunningTotal(n: Long, total: Double)
  final case class PackState(running: Long)
  final case class PackedDoc(source: String, docId: Long, tokEst: Long, bin: Long)

  def runningUserTotals(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "value").as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[RunningTotal, (Long, Long, Double)](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        case (user, rows, state) =>
          val prev = state.getOption.getOrElse(RunningTotal(0L, 0.0))
          val next = rows.foldLeft(prev) { case (acc, (_, v)) =>
            RunningTotal(acc.n + 1, acc.total + v)
          }
          state.update(next)
          (user, next.n, next.total)
      }
      .toDF("user_id", "n_events", "total_value")
  }

  /** Run a streaming DataFrame to completion over the currently-available
    * input (catch-up semantics) into an in-memory table; returns when idle.
    * Complete mode keeps the full result (test/inspection use). */
  def runToMemory(df: DataFrame, queryName: String, checkpoint: String,
                  outputMode: String = "complete"): Unit = {
    val t0 = System.nanoTime()
    val q = df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // harness-setup accounting (see StreamMeter): wall minus the sum of
    // the engine's own per-batch triggerExecution walls. recentProgress
    // retains the last ~100 progress entries — far above any
    // AvailableNow drain here (single-digit batches).
    val wall = System.nanoTime() - t0
    val execMs = q.recentProgress.map { p =>
      val d = p.durationMs.get("triggerExecution")
      if (d == null) 0L else d.longValue()
    }.sum
    StreamMeter.addSetup(wall - execMs * 1000000L)
  }

  /** Open-session state for [[sessionizeStream]]. Seconds granularity
    * matches the batch sessionization (queries.Events.qEvSession). */
  final case class OpenSession(startSec: Long, lastSec: Long, n: Long, total: Double)
  final case class ClosedSession(userId: Long, sessionStartS: Long, nEvents: Long, totalValue: Double)

  /** Sessionization with arbitrary state + event-time timeouts
    * (flatMapGroupsWithState): sessions close either when a later event
    * arrives past the gap, or when the watermark passes lastEvent+gap
    * (timeout) — so trailing sessions flush without new data, which
    * session_window/Append alone can't express with custom payloads.
    * Emits each closed session exactly once (append semantics).
    *
    * Arrival contract: batches must be non-decreasing in event time per
    * key (disorder WITHIN a batch is sorted out; regression ACROSS
    * batches is not merged back — matching the monthly-file cadence of
    * SURVEY §2.7). For fully out-of-order streams use [[sessionAgg]]
    * (session_window buffers until the watermark). */
  def sessionizeStream(events: DataFrame, gapSeconds: Long = 1800,
                       lateness: String = "1 hour"): org.apache.spark.sql.Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.withWatermark("ts", lateness)
      // the watermark-tagged ts column must reach the stateful operator,
      // so it rides in the tuple (the lambda reads the seconds cast)
      .selectExpr("user_id", "ts", "CAST(ts AS LONG) AS sec", "value")
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state) =>
          val closed = scala.collection.mutable.ArrayBuffer[ClosedSession]()
          if (state.hasTimedOut) {
            state.getOption.foreach { s =>
              closed += ClosedSession(user, s.startSec, s.n, s.total)
            }
            state.remove()
          } else {
            var cur = state.getOption.orNull
            rows.toSeq.sortBy(_._3).foreach { case (_, _, sec, v) =>
              cur match {
                case null =>
                  cur = OpenSession(sec, sec, 1L, v)
                case s if sec - s.lastSec > gapSeconds =>
                  closed += ClosedSession(user, s.startSec, s.n, s.total)
                  cur = OpenSession(sec, sec, 1L, v)
                case s =>
                  cur = s.copy(lastSec = sec, n = s.n + 1, total = s.total + v)
              }
            }
            if (cur != null) {
              val target = (cur.lastSec + gapSeconds + 1) * 1000L
              if (target <= state.getCurrentWatermarkMs()) {
                // gap already elapsed in event time (out-of-order input):
                // the session is closeable now, no timeout needed
                closed += ClosedSession(user, cur.startSec, cur.n, cur.total)
                if (state.exists) state.remove()
              } else {
                state.update(cur)
                // FlatMapGroupsWithStateExec evicts timed-out state with
                // timeoutTimestamp < watermark (STRICT — pinned by
                // StreamingSpec's boundary test). The session must close
                // once watermark >= target (the oracle's inclusive
                // end_s + gap + 1 <= wm_s), so arm the timer one ms
                // early: target-1 < wm  ⟺  wm >= target.
                state.setTimeoutTimestamp(target - 1)
              }
            }
          }
          closed.iterator
      }
  }

  /** Progress reporting (SURVEY §2.7): the reference logs a counter every
    * 50k records (NDJSON_IMPLEMENTADO.md:112-116); the engine equivalent
    * is a StreamingQueryListener accumulating per-batch row counts.
    * Attach/detach around a run; `totalRows` is the running input total. */
  final class ProgressRecorder extends org.apache.spark.sql.streaming.StreamingQueryListener {
    private val rows = new java.util.concurrent.atomic.AtomicLong(0L)
    private val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    def totalRows: Long = rows.get()
    def numBatches: Long = batches.get()
    override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
      rows.addAndGet(e.progress.numInputRows)
      batches.incrementAndGet()
    }
    override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Idempotent lake sink: each micro-batch dynamically overwrites exactly
    * the (partition-column) partitions it carries — re-running a month is
    * an overwrite, not a duplicate append (fixes SURVEY §7 risk 4).
    *
    * Contract: a partition's data must arrive WITHIN one micro-batch
    * (e.g. partition by competência with month-granular input files) —
    * a partition spanning batches would keep only the last batch's rows.
    * That alignment is exactly the reference's monthly cadence; for
    * cross-batch partitions use an append sink + dedup-on-read. */
  def runToPartitionedParquet(df: DataFrame, outDir: String, checkpoint: String,
                              partitionCols: Seq[String]): Unit = {
    val q = df.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write
          .mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partitionCols: _*)
          .parquet(outDir)
      }
      .start()
    q.awaitTermination()
  }

  /** Stream into a JDBC table with EXACTLY-ONCE semantics across
    * kill/replay — the reference-shaped production sink (its loader
    * appends to PostgreSQL; a restarted append-mode stream would
    * double-insert the batch that committed to the DB but not to the
    * checkpoint). Each micro-batch runs [[graft.sources.Sinks.jdbcUpsertBatch]]:
    * batchId epoch-guard + staged atomic swap (see its scaladoc for the
    * crash-window analysis). Caller supplies the trigger via `trigger`;
    * returns the started query (kill/restart tested in
    * StreamingRecoverySpec). */
  def runToJdbc(df: DataFrame, url: String, table: String, checkpoint: String,
                trigger: Trigger = Trigger.AvailableNow(),
                textType: String = "VARCHAR(4096)")
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // writer identity = the checkpoint path: stable across restarts
        // of the SAME logical stream (batchIds continue from it), unique
        // across different streams into the same table
        graft.sources.Sinks.jdbcUpsertBatch(batch, batchId, url, table,
          textType = textType, writerId = checkpoint)
      }
      .start()
}
