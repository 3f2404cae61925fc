package zbench

import java.sql.Timestamp
import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.model.{Endpoint, Span}
import graft.sources.{ProtoSpans, SpanSources}
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** `stream`: an open-loop generator appends proto3 records to a memory
  * stream on a fixed schedule; the library's streaming pipeline sessionizes,
  * links and writes all five stores. A drain phase then appends a fixed
  * backlog at once.
  */
object StreamWorkload {
  /** Offered load: chunks per second and traces per chunk (see BENCHMARK.json). */
  val ChunkIntervalMs = 250L
  val TracesPerChunk = 1
  /** Event time per chunk: compressed so the 1-minute session gap closes
    * sessions about a second of wall time after their last span.
    */
  val EventMsPerChunk = 12000L
  val TraceSpreadMs = 20000L
  val DrainTraces = 900
  val WarmTraces = 200
  val Gap = "1 minute"

  final case class Chunk(records: Seq[(Timestamp, Array[Byte])], spans: Int)

  /** Seeded span stream: traces start uniformly over event time from `t0`,
    * spans are cut into records of [[GenParams.SpansPerRecord]] in event-time
    * order, and chunks hold consecutive event-time slices. Duplicates are
    * redelivered inside their record's chunk; late spans are copies of a
    * chunk span, sent with a record time before every watermark.
    */
  final class Source(r: Random, t0: Long) {
    val spans = ArrayBuffer.empty[Span]
    var late = 0
    private val lateTraces = scala.collection.mutable.Set.empty[String]
    private var clock = t0

    /** The next chunk: `traces` new traces over `slices` event-time slices.
      * `last` also sends every span still held back.
      */
    def next(traces: Int, slices: Int, withLate: Boolean, last: Boolean = false): Chunk = {
      val until = clock + EventMsPerChunk * slices
      val generated = (0 until traces).flatMap { _ =>
        val start = clock + r.nextLong(until - clock)
        TraceGen.trace(r, start * 1000).map { s =>
          val ts = s.timestamp.get / 1000 - start
          // stretch the span offsets over the spread, keeping order
          s.copy(timestamp = Some((start + math.min(TraceSpreadMs, ts * 40)) * 1000))
        }
      }
      spans ++= generated
      // spans past this chunk's slice arrive with the next one: hold them back
      val (now, later) = (pending ++ generated).partition(s => last || s.timestamp.get / 1000 < until)
      pending = later
      val arrivals = now.flatMap(s => if (r.nextDouble() < GenParams.DupRate) Seq(s, s) else Seq(s))
        .sortBy(_.timestamp.get)
      val records = arrivals.grouped(GenParams.SpansPerRecord).map { g =>
        (new Timestamp(g.map(_.timestamp.get / 1000).max), Codec.protoList(g))
      }.toSeq
      // at most one late span per trace: the session operator counts late
      // rows after merging a trace's rows, so two would count as one
      val lateSpans = if (!withLate) Nil else now.filter(_ => r.nextDouble() < GenParams.LateRate)
        .distinctBy(_.trace_id).filter(s => lateTraces.add(s.trace_id))
        .map(s => s.copy(id = TraceGen.hex(r, 16)))
      late += lateSpans.size
      val lateRecords = lateSpans.map(s => (new Timestamp(t0 - 600000L), Codec.protoList(Seq(s))))
      clock = if (last) math.max(until, now.map(_.timestamp.get / 1000).maxOption.getOrElse(0L) + 1) else until
      Chunk(records ++ lateRecords, arrivals.size + lateSpans.size)
    }
    private var pending: Seq[Span] = Nil

    def clockMs: Long = clock
  }

  /** Records far ahead in event time: they close every open session, and
    * their own link edge advances the window stage past every window.
    */
  private def flush(atMs: Long, n: Int): (Timestamp, Array[Byte]) = {
    val id = f"ffffffff$n%08x"
    val span = Span(trace_id = id, id = id, kind = Some("CLIENT"), name = Some("flush"),
      timestamp = Some(atMs * 1000), duration = Some(1L),
      local_endpoint = Some(Endpoint(service_name = Some("flush-a"))),
      remote_endpoint = Some(Endpoint(service_name = Some("flush-b"))))
    (new Timestamp(atMs), Codec.protoList(Seq(span)))
  }
  private def isFlush(s: String) = s.startsWith("flush-") || s.startsWith("ffffffff")

  /** The running pipeline: six streaming queries. A memory stream serves
    * one reader, so each of the five span readers gets its own stream and
    * every chunk is appended to all five (like five consumers of one topic).
    */
  final class Pipeline(ctx: Ctx, dir: String) {
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = ctx.spark.sqlContext
    import ctx.spark.implicits._
    private val inputs = Seq.fill(5)(MemoryStream[(Timestamp, Array[Byte])])
    val stores = StoreDirs(s"$dir/stores")
    private def envelopes(i: Int) = ProtoSpans.envelopes(inputs(i).toDF().toDF("timestamp", "value"))
    private def chk(n: String) = s"$dir/checkpoints/$n"
    val traces: StreamingQuery = StreamingPipeline.tracesToStore(
      StreamingPipeline.sessionTraces(envelopes(0), Gap), stores.traces, chk("traces"))
    val links: StreamingQuery = SpanSources.linksToJsonFiles(
      StreamingPipeline.dependencyLinkEvents(StreamingPipeline.sessionTraces(envelopes(1), Gap)),
      s"$dir/links", chk("links"))
    val windows: StreamingQuery = StreamingPipeline.dependencyWindowsToStore(
      StreamingPipeline.dependencyWindowCounts(SpanSources.linksFromJsonFiles(ctx.spark, s"$dir/links")),
      stores.windows, chk("windows"))
    val spanNames: StreamingQuery =
      StreamingPipeline.spanNamesToStore(envelopes(2), stores.spanNames, chk("names"))
    val remoteNames: StreamingQuery =
      StreamingPipeline.remoteServiceNamesToStore(envelopes(3), stores.remoteNames, chk("remotes"))
    val autocomplete: StreamingQuery = StreamingPipeline.autocompleteTagsToStoreIncremental(
      envelopes(4), IngestPath.Keys, stores.autocomplete, chk("autocomplete"))
    /** The queries that read span records, in the order of `inputs`. */
    val readers: Seq[StreamingQuery] = Seq(traces, links, spanNames, remoteNames, autocomplete)
    val all: Seq[StreamingQuery] = readers :+ windows

    /** Append one chunk to every input; returns its offset (the same on all). */
    def add(c: Seq[(Timestamp, Array[Byte])]): Long = inputs.map(_.addData(c).json.toLong).max
    def drain(): Unit = readers.foreach(_.processAllAvailable())
    def stop(): Unit = all.foreach { q => q.stop(); q.awaitTermination(30000L) }
  }

  private def endOffset(p: StreamingQueryProgress): Long =
    p.sources.headOption.flatMap(s => Option(s.endOffset)).flatMap(_.toLongOption).getOrElse(-1L)
  private def endMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli + p.durationMs.getOrDefault("triggerExecution", 0L)

  def run(ctx: Ctx, rep: Report): Unit = {
    val r = new Random(ctx.args.seed)
    val src = new Source(r, GenParams.BaseMs + 3600000L)
    val warmChunk = src.next(WarmTraces, 1, withLate = false)

    // set-up: start the six queries and commit a first chunk through them
    val (pipe, setupS) = Timer.seconds {
      val p = new Pipeline(ctx, ctx.path("stream"))
      p.add(warmChunk.records)
      p.drain()
      p
    }
    Log(f"pipeline up: $setupS%.2f s")
    var pipeOpen = true
    try {
      // scheduled chunks: (offset, scheduled epoch ms)
      val sent = ArrayBuffer.empty[(Long, Double)]
      var generatorLateMs = 0L
      var plainLag = Seq.empty[Double]

      val tracedLag = Phases.run(ctx, rep) { (traced, deadline) =>
        val first = sent.size
        val chunks = Iterator.continually(src.next(TracesPerChunk, 1, withLate = true))
        var k = 0
        val startNs = System.nanoTime()
        val startMs = System.currentTimeMillis().toDouble
        while (System.nanoTime() < deadline) {
          val c = chunks.next()
          val due = startNs + k * ChunkIntervalMs * 1000000L
          val wait = (due - System.nanoTime()) / 1000000L
          if (wait > 0) Thread.sleep(wait)
          generatorLateMs = math.max(generatorLateMs, (System.nanoTime() - due) / 1000000L)
          val dueMs = startMs + k * ChunkIntervalMs
          val off = ctx.tracer.span("streaming.append")(pipe.add(c.records))
          sent += ((off, dueMs))
          k += 1
        }
        ctx.tracer.span("streaming.catch_up")(pipe.drain())
        ctx.drainBus()
        val progress = pipe.readers.map(q => ctx.progress.of(q.id))
        val lags = sent.drop(first).map { case (off, dueMs) =>
          progress.map(ps => ps.filter(p => endOffset(p) >= off).map(endMs).minOption
            .getOrElse(System.currentTimeMillis())).max - dueMs
        }
        rep.attempted += lags.size
        if (!traced) plainLag = lags.toSeq
        lags.toSeq
      }
      Log(s"timed phase done: ${sent.size} chunks, generator late by up to $generatorLateMs ms")

      // drain: a fixed backlog appended at once, with every span still held
      // back, so all sessions can close after it
      val backlog = src.next(DrainTraces, 3, withLate = false, last = true)
      val (_, drainS) = Timer.seconds {
        ctx.tracer.span("streaming.drain") { pipe.add(backlog.records); pipe.drain() }
      }
      rep.attempted += 1
      Log(f"drained ${backlog.spans} spans in $drainS%.2f s")

      // close every session and window, then compare the stores with the
      // truth: the first flush closes every session, the second closes the
      // first's, whose link edge then closes every window in the second stage
      (1 to 2).foreach { i =>
        pipe.add(Seq(flush(src.clockMs + i * 600000L, i)))
        Seq(pipe.traces, pipe.links).foreach(_.processAllAvailable())
      }
      Log("flushed")
      val truth = new Truth(src.spans.toSeq, IngestPath.Keys)
      val deadline = System.nanoTime() + 60000000000L
      var errs = Verify.stores(ctx, pipe.stores, truth, exactWindows = false, ignore = isFlush)
      while (errs.nonEmpty && System.nanoTime() < deadline) {
        Thread.sleep(500)
        pipe.windows.processAllAvailable()
        errs = Verify.stores(ctx, pipe.stores, truth, exactWindows = false, ignore = isFlush)
      }
      if (errs.nonEmpty) rep.fail(s"stream stores: ${errs.mkString("; ")}")
      Log("verified")

      ctx.drainBus()
      val dropped = pipe.readers.take(2).map(q => ctx.progress.of(q.id)
        .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum)
      dropped.foreach(d => rep.invariant(d == src.late,
        s"session window dropped $d late spans, planted ${src.late}"))
      pipe.stop()
      pipeOpen = false

      if (!ctx.args.trace) {
        val drainRate = backlog.spans / drainS
        rep.put("setup_s", setupS, "s")
        rep.put("throughput_per_s", drainRate, "1/s")
        rep.put("latency_p50_ms", Stats.median(plainLag), "ms")
        rep.put("latency_p95_ms", Stats.pct(plainLag, 0.95), "ms")
        rep.named("setup_s") = (setupS, "s")
        rep.named("stream_lag_p50_ms") = (Stats.median(plainLag), "ms")
        rep.named("stream_lag_p95_ms") = (Stats.pct(plainLag, 0.95), "ms")
        rep.named("stream_drain_spans_per_s") = (drainRate, "1/s")
        rep.named("generator_late_ms_max") = (generatorLateMs.toDouble, "ms")
      } else {
        val ps = ctx.progress.of(pipe.traces.id).filter(_.numInputRows > 0)
        def p50(key: String) = Stats.median(ps.map(_.durationMs.getOrDefault(key, 0L).toDouble))
        Layers.put(rep, "streaming.batches", ps.size.toDouble)
        Layers.put(rep, "streaming.trigger_ms_p50", p50("triggerExecution"))
        Layers.put(rep, "streaming.add_batch_ms_p50", p50("addBatch"))
        Layers.put(rep, "streaming.planning_ms_p50", p50("queryPlanning"))
        Layers.put(rep, "streaming.wal_commit_ms_p50", p50("walCommit"))
        Layers.put(rep, "streaming.commit_offsets_ms_p50", p50("commitOffsets"))
        val ops = ps.flatMap(_.stateOperators)
        Layers.put(rep, "streaming.state_rows_max", ops.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0))
        Layers.put(rep, "streaming.state_mem_bytes_max", ops.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0))
        Layers.put(rep, "streaming.state_commit_ms_p50", Stats.median(ops.map(_.commitTimeMs.toDouble)))
        Layers.put(rep, "streaming.backlog_spans_max", ps.map(_.numInputRows.toDouble).max)
        Layers.put(rep, "streaming.late_dropped", dropped.head.toDouble)
        Layers.put(rep, "store.appends", ps.size.toDouble)
        val files = java.nio.file.Files.walk(java.nio.file.Paths.get(pipe.stores.traces))
          .filter(_.toString.endsWith(".parquet")).count()
        Layers.put(rep, "store.files_per_append", files.toDouble / math.max(1, ps.size))
        // the decode the pipeline runs inside its queries, timed on one
        // thread over the drain backlog's records
        val (_, decodeS) = Timer.seconds(ctx.tracer.span("sources.proto_decode")(
          backlog.records.foreach(rec => ProtoSpans.decodeList(rec._2))))
        Layers.put(rep, "sources.proto_decode_s", decodeS)
        Layers.put(rep, "sources.spans_out", src.spans.size.toDouble)
        CoreTiming.measure(ctx, rep, src.spans.toSeq.groupBy(_.trace_id).values.toSeq)
      }
    } finally if (pipeOpen) pipe.stop()
  }
}
