package zbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The per-layer metric catalogue. A traced run reports every entry; a layer
  * the workload does not exercise reads 0.
  */
object Layers {
  val classes: Seq[String] = Seq("lookup", "search", "names", "deps")

  val catalog: Seq[(String, String)] = Seq(
    "sources.json_decode_s" -> "s", "sources.proto_decode_s" -> "s",
    "sources.spans_out" -> "count", "sources.rejected" -> "count",
    "core.merge_us_per_trace" -> "us", "core.link_us_per_trace" -> "us",
    "operators.aggregate_s" -> "s", "operators.link_windows_s" -> "s",
    "operators.name_sets_s" -> "s", "operators.traces_out" -> "count",
    "operators.links_out" -> "count", "operators.windows_out" -> "count") ++
    classes.flatMap(c => Seq(s"operators.plan_ms.$c" -> "ms", s"operators.exec_ms.$c" -> "ms",
      s"operators.rows_read_per_result.$c" -> "rows")) ++ Seq(
    "store.write_traces_s" -> "s", "store.write_windows_s" -> "s", "store.write_sets_s" -> "s",
    "store.files_written" -> "count", "store.bytes_written" -> "bytes",
    "store.bytes_per_input_byte" -> "ratio") ++
    classes.flatMap(c => Seq(s"store.resolve_ms.$c" -> "ms", s"store.bytes_read_per_op.$c" -> "bytes")) ++
    Seq(
    "store.appends" -> "count", "store.files_per_append" -> "count",
    "streaming.batches" -> "count", "streaming.trigger_ms_p50" -> "ms",
    "streaming.add_batch_ms_p50" -> "ms", "streaming.planning_ms_p50" -> "ms",
    "streaming.wal_commit_ms_p50" -> "ms", "streaming.commit_offsets_ms_p50" -> "ms",
    "streaming.state_rows_max" -> "rows", "streaming.state_mem_bytes_max" -> "bytes",
    "streaming.state_commit_ms_p50" -> "ms", "streaming.backlog_spans_max" -> "count",
    "streaming.late_dropped" -> "count",
    "functions.curate_s" -> "s", "functions.pairs_s" -> "s", "functions.components_s" -> "s",
    "functions.drop_s" -> "s", "functions.pairs_out" -> "count", "functions.planted_recall" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_cpu_s" -> "s", "spark.cpu_util" -> "ratio", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes", "spark.gc_s" -> "s",
    "spark.tasks_per_op" -> "count", "spark.task_wait_ms_p50" -> "ms",
    "jvm.heap_peak_mb" -> "MB",
    "trace.overhead_ms_per_op" -> "ms", "trace.overhead_share" -> "ratio", "trace.spans" -> "count")

  private val units = catalog.toMap

  def put(r: Report, name: String, value: Double): Unit =
    r.put(name, value, units.getOrElse(name, sys.error(s"metric $name is not in the catalogue")))

  /** Fill every catalogue entry the workload left unset with 0. */
  def complete(r: Report): Unit = catalog.foreach { case (n, u) =>
    if (!r.metrics.contains(n)) r.put(n, 0.0, u)
  }

  /** Self seconds of the traced layer `name`, per operation. */
  def selfPerOp(ctx: Ctx, name: String, ops: Long): Double =
    ctx.tracer.selfSeconds.getOrElse(name, 0.0) / math.max(1L, ops)

  /** Engine counters for the traced segment (the listener was reset at its
    * start), the per-group table into the trace directory, heap peak, and
    * the tracing overhead from the untraced and traced per-op walls.
    */
  def engine(ctx: Ctx, r: Report, wallS: Double, ops: Long,
      untracedOpMs: Double, tracedOpMs: Double): Unit = {
    ctx.drainBus()
    val t = ctx.groups.total()
    put(r, "spark.jobs", t.jobs.toDouble)
    put(r, "spark.stages", t.stages.toDouble)
    put(r, "spark.tasks", t.tasks.toDouble)
    put(r, "spark.task_cpu_s", t.cpuNs / 1e9)
    put(r, "spark.cpu_util", t.cpuNs / 1e9 / (wallS * ctx.nproc))
    put(r, "spark.shuffle_write_bytes", t.shuffleWrite.toDouble)
    put(r, "spark.shuffle_read_bytes", t.shuffleRead.toDouble)
    put(r, "spark.spill_bytes", t.spill.toDouble)
    put(r, "spark.gc_s", t.gcMs / 1e3)
    put(r, "spark.tasks_per_op", t.tasks.toDouble / math.max(1L, ops))
    put(r, "spark.task_wait_ms_p50", if (t.waitMs.isEmpty) 0.0 else Stats.median(t.waitMs))
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    put(r, "jvm.heap_peak_mb", heapPeak / 1048576.0)
    put(r, "trace.overhead_ms_per_op", tracedOpMs - untracedOpMs)
    put(r, "trace.overhead_share", (tracedOpMs - untracedOpMs) / untracedOpMs)
    val rows = ctx.groups.snapshot().toSeq.sortBy(_._1).map { case (g, s) =>
      f"""{"group": "$g", "jobs": ${s.jobs}, "stages": ${s.stages}, "tasks": ${s.tasks}, """ +
        f""""task_cpu_s": ${s.cpuNs / 1e9}%.4f, "gc_s": ${s.gcMs / 1e3}%.3f, """ +
        f""""shuffle_write_bytes": ${s.shuffleWrite}, "shuffle_read_bytes": ${s.shuffleRead}, """ +
        f""""spill_bytes": ${s.spill}, "records_read": ${s.recordsRead}, "bytes_read": ${s.bytesRead}, """ +
        f""""records_written": ${s.recordsWritten}, "bytes_written": ${s.bytesWritten}}"""
    }
    Files.createDirectories(Paths.get(ctx.args.traceDir))
    Files.write(Paths.get(ctx.args.traceDir, s"${ctx.args.workload}-seed${ctx.args.seed}-groups.json"),
      rows.mkString("[\n", ",\n", "\n]\n").getBytes(UTF_8))
  }
}

/** Writes the traced run's spans as one Zipkin JSON_V2 trace and reads them
  * back through the library's own find-traces.
  */
object TraceOutput {
  def write(ctx: Ctx, r: Report): Unit = {
    ctx.tracer.active = false
    val lines = ctx.tracer.jsonV2Lines("zbench", s"zbench.${ctx.args.workload}")
    val dir = Paths.get(ctx.args.traceDir)
    Files.createDirectories(dir)
    val file = dir.resolve(s"${ctx.args.workload}-seed${ctx.args.seed}.json")
    Files.write(file, (lines.mkString("\n") + "\n").getBytes(UTF_8))
    Layers.put(r, "trace.spans", lines.size.toDouble)
    val spans = graft.sources.SpanSources.fromJson(ctx.spark, file.toAbsolutePath.toString)
    val found = graft.operators.TraceQueries.getTraces(
      graft.operators.SpanPipeline.aggregateTraces(spans),
      graft.core.QueryRequest(serviceName = Some("zbench"), endTs = System.currentTimeMillis(),
        lookback = 86400000L, limit = 10)).collect()
    r.invariant(found.length == 1 && found.head.spans.size == lines.size,
      s"trace file read back as ${found.length} traces, ${found.map(_.spans.size).sum} spans, " +
        s"expected 1 trace of ${lines.size}")
    Layers.complete(r)
  }
}
