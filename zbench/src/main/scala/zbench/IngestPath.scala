package zbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import graft.core.{DependencyLinker, TraceMerge}
import graft.model.Span
import graft.operators.{GraftStorage, SpanPipeline, StorageConfig, TraceQueries}
import graft.sources.{ProtoSpans, SpanSources}
import graft.store.StoreLayout
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** The five serving stores under one root directory. */
final case class StoreDirs(root: String) {
  val traces = s"$root/traces"
  val windows = s"$root/windows"
  val spanNames = s"$root/span_names"
  val remoteNames = s"$root/remote_names"
  val autocomplete = s"$root/autocomplete"
}

/** Generated bytes at rest: JSON_V2 line files and a parquet table of proto3
  * records shaped like a Kafka topic dump (timestamp, value).
  */
final case class Staged(json: String, proto: String, protoRecords: Int)

/** Counts taken at the layer boundaries of a traced ingest. */
final case class IngestCounts(spansOut: Long, rejected: Long, traces: Long, links: Long,
    windows: Long)

/** The batch write path composed from the library's public functions:
  * decode, aggregate, link, and write all five stores.
  */
object IngestPath {
  val Keys: Seq[String] = GenParams.TagKeys
  val InputFiles = 8

  def stage(spark: SparkSession, in: SpanInput, dir: String): Staged = {
    import spark.implicits._
    val jsonDir = Paths.get(dir, "json")
    Files.createDirectories(jsonDir)
    val per = math.max(1, (in.jsonLines.size + InputFiles - 1) / InputFiles)
    in.jsonLines.grouped(per).zipWithIndex.foreach { case (lines, i) =>
      Files.write(jsonDir.resolve(f"part-$i%03d.json"), (lines.mkString("\n") + "\n").getBytes(UTF_8))
    }
    val proto = s"$dir/proto"
    in.protoRecords.zipWithIndex
      .map { case (b, i) => (new Timestamp(GenParams.BaseMs + i), b) }
      .toDF("timestamp", "value").repartition(InputFiles)
      .write.mode(SaveMode.Overwrite).parquet(proto)
    Staged(jsonDir.toString, proto, in.protoRecords.size)
  }

  /** Span projection with the event time the autocomplete delta writer
    * partitions by (the span's own timestamp in batch).
    */
  private def spanFields(spans: org.apache.spark.sql.Dataset[Span]): DataFrame =
    spans.toDF().select(col("local_endpoint.service_name").as("service"), col("name"),
      col("remote_endpoint.service_name").as("remote_service"), col("tags"),
      col("timestamp").as("event_us"))

  /** One ingest. Untraced, this is the plain composition: the library's
    * `GraftStorage.assemble` over the decoded spans, then the store writers,
    * each recomputing its lineage as Spark plans it. Traced, each layer's
    * output is also cached and computed at its boundary, so every layer's
    * span holds that layer's work alone.
    */
  def run(ctx: Ctx, in: Staged, out: StoreDirs, batchId: Long): Option[IngestCounts] = {
    val spark = ctx.spark
    import spark.implicits._
    val traced = ctx.tracer.active
    def cached[T](ds: Dataset[T]): Dataset[T] = if (traced) ds.persist() else ds
    // the batch JSON reader keeps a malformed line as an all-null row; drop
    // it at the boundary the way the library's streaming sources do
    val json = SpanSources.fromJson(spark, in.json)
    val valid = col("trace_id").isNotNull && col("id").isNotNull
    val jsonSpans = cached(json.where(valid))
    val protoEnv = cached(ProtoSpans.envelopes(spark.read.parquet(in.proto)))
    ctx.boundary("sources.json_decode", jsonSpans)
    ctx.boundary("sources.proto_decode", protoEnv)
    val spans = jsonSpans.union(protoEnv.map(_.span))

    val stores = storage.assemble(spans)
    val traces = cached(stores.traces.get)
    ctx.boundary("operators.aggregate", traces)
    // assemble derives the windows from its own (uncached) traces; traced
    // runs link from the cached ones so linking is timed alone
    val windows = cached(if (traced) SpanPipeline.dependencyWindows(SpanPipeline.dependencyLinks(traces))
      else stores.dependencyWindows.get)
    ctx.boundary("operators.link_windows", windows)
    val spanNames = cached(stores.spanNames.get)
    val remoteNames = cached(stores.remoteServiceNames.get)
    val fields = spanFields(spans)
    if (traced) ctx.layer("operators.name_sets") {
      Seq(spanNames, remoteNames, stores.autocompleteTags.get)
        .foreach(_.write.format("noop").mode("overwrite").save())
    }

    ctx.layer("store.write_traces")(StoreLayout.writeTraces(traces.toDF(), out.traces))
    ctx.layer("store.write_windows")(StoreLayout.writeDependencyWindows(windows, out.windows, batchId))
    ctx.layer("store.write_sets") {
      spanNames.write.mode(SaveMode.Overwrite).parquet(out.spanNames)
      remoteNames.write.mode(SaveMode.Overwrite).parquet(out.remoteNames)
      StreamingPipeline.appendAutocompleteDelta(fields, Keys, out.autocomplete)
    }

    if (!traced) None
    else {
      val counts = ctx.layer("bench.counts") {
        val protoRecordsDecoded = protoEnv.select("ingest_ts").distinct().count()
        IngestCounts(
          spansOut = jsonSpans.count() + protoEnv.count(),
          rejected = json.where(!valid).count() + (in.protoRecords - protoRecordsDecoded),
          traces = traces.count(),
          links = SpanPipeline.dependencyLinks(traces).count(),
          windows = windows.count())
      }
      Seq(jsonSpans, protoEnv, traces, windows, spanNames, remoteNames).foreach(_.unpersist())
      Some(counts)
    }
  }

  private val storage = new GraftStorage(StorageConfig(autocompleteKeys = Keys))

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
  }

  /** One traced ingest of `in` into `out`: each layer's self time and
    * boundary counts, the store's files and bytes, and the planted counts
    * checked.
    */
  def traced(ctx: Ctx, rep: Report, input: SpanInput, in: Staged, out: StoreDirs): Unit = {
    val prev = ctx.tracer.active
    ctx.tracer.active = true
    ctx.drainBus()
    val before = ctx.groups.total("store.")
    val counts = try ctx.tracer.span("ingest")(run(ctx, in, out, 0L)).get
      finally ctx.tracer.active = prev
    ctx.drainBus()
    val self = ctx.tracer.selfSeconds
    Seq("sources.json_decode", "sources.proto_decode", "operators.aggregate",
      "operators.link_windows", "operators.name_sets", "store.write_traces",
      "store.write_windows", "store.write_sets").foreach { layer =>
      Layers.put(rep, layer + "_s", self.getOrElse(layer, 0.0))
    }
    Layers.put(rep, "sources.spans_out", counts.spansOut.toDouble)
    Layers.put(rep, "sources.rejected", counts.rejected.toDouble)
    Layers.put(rep, "operators.traces_out", counts.traces.toDouble)
    Layers.put(rep, "operators.links_out", counts.links.toDouble)
    Layers.put(rep, "operators.windows_out", counts.windows.toDouble)
    rep.invariant(counts.rejected == input.malformed,
      s"sources rejected ${counts.rejected} records, planted ${input.malformed}")
    rep.invariant(counts.spansOut == input.validSpans,
      s"sources decoded ${counts.spansOut} spans, generated ${input.validSpans}")
    val bytes = ctx.groups.total("store.").bytesWritten - before.bytesWritten
    Layers.put(rep, "store.files_written",
      Files.walk(Paths.get(out.root)).filter(_.toString.endsWith(".parquet")).count().toDouble)
    Layers.put(rep, "store.bytes_written", bytes.toDouble)
    Layers.put(rep, "store.bytes_per_input_byte", bytes.toDouble / input.inputBytes)
  }
}

/** Store contents against the ground truth. */
object Verify {
  /** A read range covering every generated timestamp. */
  val AllEndTs: Long = TraceGen.dataEndMs + 86400000L
  val AllLookback: Long = (GenParams.Days + 2) * 86400000L

  /** Mismatches between the stores under `d` and `truth`. `exactWindows`
    * compares per-window counts (batch windows by root time); otherwise edge
    * totals (the stream windows by session close time). Names, ids and
    * edges for which `ignore` holds are left out on both sides.
    */
  def stores(ctx: Ctx, d: StoreDirs, truth: Truth, exactWindows: Boolean,
      ignore: String => Boolean = _ => false): Seq[String] = ctx.group("bench.verify") {
    val spark = ctx.spark
    val errs = scala.collection.mutable.ArrayBuffer.empty[String]
    val got = TraceQueries.fromStore(StoreLayout.readTraces(spark, d.traces, AllEndTs, AllLookback))
      .collect().filterNot(t => ignore(t.trace_id)).map(t => t.trace_id -> t).toMap
    if (got.keySet != truth.traces.keySet)
      errs += s"traces store holds ${got.size} traces, truth ${truth.traces.size}"
    else {
      val bad = truth.traces.count { case (id, t) => got(id) != t }
      if (bad > 0) errs += s"$bad stored traces differ from the merged truth"
    }
    val win = StoreLayout.readDependencyWindows(spark, d.windows, AllEndTs, AllLookback).collect()
      .map(r => (r.getAs[Long]("window_start_ms"), r.getAs[String]("parent"), r.getAs[String]("child")) ->
        (r.getAs[Long]("call_count"), r.getAs[Long]("error_count")))
      .filterNot(w => ignore(w._1._2) || ignore(w._1._3))
    if (exactWindows) {
      if (win.toMap != truth.windows || win.length != truth.windows.size)
        errs += s"dependency windows: ${win.length} rows, truth ${truth.windows.size}"
    } else {
      val totals = win.groupBy(w => (w._1._2, w._1._3)).map { case (k, ws) =>
        k -> (ws.map(_._2._1).sum, ws.map(_._2._2).sum)
      }
      if (totals != truth.edgeTotals) errs += s"dependency edge totals differ: ${totals.size} edges, " +
        s"truth ${truth.edgeTotals.size}"
    }
    def sets(df: DataFrame): Map[String, Seq[String]] = df.collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).filterNot(kv => ignore(kv._1)).toMap
    if (sets(spark.read.parquet(d.spanNames)) != truth.spanNames) errs += "span-name store differs"
    if (sets(spark.read.parquet(d.remoteNames)) != truth.remoteNames) errs += "remote-name store differs"
    if (sets(StreamingPipeline.readAutocompleteStore(spark, d.autocomplete)) != truth.tagValues)
      errs += "autocomplete store differs"
    errs.toSeq
  }
}

/** `core` timed on one thread over generated traces. */
object CoreTiming {
  def measure(ctx: Ctx, r: Report, traces: Seq[Seq[Span]]): Unit = {
    val merged = ctx.tracer.span("core.merge")(timedPerTrace(traces)(TraceMerge.merge))
    val linked = ctx.tracer.span("core.link") {
      val m = traces.map(TraceMerge.merge)
      timedPerTrace(m)(DependencyLinker.link)
    }
    Layers.put(r, "core.merge_us_per_trace", merged)
    Layers.put(r, "core.link_us_per_trace", linked)
  }

  /** Median over passes of µs per trace; passes repeat for about 0.3 s. */
  private def timedPerTrace(traces: Seq[Seq[Span]])(f: Seq[Span] => Seq[_]): Double = {
    val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + 300000000L
    var sink = 0
    while (passes.size < 3 || System.nanoTime() < deadline) {
      val t0 = System.nanoTime()
      traces.foreach(t => sink += f(t).size)
      passes += (System.nanoTime() - t0) / 1e3 / traces.size
    }
    if (sink == Int.MinValue) println(sink)
    Stats.median(passes)
  }
}
