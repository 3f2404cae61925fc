package zbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.core.QueryRequest
import graft.model.Trace
import graft.operators.{AssembledStores, GraftStorage, StorageConfig, TraceQueries}
import graft.store.StoreLayout
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.{DataFrame, Dataset}

/** One Zipkin UI request. `cls` is the operation class metrics group by. */
sealed trait Request { def cls: String }
final case class Search(req: QueryRequest) extends Request { val cls = "search" }
final case class Lookup(ids: Seq[String]) extends Request { val cls = "lookup" }
final case class Names(kind: String, arg: String) extends Request { val cls = "names" }
final case class Deps(endTs: Long, lookback: Long) extends Request { val cls = "deps" }

/** `query`: two closed-loop clients over stores built once in set-up. */
object QueryWorkload {
  val Traces = 1000
  val Clients = 2
  val Hour = 3600000L
  val Day = 86400000L

  /** Zipkin-UI-like request mix; see BENCHMARK.json for the shares. */
  final class Mix(r: Random, ids: IndexedSeq[String]) {
    private def endTs(): Long = {
      // skewed toward recent hours: geometric over the hours before the end
      var h = 0
      while (h < 71 && r.nextDouble() < 0.75) h += 1
      TraceGen.dataEndMs - h * Hour - r.nextLong(Hour)
    }
    private def lookback() = if (r.nextDouble() < 0.7) Hour else Day
    private def svc() = TraceGen.services(TraceGen.hotService(r))
    private def id() = if (r.nextDouble() < 0.1) TraceGen.hex(r, 16) else ids(r.nextInt(ids.size))

    private var slot = 0

    /** Classes follow a fixed cycle with the mix's shares, so every run
      * issues the same mix; what each request asks for is random.
      */
    def next(): Request = {
      val kind = Mix.cycle(slot % Mix.cycle.length)
      slot += 1
      kind match {
        case 'S' =>
          val s = TraceGen.hotService(r)
          val base = QueryRequest(serviceName = Some(TraceGen.services(s)), endTs = endTs(),
            lookback = lookback(), limit = 10)
          Search(r.nextInt(4) match {
            case 0 => base
            case 1 => base.copy(spanName = Some(TraceGen.spanName(s, r.nextInt(GenParams.NamesPerService))))
            case 2 => base.copy(annotationQuery = QueryRequest.parseAnnotationQuery(
              Seq("env=prod", "http.method=POST", "error", "env=staging")(r.nextInt(4))))
            case _ => base.copy(minDuration = Some(Seq(10000L, 50000L, 100000L)(r.nextInt(3))))
          })
        case 'L' => Lookup(Seq(id()))
        case 'M' => Lookup(Seq.fill(10)(id()))
        case 'N' => r.nextInt(5) match {
          case 0 => Names("services", "")
          case 1 => Names("spans", svc())
          case 2 => Names("remotes", svc())
          case 3 => Names("keys", "")
          case _ => Names("values", IngestPath.Keys(r.nextInt(IngestPath.Keys.size)))
        }
        case _ => Deps(endTs(), lookback())
      }
    }
    def skip(n: Int): Mix = { slot += n; this }
  }

  object Mix {
    /** 20 slots: 7 find-traces (35%), 5 getTrace (25%), 2 getTraceMany
      * (10%), 4 name lookups (20%), 2 dependencies (10%).
      */
    val cycle: String = "SLNSDLSMNSLSNDLSMNLS"
  }

  private val storage = new GraftStorage(StorageConfig(autocompleteKeys = IngestPath.Keys))

  /** The answer as comparable values, and the number of result rows. */
  private type Answer = (Seq[Any], Int)

  /** Run one request: resolve the store (StoreLayout reads), plan, execute. */
  private def execute(ctx: Ctx, d: StoreDirs, q: Request): Answer = {
    val spark = ctx.spark
    import spark.implicits._
    val t = ctx.tracer
    val c = q.cls
    def empty = AssembledStores(None, None, None, None, None)
    def rows(df: DataFrame): Seq[Any] = t.span(s"operators.exec.$c")(df.collect().toSeq.map(_.toSeq))
    def traces(ds: Dataset[Trace]): Seq[Any] = t.span(s"operators.exec.$c")(ds.collect().toSeq)
    def planned[T <: Dataset[_]](ds: T): T = { t.span(s"operators.plan.$c")(ds.queryExecution.executedPlan); ds }
    val out: Seq[Any] = q match {
      case Search(req) =>
        val df = t.span("store.resolve.search")(StoreLayout.readTraces(spark, d.traces, req.endTs, req.lookback))
        traces(planned(storage.getTraces(empty.copy(traces = Some(TraceQueries.fromStore(df))), spark, req)))
      case Lookup(ids) =>
        val df = t.span("store.resolve.lookup")(
          StoreLayout.readTraces(spark, d.traces, Verify.AllEndTs, Verify.AllLookback))
        val stored = df.select("trace_id", "spans", "root_ts").as[Trace]
        val s = empty.copy(traces = Some(stored))
        traces(planned(if (ids.size == 1) storage.getTrace(s, spark, ids.head)
          else storage.getTraceMany(s, spark, ids)))
      case Names(kind, arg) =>
        val s = t.span("store.resolve.names") {
          if (kind == "keys" || kind == "values")
            empty.copy(autocompleteTags = Some(StreamingPipeline.readAutocompleteStore(spark, d.autocomplete)))
          else if (kind == "remotes") empty.copy(remoteServiceNames = Some(spark.read.parquet(d.remoteNames)))
          else empty.copy(spanNames = Some(spark.read.parquet(d.spanNames)))
        }
        rows(planned(kind match {
          case "services" => storage.serviceNames(s, spark)
          case "spans" => storage.spanNames(s, spark, arg)
          case "remotes" => storage.remoteServiceNames(s, spark, arg)
          case "keys" => storage.autocompleteKeys(s, spark)
          case _ => storage.autocompleteValues(s, spark, arg)
        }))
      case Deps(endTs, lookback) =>
        val w = t.span("store.resolve.deps")(StoreLayout.readDependencyWindows(spark, d.windows, endTs, lookback))
        rows(planned(storage.dependencies(empty.copy(dependencyWindows = Some(w)), spark, endTs, lookback)))
    }
    (out, out.size)
  }

  /** The expected answer, from the ground truth. */
  private def expected(truth: Truth, q: Request): Seq[Any] = q match {
    case Search(req) => truth.find(req).map(truth.traces)
    case Lookup(ids) => ids.distinct.flatMap(truth.traces.get).sortBy(_.trace_id)
    case Names("services", _) => truth.serviceNames.map(Seq(_))
    case Names("spans", s) => truth.spanNames.getOrElse(s, Nil).map(Seq(_))
    case Names("remotes", s) => truth.remoteNames.getOrElse(s, Nil).map(Seq(_))
    case Names("keys", _) => truth.tagValues.keys.toSeq.sorted.map(Seq(_))
    case Names(_, k) => truth.tagValues.getOrElse(k, Nil).map(Seq(_))
    case Deps(endTs, lookback) => truth.dependencies(endTs, lookback).map(d => Seq(d._1, d._2, d._3, d._4))
  }

  private def normalize(q: Request, got: Seq[Any]): Seq[Any] = q match {
    case Lookup(_) => got.map(_.asInstanceOf[Trace]).sortBy(_.trace_id)
    case _ => got
  }

  def run(ctx: Ctx, rep: Report): Unit = {
    val r = new Random(ctx.args.seed)
    val input = SpanInput(r, TraceGen.batch(r, Traces))
    val truth = new Truth(input.spans, IngestPath.Keys)
    val staged = IngestPath.stage(ctx.spark, input, ctx.path("input"))
    Log(s"staged ${input.validSpans} spans")
    // set-up: building the five stores through the batch ingest path, once,
    // in a fresh JVM (as a service start would). A traced run traces this
    // build: it gives the ingest path's layers.
    val dirs = StoreDirs(ctx.path("stores"))
    val (_, setupS) = Timer.seconds(
      if (ctx.args.trace) IngestPath.traced(ctx, rep, input, staged, dirs)
      else IngestPath.run(ctx, staged, dirs, 0L))
    Log(f"stores built in $setupS%.2f s")
    if (ctx.args.trace) {
      val built = Verify.stores(ctx, dirs, truth, exactWindows = true)
      rep.invariant(built.isEmpty, s"stores built in set-up: ${built.mkString("; ")}")
    }
    val ids = truth.traces.keys.toIndexedSeq.sorted
    // one untimed pass over the whole cycle, by both clients, warms every
    // request path; each client's requests come from its own seeded stream
    (0 until Clients).map { c =>
      val warm = new Mix(new Random(ctx.args.seed * 7919 + c), ids).skip(c * Mix.cycle.length / Clients)
      val th = new Thread(() => (0 until Mix.cycle.length / Clients).foreach(_ => execute(ctx, dirs, warm.next())))
      th.start()
      th
    }.foreach(_.join())
    Log("warm requests done")

    val lat = ArrayBuffer.empty[(String, Double)]
    // per class, in the last phase run: requests and result rows
    val perClass = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val rowsOut = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var plainOps = 0L
    var plainWall = 0.0

    val tracedMs = Phases.run(ctx, rep) { (traced, deadline) =>
      val t0 = System.nanoTime()
      val phase = ArrayBuffer.empty[(String, Double)]
      perClass.clear()
      rowsOut.clear()
      val clients = (0 until Clients).map { c =>
        val th = new Thread(() => {
          val mix = new Mix(new Random(ctx.args.seed * 1000003 + c * 31 + (if (traced) 17 else 0)), ids)
            .skip(c * Mix.cycle.length / Clients)
          while (System.nanoTime() < deadline) {
            val q = mix.next()
            val t1 = System.nanoTime()
            val res = scala.util.Try(ctx.group(s"query.${q.cls}")(execute(ctx, dirs, q)))
            val ms = (System.nanoTime() - t1) / 1e6
            val ok = res.toOption.exists(a => normalize(q, a._1) == expected(truth, q))
            phase.synchronized {
              phase += q.cls -> ms
              rep.attempted += 1
              perClass(q.cls) += 1
              res.foreach(a => rowsOut(q.cls) += a._2)
            }
            if (!ok) rep.fail(s"$q: " + res.fold(e => e.toString, a => s"${a._2} rows differ from truth"))
          }
        }, s"client-$c")
        th.start()
        th
      }
      clients.foreach(_.join())
      if (!traced) {
        lat ++= phase
        plainOps = phase.size
        plainWall = (System.nanoTime() - t0) / 1e9
      }
      phase.map(_._2).toSeq
    }

    if (!ctx.args.trace) {
      val all = lat.map(_._2)
      rep.put("setup_s", setupS, "s")
      rep.put("throughput_per_s", plainOps / plainWall, "1/s")
      rep.put("latency_p50_ms", Stats.median(all), "ms")
      rep.put("latency_p95_ms", Stats.pct(all, 0.95), "ms")
      rep.named("setup_s") = (setupS, "s")
      // the set-up store build is the batch ingest path, run cold
      rep.named("ingest_spans_per_s") = (input.validSpans / setupS, "1/s")
      rep.named("query_ops_per_s") = (plainOps / plainWall, "1/s")
      rep.named("query_p50_ms") = (Stats.median(all), "ms")
      rep.named("query_p95_ms") = (Stats.pct(all, 0.95), "ms")
      Layers.classes.foreach { c =>
        rep.named(s"${c}_p50_ms") = (Stats.median(lat.filter(_._1 == c).map(_._2)), "ms")
      }
    } else {
      val self = ctx.tracer.selfSeconds
      val g = ctx.groups.snapshot()
      Layers.classes.foreach { c =>
        val n = math.max(1L, perClass(c))
        Layers.put(rep, s"operators.plan_ms.$c", self.getOrElse(s"operators.plan.$c", 0.0) * 1000 / n)
        Layers.put(rep, s"operators.exec_ms.$c", self.getOrElse(s"operators.exec.$c", 0.0) * 1000 / n)
        Layers.put(rep, s"store.resolve_ms.$c", self.getOrElse(s"store.resolve.$c", 0.0) * 1000 / n)
        val gs = g.getOrElse(s"query.$c", new GroupStats)
        Layers.put(rep, s"operators.rows_read_per_result.$c",
          gs.recordsRead.toDouble / math.max(1L, rowsOut(c)))
        Layers.put(rep, s"store.bytes_read_per_op.$c", gs.bytesRead.toDouble / n)
      }
      CoreTiming.measure(ctx, rep, input.traces)
    }
    if (tracedMs.isEmpty) rep.invariant(false, "no request completed")
  }
}
