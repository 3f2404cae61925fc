package zbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.ZbenchBridge
import org.apache.spark.sql.{Dataset, SparkSession}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, result: String, traceDir: String)

/** What a workload hands back: operation counts, failures and metrics. */
final class Report {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  /** metric name -> (value, unit); end-to-end or per-layer by the run mode */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** the workload's own names for its end-to-end numbers */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var invariantsHold = true

  def fail(msg: String): Unit = synchronized {
    failed += 1
    if (errors.size < 20) errors += msg
  }
  /** A whole-run property (planted counts, recall bound); not an operation. */
  def invariant(ok: Boolean, msg: => String): Unit = synchronized {
    if (!ok) { invariantsHold = false; if (errors.size < 20) errors += msg }
  }
  def correct: Boolean = invariantsHold && failed == 0
  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
}

/** The run's session, listeners and tracer, shared by every workload. */
final class Ctx(val spark: SparkSession, val args: Args, val tracer: Tracer,
    val groups: GroupListener, val progress: ProgressListener) {
  def sc = spark.sparkContext
  val nproc: Int = Runtime.getRuntime.availableProcessors()

  /** Run `body` with its Spark jobs under job group `g`. */
  def group[T](g: String)(body: => T): T = {
    val prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(g, g)
    try body
    finally if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, prev)
  }

  /** A layer call: its own job group, and a span when tracing. */
  def layer[T](name: String)(body: => T): T = tracer.span(name)(group(name)(body))

  /** Traced mode only: compute a layer's output at its boundary, into the
    * `noop` sink, so the next layer's time excludes it.
    */
  def boundary(name: String, ds: Dataset[_]): Unit =
    if (tracer.active) layer(name)(ds.write.format("noop").mode("overwrite").save())

  def drainBus(): Unit = ZbenchBridge.drainListenerBus(sc)

  def path(rel: String): String = Paths.get(args.work, rel).toAbsolutePath.toString
}

/** Progress lines on stderr, stamped with seconds since JVM start. */
object Log {
  private val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit =
    System.err.println(f"zbench ${(System.currentTimeMillis() - t0) / 1e3}%7.2fs $msg")
}

object Timer {
  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }
}

object Main {
  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), need("result"), need("trace-dir"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val nproc = Runtime.getRuntime.availableProcessors()
    // the session the repository's own entry points build (Bench, BenchScale,
    // Verify): every core, shuffle partitions = cores, UTC, no UI. The
    // warehouse setting only keeps scratch files inside the work dir (run.py
    // points SPARK_LOCAL_DIRS there too).
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"zbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", Paths.get(args.work, "warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val groups = new GroupListener
    val progress = new ProgressListener
    spark.sparkContext.addSparkListener(groups)
    spark.streams.addListener(progress)
    val traceId = f"${(args.seed * 0x9e3779b97f4a7c15L) ^ args.workload.hashCode}%016x"
    val ctx = new Ctx(spark, args, new Tracer(traceId), groups, progress)
    val report = new Report
    try {
      args.workload match {
        case "query" => QueryWorkload.run(ctx, report)
        case "stream" => StreamWorkload.run(ctx, report)
        case "dedup" => DedupWorkload.run(ctx, report)
        case w => sys.error(s"unknown workload $w")
      }
      if (args.trace) TraceOutput.write(ctx, report)
      writeResult(args, report)
    } finally spark.stop()
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def writeResult(args: Args, r: Report): Unit = {
    def obj(m: collection.Map[String, (Double, String)]) = m.map { case (k, (v, u)) =>
      s"${q(k)}: {${q("value")}: ${num(v)}, ${q("unit")}: ${q(u)}}"
    }.mkString("{", ", ", "}")
    val json = s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": ${obj(r.metrics)}, "named": ${obj(r.named)}, """ +
      s""""errors": ${r.errors.map(q).mkString("[", ", ", "]")}}"""
    Files.write(Paths.get(args.result), (json + "\n").getBytes(UTF_8))
  }
}

/** The measured part of a run. Untraced: one phase of the whole time.
  * Traced: an untraced half, then a traced half inside the run's root span,
  * with the engine counters reset at its start; their per-op walls give the
  * tracing overhead.
  */
object Phases {
  def run(ctx: Ctx, report: Report)(phase: (Boolean, Long) => Seq[Double]): Seq[Double] = {
    val secs = ctx.args.seconds.toDouble
    def deadline(s: Double) = System.nanoTime() + (s * 1e9).toLong
    if (!ctx.args.trace) phase(false, deadline(secs))
    else {
      val plain = phase(false, deadline(secs / 2))
      ctx.drainBus()
      ctx.groups.reset()
      ctx.tracer.active = true
      val t0 = System.nanoTime()
      val traced = ctx.tracer.span("zbench.traced_phase")(phase(true, deadline(secs / 2)))
      val wall = (System.nanoTime() - t0) / 1e9
      Layers.engine(ctx, report, wall, traced.size, Stats.median(plain), Stats.median(traced))
      traced
    }
  }
}
