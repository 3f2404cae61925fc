package zbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

object Stats {
  /** Linear-interpolated percentile, q in [0, 1]; NaN when empty. */
  def pct(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.length - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 0.5)
}

/** Task metrics of one job group. */
final class GroupStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var recordsRead = 0L
  var bytesRead = 0L
  var recordsWritten = 0L
  var bytesWritten = 0L
  val waitMs = ArrayBuffer.empty[Double]

  def add(o: GroupStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    runMs += o.runMs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill; recordsRead += o.recordsRead
    bytesRead += o.bytesRead; recordsWritten += o.recordsWritten
    bytesWritten += o.bytesWritten; waitMs ++= o.waitMs
  }
}

/** Engine counters keyed by the job group (`spark.jobGroup.id`) the job ran
  * under. All mutation happens on the listener-bus thread; readers call
  * [[snapshot]] after draining the bus.
  */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val groups = new ConcurrentHashMap[String, GroupStats]()

  private def of(g: String) = groups.computeIfAbsent(g, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    of(g).jobs += 1
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    of(stageGroup.getOrDefault(e.stageInfo.stageId, "none")).stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = of(stageGroup.getOrDefault(e.stageId, "none"))
    s.tasks += 1
    if (stageSubmit.containsKey(e.stageId))
      s.waitMs += (e.taskInfo.launchTime - stageSubmit.get(e.stageId)).toDouble
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.recordsRead += m.inputMetrics.recordsRead
      s.bytesRead += m.inputMetrics.bytesRead
      s.recordsWritten += m.outputMetrics.recordsWritten
      s.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  /** Forget everything counted so far (call after draining the bus). */
  def reset(): Unit = groups.clear()

  /** Copy of every group's counters, keyed by group id. */
  def snapshot(): Map[String, GroupStats] = groups.asScala.toMap.map { case (k, v) =>
    val c = new GroupStats; c.add(v); k -> c
  }

  /** Sum over the groups whose id starts with `prefix`, leaving out the
    * benchmark's own bookkeeping jobs (groups named `bench.*`).
    */
  def total(prefix: String = ""): GroupStats = {
    val t = new GroupStats
    snapshot().foreach { case (k, v) =>
      if (k.startsWith(prefix) && !k.startsWith("bench.")) t.add(v)
    }
    t
  }
}

/** Every micro-batch progress report, with the query it came from. */
final class ProgressListener extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
    events.asScala.filter(_.id == id).toSeq
}

/** Benchmark-side spans around calls into the library. Kept in memory and
  * written once, at the end, as one Zipkin JSON_V2 trace.
  */
final case class SpanRec(id: Long, parent: Long, name: String, startUs: Long, endUs: Long,
    thread: String)

final class Tracer(traceId: String) {
  /** Spans are recorded only while active (the traced segment of a run). */
  @volatile var active = false


  /** Every span without a parent on its own thread hangs off the run's root
    * span, id 1, which [[records]] closes around all the others.
    */
  private val RootId = 1L
  private val ids = new AtomicLong(RootId + 1)
  private val recs = new ConcurrentLinkedQueue[SpanRec]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  // one clock for every span: wall-clock anchor plus monotonic offset
  private val epochUs0 = System.currentTimeMillis() * 1000
  private val nano0 = System.nanoTime()
  private def nowUs = epochUs0 + (System.nanoTime() - nano0) / 1000

  /** Run `body` inside a span named `name`, child of the caller's span (or of
    * the run's root span on a thread that has none).
    */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = ids.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(RootId)
      stack.set(id :: stack.get)
      val start = nowUs
      try body
      finally {
        stack.set(stack.get.tail)
        recs.add(SpanRec(id, parent, name, start, math.max(start + 1, nowUs),
          Thread.currentThread.getName))
      }
    }

  /** The recorded spans, with the root span `rootName` around them. */
  def records(rootName: String): Seq[SpanRec] = {
    val rs = recs.asScala.toSeq
    if (rs.isEmpty) rs
    else SpanRec(RootId, 0L, rootName, rs.map(_.startUs).min, rs.map(_.endUs).max,
      Thread.currentThread.getName) +: rs
  }

  /** Self time per span name, seconds: each span's duration minus the part of
    * it its children cover.
    */
  def selfSeconds: Map[String, Double] = {
    val all = recs.asScala.toSeq
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, rs) =>
      name -> rs.map { r =>
        val covered = union(children.getOrElse(r.id, Nil).map(c =>
          (math.max(c.startUs, r.startUs), math.min(c.endUs, r.endUs))))
        (r.endUs - r.startUs - covered).toDouble / 1e6
      }.sum
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var end = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    covered
  }

  /** JSON_V2 lines (the library's snake_case span schema), one per span. */
  def jsonV2Lines(service: String, rootName: String): Seq[String] =
    records(rootName).sortBy(_.startUs).map { r =>
      Codec.jsonLine(graft.model.Span(
        trace_id = traceId,
        parent_id = if (r.parent == 0L) None else Some(f"${r.parent}%016x"),
        id = f"${r.id}%016x",
        name = Some(r.name),
        timestamp = Some(r.startUs),
        duration = Some(r.endUs - r.startUs),
        local_endpoint = Some(graft.model.Endpoint(service_name = Some(service))),
        tags = Map("layer" -> r.name.takeWhile(_ != '.'), "thread" -> r.thread)))
    }
}
