package zbench

import graft.core.{DependencyLinker, QueryRequest, TraceMerge, Traces}
import graft.model.{Span, Trace}

/** Ground truth from the generator's in-memory spans, computed with the
  * library's typed `core` functions only (no Spark).
  */
final class Truth(spans: Seq[Span], keys: Seq[String]) {

  val traces: Map[String, Trace] = spans.groupBy(_.trace_id).map { case (id, ss) =>
    val merged = TraceMerge.merge(ss)
    id -> Trace(id, merged, Traces.rootTimestamp(merged))
  }

  /** Newest first, ties by id: the order find-traces answers in. */
  private val ordered: IndexedSeq[Trace] =
    traces.values.toIndexedSeq.sortBy(t => (-t.root_ts, t.trace_id))

  def find(req: QueryRequest): Seq[String] =
    ordered.iterator.filter(t => req.testWithTimestamp(t.root_ts, t.spans))
      .take(req.limit).map(_.trace_id).toSeq

  /** (window_start_ms, parent, child) -> (calls, errors), the batch windows:
    * per-trace links stamped with the trace's root timestamp.
    */
  lazy val windows: Map[(Long, String, String), (Long, Long)] =
    traces.values.toSeq.flatMap { t =>
      val ms = t.root_ts / 1000
      DependencyLinker.link(t.spans).map(l => (ms - ms % 60000, l.parent, l.child) -> l)
    }.groupBy(_._1).map { case (k, ls) =>
      k -> (ls.map(_._2.call_count).sum, ls.map(_._2.error_count).sum)
    }

  /** Edge totals over all traces, whatever window they fall in. */
  lazy val edgeTotals: Map[(String, String), (Long, Long)] =
    windows.toSeq.groupBy(w => (w._1._2, w._1._3)).map { case (k, ws) =>
      k -> (ws.map(_._2._1).sum, ws.map(_._2._2).sum)
    }

  def dependencies(endTs: Long, lookback: Long): Seq[(String, String, Long, Long)] =
    windows.toSeq.filter { case ((w, _, _), _) => w >= endTs - lookback && w <= endTs }
      .groupBy(w => (w._1._2, w._1._3)).toSeq.map { case ((p, c), ws) =>
        (p, c, ws.map(_._2._1).sum, ws.map(_._2._2).sum)
      }.sortBy(d => (d._1, d._2)).take(1000)

  lazy val serviceNames: Seq[String] =
    spans.flatMap(_.localServiceName).distinct.sorted.take(1000)

  lazy val spanNames: Map[String, Seq[String]] =
    spans.filter(s => s.localServiceName.isDefined && s.name.isDefined)
      .groupBy(_.localServiceName.get).map { case (k, ss) => k -> ss.flatMap(_.name).distinct.sorted }

  lazy val remoteNames: Map[String, Seq[String]] =
    spans.filter(s => s.localServiceName.isDefined && s.remoteServiceName.isDefined)
      .groupBy(_.localServiceName.get).map { case (k, ss) =>
        k -> ss.flatMap(_.remoteServiceName).distinct.sorted
      }

  lazy val tagValues: Map[String, Seq[String]] =
    keys.map(k => k -> spans.flatMap(_.tags.get(k)).distinct.sorted).filter(_._2.nonEmpty).toMap

  /** Rows the autocomplete delta writer emits: one per (UTC date, key). */
  lazy val autocompleteDeltaRows: Int =
    spans.flatMap(s => s.tags.keys.filter(keys.contains).map(k =>
      (Math.floorDiv(s.timestamp.get, 86400000000L), k))).distinct.size
}
