package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import graft.model.{Span, Trace}
import graft.store.StoreLayout
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** getTrace/getTraceMany merge the matching store rows on the driver: the
  * answer equals the distributed merge-on-read (`fromStore`) restricted to
  * the same ids, with no shuffle anywhere in the lookup.
  */
class TraceLookupSpec extends SparkSpec {

  import spark.implicits._

  private val day1Us = 1704844800000000L // 2024-01-10T00:00Z
  private val hourUs = 3600L * 1000000L

  private def span(trace: String, id: String, ts: Long, parent: Option[String] = None) =
    Span(trace_id = trace, id = id, parent_id = parent, timestamp = Some(ts),
      duration = Some(1000L), name = Some(s"op-$id"))

  private val (a, b, c, d) =
    ("000000000000000a", "000000000000000b", "000000000000000c", "000000000000000d")

  /** Redelivered rows (a), a two-session partial (b), a partial whose second
    * session lands in the next date partition (c), and a plain trace (d).
    */
  private lazy val store: Dataset[Trace] = {
    val dir = Files.createTempDirectory("graft-lookup").toString + "/traces"
    val ta = Trace(a, Seq(span(a, "01", day1Us + hourUs)), day1Us + hourUs)
    val b1 = Trace(b, Seq(span(b, "02", day1Us + 2 * hourUs)), day1Us + 2 * hourUs)
    val b2 = Trace(b, Seq(span(b, "03", day1Us + 3 * hourUs, Some("02"))), day1Us + 3 * hourUs)
    val c1 = Trace(c, Seq(span(c, "04", day1Us + 23 * hourUs)), day1Us + 23 * hourUs)
    val c2 = Trace(c, Seq(span(c, "05", day1Us + 25 * hourUs, Some("04"))), day1Us + 25 * hourUs)
    val td = Trace(d, Seq(span(d, "06", day1Us + 4 * hourUs)), day1Us + 4 * hourUs)
    StoreLayout.writeTraces(Seq(ta, b1, c1, td).toDF(), dir)
    StoreLayout.writeTraces(Seq(ta, b2, c2).toDF(), dir)
    val dates = new java.io.File(dir).list().filter(_.startsWith("trace_date=")).sorted.toSeq
    assert(dates == Seq("trace_date=2024-01-10", "trace_date=2024-01-11"))
    StoreLayout.readTraces(spark, dir, (day1Us + 48 * hourUs) / 1000, 3 * 86400000L)
      .select("trace_id", "spans", "root_ts").as[Trace]
  }

  /** The distributed merge-on-read restricted to `ids`, sorted by id. */
  private def expected(ids: String*): Seq[Trace] =
    TraceQueries.fromStore(store.toDF()).where(col("trace_id").isin(ids: _*))
      .collect().toSeq.sortBy(_.trace_id)

  test("the fixture really holds duplicate and partial rows") {
    assert(store.where(col("trace_id") === a).count() == 2)
    assert(store.where(col("trace_id") === b).count() == 2)
    assert(store.where(col("trace_id") === c).count() == 2)
    assert(expected(b).head.spans.size == 2 && expected(c).head.spans.size == 2)
  }

  test("getTrace equals fromStore filtered to the id, for every row shape") {
    for (id <- Seq(a, b, c, d))
      assert(TraceQueries.getTrace(store, id).collect().toSeq == expected(id), id)
    // request ids are normalized like the store's
    assert(TraceQueries.getTrace(store, "b").collect().toSeq == expected(b))
  }

  test("getTraceMany equals fromStore filtered to the ids, sorted by id") {
    val got = TraceQueries.getTraceMany(store, Seq(d, "c", a, b, a)).collect().toSeq
    assert(got == expected(a, b, c, d))
    assert(got.map(_.trace_id) == Seq(a, b, c, d))
  }

  test("unknown ids return empty") {
    assert(TraceQueries.getTrace(store, "ffffffffffffffff").collect().isEmpty)
    assert(TraceQueries.getTraceMany(store, Seq("ffffffffffffffff")).collect().isEmpty)
    assert(TraceQueries.getTraceMany(store, Seq("ffffffffffffffff", a)).collect().toSeq ==
      expected(a))
  }

  test("getTraceMany reads at most the first 1,000 ids") {
    val unknown = (1 to 1000).map(i => f"ffff$i%012x")
    assert(TraceQueries.getTraceMany(store, unknown :+ a).collect().isEmpty,
      "an id past the cap must not be fetched")
    assert(TraceQueries.getTraceMany(store, a +: unknown).collect().toSeq == expected(a))
  }

  test("a lookup is one Spark job with no shuffle") {
    val (one, oneJobs) = jobsDuring(TraceQueries.getTrace(store, b).collect())
    assert(one.toSeq == expected(b))
    val (many, manyJobs) = jobsDuring(TraceQueries.getTraceMany(store, Seq(a, c)))
    assert(oneJobs == 1 && manyJobs == 1, s"jobs: getTrace $oneJobs, getTraceMany $manyJobs")
    many.collect()
    assert(shuffleExchanges(many.queryExecution.executedPlan) == 0,
      s"by-id lookup must not shuffle:\n${many.queryExecution.executedPlan}")
  }
}
