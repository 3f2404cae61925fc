package graft.store

import java.nio.file.Files
import java.time.LocalDate

import graft.SparkSpec
import graft.model.{Span, Trace}
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The serving reads state each store's schema instead of inferring it:
  * building a read starts no Spark job, on a plain store and through the
  * generation leg of a compacted one, and the answer is the one a
  * schema-inferred read of the same files gives.
  */
class StoreReadJobsSpec extends SparkSpec {

  import spark.implicits._

  private val day1Us = 1704844800000000L // 2024-01-10T00:00Z
  private val dayUs = 86400L * 1000000L
  private val hourUs = 3600L * 1000000L
  private val day1 = LocalDate.parse("2024-01-10")

  private def tmp(name: String): String =
    Files.createTempDirectory("graft-readjobs").toString + "/" + name

  private def trace(id: String, ts: Long, spanId: String) =
    Trace(id, Seq(Span(trace_id = id, id = spanId, timestamp = Some(ts),
      tags = Map("k" -> spanId))), ts)

  /** Rows as comparable strings, columns in name order. */
  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect()
      .map(_.toString).toSeq.sorted

  /** `read` starts no job and answers like `inferred`. */
  private def assertStatedRead(what: String, read: => DataFrame, inferred: => DataFrame): Unit = {
    val (df, jobs) = jobsDuring(read)
    assert(jobs == 0, s"$what: building the read started $jobs Spark job(s)")
    val want = rows(inferred)
    assert(want.nonEmpty, s"$what: fixture should serve rows")
    assert(df.columns.sorted.toSeq == inferred.columns.sorted.toSeq, what)
    assert(rows(df) == want, what)
  }

  test("job counter sees a schema-inference job (control)") {
    val dir = tmp("traces")
    StoreLayout.writeTraces(Seq(trace("000000000000000a", day1Us, "01")).toDF(), dir)
    assert(jobsDuring(StoreLayout.readAll(spark, dir, "trace_date"))._2 >= 1)
  }

  test("readTraces: no job, same rows as an inferred read — plain, mixed and compacted") {
    val dir = tmp("traces")
    val a = trace("000000000000000a", day1Us + hourUs, "01")
    StoreLayout.writeTraces(Seq(a, a, // redelivered
      trace("000000000000000b", day1Us + dayUs + hourUs, "02"),
      trace("000000000000000c", day1Us + 2 * dayUs + hourUs, "03")).toDF(), dir)
    // [day 1 00:00, day 2 12:00] ms: day 3 is out of range
    val endTs = (day1Us + dayUs + 12 * hourUs) / 1000
    val lookback = 36 * 3600000L
    def inferred() = StoreLayout.readAll(spark, dir, "trace_date")
      .where(col("trace_date") <= lit("2024-01-11").cast("date"))
      .where(col("root_ts").between((endTs - lookback) * 1000, endTs * 1000))
    def check(state: String) = assertStatedRead(s"readTraces ($state)",
      StoreLayout.readTraces(spark, dir, endTs, lookback), inferred())

    check("plain")
    // day 1 compacted, then a fresh loose append on it: generation leg
    // (generation + unabsorbed loose file) plus the discovery leg
    StoreLayout.compactTracePartitions(spark, dir, Seq(day1))
    StoreLayout.writeTraces(Seq(trace("000000000000000a", day1Us + hourUs, "04")).toDF(), dir)
    check("mixed")
    StoreLayout.compactTraces(spark, dir)
    check("compacted")

    // a range matching no partition serves the stated shape, job-free
    val (none, jobs) = jobsDuring(StoreLayout.readTraces(spark, dir,
      endTs = 1893456000000L, lookback = 3600000L)) // 2030
    assert(jobs == 0 && none.count() == 0)
    assert(none.columns.toSeq == Seq("trace_id", "spans", "root_ts", "trace_date"))
  }

  test("readDependencyWindows: no job, same rows as an inferred read — plain and compacted") {
    val dir = tmp("deps")
    val day1Ms = day1Us / 1000
    val windows = Seq(
      (day1Ms, "api", "db", 3L, 1L),
      (day1Ms + 60000L, "api", "cache", 2L, 0L),
      (day1Ms + 86400000L, "web", "api", 5L, 0L)
    ).toDF("window_start_ms", "parent", "child", "call_count", "error_count")
    StoreLayout.writeDependencyWindows(windows, dir, batchId = 1L)
    StoreLayout.writeDependencyWindows(windows, dir, batchId = 1L) // replayed batch
    StoreLayout.writeDependencyWindows(windows, dir, batchId = 2L)
    val endTs = day1Ms + 86400000L + 3600000L
    def inferred() = StoreLayout.readAll(spark, dir, "window_date")
      .where(col("window_start_ms").between(day1Ms + 30000L, endTs))
      .dropDuplicates().drop("batch_id")
    def check(state: String) = assertStatedRead(s"readDependencyWindows ($state)",
      StoreLayout.readDependencyWindows(spark, dir, endTs, endTs - day1Ms - 30000L),
      inferred())

    check("plain")
    StoreLayout.compactDependencyPartitions(spark, dir, Seq(day1))
    StoreLayout.writeDependencyWindows(windows, dir, batchId = 2L) // replay after compaction
    check("mixed")
    StoreLayout.compactDependencyWindows(spark, dir)
    check("compacted")
  }

  test("readAutocompleteStore: no job, same sets as an inferred read — plain and compacted") {
    val dir = tmp("actags")
    def fields(v: String, us: Long) =
      Seq(("svc", "get", null: String, Map("k" -> v, "x" -> v), us))
        .toDF("service", "name", "remote_service", "tags", "event_us")
    StreamingPipeline.appendAutocompleteDelta(fields("v1", day1Us), Seq("k", "x"), dir)
    StreamingPipeline.appendAutocompleteDelta(fields("v2", day1Us + dayUs), Seq("k", "x"), dir)
    def inferred() = StoreLayout.collapseSetDeltas(
      StoreLayout.readSetStore(spark, dir), "tag_key", "values")
    def check(state: String) = assertStatedRead(s"readAutocompleteStore ($state)",
      StreamingPipeline.readAutocompleteStore(spark, dir), inferred())

    check("plain")
    StoreLayout.compactSetStorePartitions(spark, dir, "tag_key", "values", Seq(day1))
    StreamingPipeline.appendAutocompleteDelta(fields("v3", day1Us), Seq("k"), dir)
    check("mixed")
    StoreLayout.compactSetStore(spark, dir, "tag_key", "values")
    check("compacted")
  }
}
