package graft.operators

import graft.core.QueryRequest
import graft.model.{Span, Spans, Trace}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The Zipkin query surface (reference HTTP routes,
  * /root/reference storage/.../KafkaStorageHttpService.java:69-326 — SURVEY
  * §2.1 S7, §3.3) as a library of DataFrame expressions over the pipeline's
  * sink tables. Scatter-gather/interactive-query routing (S8/S9) disappears:
  * a Dataset over all partitions IS the gather; the reference's per-store
  * result caps (W4) are kept as `limit`s so driver-side collects stay small.
  */
object TraceQueries {

  /** find-traces (F1+F2+W1+W2): time-range prune relationally (partition
    * prunable at scale), full predicate per trace, newest-first, limit.
    * Deviation noted in SURVEY §2.6 W2: deterministic global top-k instead of
    * the reference's scan-order-dependent limit-before-sort.
    */
  def getTraces(traces: Dataset[Trace], request: QueryRequest): Dataset[Trace] = {
    // F1+F2: the full truth table as ONE relational predicate (the typed
    // twin `request.testWithTimestamp` is spec-pinned equivalent): the range
    // conjunct reaches the scan as a prunable filter, and no Trace object is
    // deserialized for rows the predicate rejects. Ranged against the
    // STORE's trace timestamp so timestamp-less traces (stored under their
    // session close time) stay findable instead of failing a recomputed
    // ts=0 range check.
    traces
      .where(QueryRequest.toPredicate(request, col("root_ts"), col("spans")))
      .orderBy(desc("root_ts"), asc("trace_id"))     // W1/W3 + deterministic tiebreak
      .limit(request.limit)
  }

  /** get-trace by ID: single-key lookup, partial rows merged
    * (KafkaStorageHttpService.java:243-266) — see [[mergeOnDriver]].
    */
  def getTrace(traces: Dataset[Trace], traceId: String): Dataset[Trace] =
    mergeOnDriver(traces.where(col("trace_id") === Spans.normalizeTraceId(traceId)))

  /** get-traces by ID list, capped at 1,000 ids (SURVEY §2.5 J4, W4).
    * Multiple rows per id (at-least-once appends, multi-session partials)
    * MERGE — an arbitrary-survivor dropDuplicates would return a partial
    * trace.
    */
  def getTraceMany(traces: Dataset[Trace], traceIds: Seq[String]): Dataset[Trace] = {
    val ids = traceIds.take(1000).map(Spans.normalizeTraceId)
    mergeOnDriver(traces.where(col("trace_id").isin(ids: _*)))
  }

  /** All service names, sorted, capped 1,000 (KafkaSpanStore.java:130). */
  def serviceNames(spanNamesTable: DataFrame): DataFrame =
    spanNamesTable.select(col("service")).distinct().orderBy("service").limit(1000)

  /** Span names for one service. */
  def spanNames(spanNamesTable: DataFrame, service: String): DataFrame =
    spanNamesTable.where(col("service") === service)
      .select(explode(col("span_names")).as("span_name")).orderBy("span_name").limit(1000)

  /** Remote service names for one service. */
  def remoteServiceNames(remoteTable: DataFrame, service: String): DataFrame =
    remoteTable.where(col("service") === service)
      .select(explode(col("remote_service_names")).as("remote_service_name"))
      .orderBy("remote_service_name").limit(1000)

  /** Dependency graph over [endTs−lookback, endTs]: range-prune the windowed
    * store then merge = groupBy(parent, child).sum (SURVEY §2.4 A5;
    * KafkaStorageHttpService.java:69-96).
    */
  /** Output schema of [[dependencies]] — shared with the disabled-surface
    * empty result (GraftStorage) so the two shapes cannot drift.
    */
  val dependenciesSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("parent",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("child",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("call_count",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("error_count",
        org.apache.spark.sql.types.LongType)))

  def dependencies(dependencyWindows: DataFrame, endTs: Long, lookback: Long): DataFrame =
    dependencyWindows
      .where(col("window_start_ms").between(endTs - lookback, endTs))
      .groupBy("parent", "child")
      .agg(sum("call_count").as("call_count"), sum("error_count").as("error_count"))
      .orderBy("parent", "child") // deterministic truncation at the cap
      .limit(1000)

  /** Autocomplete tag keys (KafkaStorageHttpService.java:292-309). */
  def autocompleteKeys(autocompleteTable: DataFrame): DataFrame =
    autocompleteTable.select(col("tag_key")).distinct().orderBy("tag_key").limit(1000)

  /** Autocomplete values for one key (KafkaAutocompleteTags.java:27 cap). */
  def autocompleteValues(autocompleteTable: DataFrame, key: String): DataFrame =
    autocompleteTable.where(col("tag_key") === key)
      .select(explode(col("values")).as("value")).orderBy("value").limit(1000)

  /** JSON_V2 response encoding (SC6: the reference writes nested trace lists
    * as JSON, KafkaStorageHttpService.java:329-353) — one JSON array of
    * spans per trace row. Null fields are omitted like zipkin's writer.
    */
  def toJsonV2(traces: Dataset[Trace]): DataFrame =
    traces.toDF().select(col("trace_id"), jsonV2(col("spans")).as("json"))

  /** The SC6 encode as a reusable column, so gates that need the original
    * spans next to their encoding share the exact production expression.
    */
  def jsonV2(spans: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    to_json(spans, java.util.Map.of("ignoreNullFields", "true"))

  /** Adapt a store-layout DataFrame (possibly carrying partition columns)
    * back to the typed trace Dataset the query functions take, re-merging
    * per trace id: the store's at-least-once appends and multi-session
    * partial traces collapse here, exactly like the reference's query-time
    * fetch+merge (TraceStorageTopology.java:108-115 / zipkin-core
    * Trace.merge). TraceMerge is idempotent, so already-canonical rows pass
    * through unchanged. The merge is distributed (one groupByKey shuffle):
    * unlike a by-id lookup, a range read has no bound on its row count.
    */
  def fromStore(df: DataFrame): Dataset[Trace] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select("trace_id", "spans", "root_ts").as[Trace]
      .groupByKey(_.trace_id).mapGroups((id, it) => mergeRows(id, it.toSeq))
  }

  /** getTrace served from the bucketed point-lookup store (S8/S9: the
    * reference routes a key to the single store instance owning it,
    * internal/KafkaStoreSingleKeyListCall.java:36-45; here the bucketed
    * layout's hash-clustering on trace_id IS the routing — the scan prunes
    * to the one bucket holding the id, and the merge groups without an
    * Exchange). Same answer as [[getTrace]] by construction.
    */
  def getTraceBucketed(store: DataFrame, traceId: String): Dataset[Trace] =
    mergeBucketed(store.where(col("trace_id") === Spans.normalizeTraceId(traceId)))

  /** getTraceMany from the bucketed store — isin prunes to ≤ |ids| buckets. */
  def getTraceManyBucketed(store: DataFrame, traceIds: Seq[String]): Dataset[Trace] = {
    val ids = traceIds.take(1000).map(Spans.normalizeTraceId)
    mergeBucketed(store.where(col("trace_id").isin(ids: _*)))
  }

  /** Shuffle-free twin of [[fromStore]]'s merge for inputs already
    * hash-clustered on trace_id (the bucketed layout): grouping RELATIONALLY
    * on the physical column lets the bucketed scan's HashPartitioning
    * satisfy mapGroups' required distribution, so no Exchange is planned —
    * a typed groupByKey would key on an opaque appended column and force
    * the shuffle the bucketing exists to avoid.
    */
  private def mergeBucketed(df: DataFrame): Dataset[Trace] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select("trace_id", "spans", "root_ts").as[Trace]
      .groupBy(col("trace_id")).as[String, Trace]
      .mapGroups((id, it) => mergeRows(id, it.toSeq))
  }

  /** By-id fetch+merge in the service, as the reference fetches by key and
    * merges (KafkaStorageHttpService.java:243-290): the rows of at most
    * 1,000 ids are collected (over a store read: one scan job, no Exchange),
    * merged per id with the same [[mergeRows]] as the distributed path, and
    * returned as a local Dataset sorted by trace id. The collect runs when
    * the lookup is called. A distributed merge would add a shuffle and two
    * jobs per lookup for a result this small.
    */
  private def mergeOnDriver(ds: Dataset[Trace]): Dataset[Trace] = {
    val spark = ds.sparkSession
    import spark.implicits._
    spark.createDataset(ds.collect().toSeq.groupBy(_.trace_id).toSeq.sortBy(_._1)
      .map { case (id, rows) => mergeRows(id, rows) })
  }

  // row collapse shared with StoreLayout.compactTraces — see Traces.mergeRows
  private def mergeRows(id: String, rows: Seq[Trace]): Trace =
    graft.core.Traces.mergeRows(id, rows)
}
