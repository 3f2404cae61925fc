package graft

/** Guards the physical-plan properties the 100 TB posture depends on:
  * column pruning + filter pushdown into the parquet scans, broadcast joins
  * for dimension tables, and the driver smoke contract.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def explain(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)

  test("q1_agg: scan reads only the needed columns") {
    val plan = explain("q1_agg")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_partkey"),
      "scan must prune unused columns")
  }

  test("q_join_revenue: date filter pushed to the orders scan; dims broadcast") {
    val plan = explain("q_join_revenue")
    assert(plan.contains("BroadcastHashJoin"), "expected broadcast joins for dims")
    assert(plan.contains("LessThan(o_orderdate"),
      "date filter should reach the orders parquet scan as a pushed filter")
  }

  test("q_a5_dependencies: partial aggregation before the exchange") {
    val plan = explain("q_a5_dependencies")
    assert(plan.contains("partial_sum"), "expected map-side partial aggregation")
  }

  test("q_emb_neardup: grid equi-join, never a broadcast nested loop") {
    val plan = SparkEntry.queries("q_emb_neardup")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop"),
      "exact cosine pairs must run as the grid-partitioned equi-join")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_dedup_ngram: df cap runs as a broadcast anti-join, never a cartesian") {
    val plan = SparkEntry.queries("q_dedup_ngram")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), "expected the hot-shingle anti-join")
    assert(plan.contains("BroadcastExchange"), "hot-shingle list must broadcast")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
  }

  test("q_decontaminate: benchmark set broadcasts; no corpus-sized shuffle join") {
    val plan = SparkEntry.queries("q_decontaminate")(spark, dir)
      .queryExecution.executedPlan.toString
    // the whole design is the corpus side probing a broadcast of the tiny
    // benchmark shingle set — a SortMergeJoin here means the corpus shingles
    // got shuffled on the join key, which cannot hold at 100 TB
    assert(plan.contains("BroadcastHashJoin"), "bench shingles must broadcast")
    assert(!plan.contains("SortMergeJoin"),
      "the corpus-shingle side must never shuffle into the overlap join")
    assert(plan.contains("partial_count"),
      "per-doc overlap count must partially aggregate map-side")
  }

  test("q_pack: one stream-repartition exchange, nothing else") {
    val plan = SparkEntry.queries("q_pack")(spark, dir)
      .queryExecution.executedPlan.toString
    // the greedy scan is per-partition state over (stream, id)-sorted rows:
    // exactly ONE shuffle (the stream repartition) may exist — a second
    // Exchange would mean the packing recurrence got re-keyed somewhere,
    // which breaks both determinism and the 100 TB shuffle budget
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly 1 shuffle exchange, got $exchanges\n$plan")
    assert(!plan.contains("BroadcastExchange"))
  }

  test("q_curate: window dedup + broadcast decon, no sort-merge join anywhere") {
    val plan = SparkEntry.queries("q_curate")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "bench shingles + drop list broadcast")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      "no stage of the curation flow may shuffle-join the corpus")
  }

  test("q_vocab: map-side partial aggregation before the vocab exchange") {
    val plan = explain("q_vocab")
    assert(plan.contains("partial_count"),
      "token counting must collapse per-partition token streams pre-shuffle")
  }

  test("q_weighted_sample: pure in-scan filter — zero Exchange") {
    val plan = SparkEntry.queries("q_weighted_sample")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      "the per-stratum CASE filter must not shuffle or broadcast anything")
  }

  test("q_quality_classifier: whole-stage-codegen in-scan projection, zero Exchange") {
    val plan = SparkEntry.queries("q_quality_classifier")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      "model inference is per-row; the corpus must not move")
    assert(plan.contains("*(1) Project"),
      "HashedBagLinear must stay inside the generated scan loop " +
        "(the * prefix marks whole-stage codegen)")
  }

  test("q_bpe_encode: whole-stage-codegen in-scan projection, zero Exchange") {
    val plan = SparkEntry.queries("q_bpe_encode")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      "the merge model rides as a reference object; the corpus must not move")
    assert(plan.contains("*(1) Project"),
      "BpeEncode must stay inside the generated scan loop — with the " +
        "codegen-compiles sweep this pins the expression's codegen " +
        "integration end to end")
    // the 12-merge model must render compactly, never inline (stringArgs)
    assert(plan.contains("<12 merges>"), plan.take(400))
  }

  test("q_approx_distinct: HLL sketch aggregation keeps map-side partials") {
    val plan = explain("q_approx_distinct")
    assert(plan.contains("partial_hll_sketch_agg"),
      "per-source sketches must fold locally before the shuffle — the " +
        "fixed-KB mergeable state is the whole point of the sketch path")
  }

  test("q_subword: tokenizer inference is a zero-Exchange in-scan projection") {
    val plan = SparkEntry.queries("q_subword")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      "the vocab is the broadcastable model; the corpus must not move")
  }

  test("q_semdedup: per-row in-scan centroid assignment, equi-join pair " +
      "stage — never a corpus-wide cartesian") {
    val plan = SparkEntry.queries("q_semdedup")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("nearestcentroid"),
      "assignment must be the NearestCentroid expression (no k-fold join blow-up)")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "the pair stage must equi-join on centroid_id")
  }

  test("q_emb_lsh_recall: both pair paths stay equi-joins, never cartesian") {
    val plan = SparkEntry.queries("q_emb_lsh_recall")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      "grid + LSH pair generation must plan as equi-joins")
  }

  test("q_a8_autocomplete: relational store path never pays a window") {
    val plan = SparkEntry.queries("q_a8_autocomplete")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window"), s"sessionization window survived pruning:\n$plan")
  }

  /** Behavioral pruning proof on a store's range scan (AQE never wraps the
    * exchange-free scan, so its FileSourceScanExec metrics are reachable):
    * only the ≤11 date partitions inside the 10-day query window are listed,
    * not the full month of dates the store holds.
    */
  /** FileSourceScanExec nodes, descending through AQE wrappers (a read
    * path with a shuffle — e.g. the window store's dedup — executes as an
    * AdaptiveSparkPlanExec whose stages hide the scan from a plain
    * collectFirst).
    */
  private def collectScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      collectScans(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => collectScans(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => collectScans(r.child)
    case other => other.children.flatMap(collectScans)
  }

  private def assertDatePruned(read: org.apache.spark.sql.DataFrame,
      storeDir: String, dateCol: String): Unit = {
    read.collect()
    val scan = collectScans(read.queryExecution.executedPlan).headOption.get
    val written = new java.io.File(storeDir).listFiles()
      .count(_.getName.startsWith(s"$dateCol="))
    assert(written > 11, s"fixture should span more dates than the query range ($written)")
    assert(scan.metrics("numPartitions").value <= 11,
      s"scan read ${scan.metrics("numPartitions").value} of $written partitions")
  }

  test("q_store_find_traces: store read prunes trace_date partitions at file listing") {
    val df = SparkEntry.queries("q_store_find_traces")(spark, dir) // builds the store
    val plan = df.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    assert(plan.contains("PartitionFilters") && plan.contains("trace_date"),
      s"expected trace_date partition filters on the store scan:\n$plan")
    val storeDir = SparkEntry.storePath("traces", dir)
    assertDatePruned(graft.store.StoreLayout.readTraces(spark, storeDir,
      1705708800000L, 864000000L), storeDir, "trace_date") // the q_store endTs/lookback
  }

  test("q_store_dependencies: store read prunes window_date partitions at file listing") {
    val df = SparkEntry.queries("q_store_dependencies")(spark, dir) // builds the store
    val plan = df.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    assert(plan.contains("PartitionFilters") && plan.contains("window_date"),
      s"expected window_date partition filters on the store scan:\n$plan")
    val storeDir = SparkEntry.storePath("deps", dir)
    assertDatePruned(graft.store.StoreLayout.readDependencyWindows(spark, storeDir,
      1705708800000L, 864000000L), storeDir, "window_date")
  }

  test("q_store_dependencies: the window-store read and the edge merge shuffle once") {
    // the read hashes by edge before its replay dedup, and that one exchange
    // also serves the query surface's groupBy(parent, child)
    val df = SparkEntry.queries("q_store_dependencies")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(shuffleExchanges(plan) == 1, s"expected exactly one ShuffleExchangeExec:\n$plan")
  }

  test("q_store_autocomplete: key filter pushes below the collapse to the scan") {
    val df = SparkEntry.queries("q_store_autocomplete")(spark, dir) // builds the store
    val plan = df.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    // the filter references only the grouping key, so it must cross the
    // set-collapse aggregate and reach the parquet scan — at scale the read
    // lists one key's delta rows, not the whole store
    assert(plan.contains("EqualTo(tag_key,k)"),
      s"tag_key filter must reach the delta-store scan as a pushed filter:\n$plan")
  }

  test("generation resolver plans O(1) scan legs, not one per compacted partition") {
    // q_store_autocomplete's store: ~30 seen_date partitions, ALL compacted
    // into generations. One union leg per partition made plan cost linear in
    // partition count (31 partitions → 2.4 s for a sub-second query; a year
    // of dates → 365 relations) — the resolver must keep the read at ≤ 2
    // legs: one explicit-file scan over every generation + unabsorbed loose
    // file, plus (only when untouched dates exist) one discovery leg
    SparkEntry.queries("q_store_autocomplete")(spark, dir) // builds the store
    val storeDir = SparkEntry.storePath("actags", dir)
    val genParts = new java.io.File(storeDir).listFiles()
      .count(f => f.isDirectory && f.listFiles().exists(_.getName.startsWith(".gen-")))
    assert(genParts > 10, s"fixture should have many compacted partitions ($genParts)")
    val read = graft.store.StoreLayout.readSetStore(spark, storeDir)
    read.collect()
    val scans = collectScans(read.queryExecution.executedPlan)
    assert(scans.size <= 2,
      s"resolver planned ${scans.size} scan legs over $genParts compacted partitions")
  }

  test("q_store_get_trace: bucketed probe — zero Exchange, one bucket scanned") {
    val df = SparkEntry.queries("q_store_get_trace")(spark, dir) // builds the store
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed point lookup must not shuffle:\n$plan")
    assert(plan.contains("SelectedBucketsCount: 1 out of"),
      s"expected bucket pruning down to the id's single bucket:\n$plan")
  }

  test("q_store_trace_many: bucketed id-list probe plans with zero Exchange") {
    val df = SparkEntry.queries("q_store_trace_many")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed id-list lookup must not shuffle:\n$plan")
    assert(plan.contains("SelectedBucketsCount"),
      s"expected bucket pruning on the isin probe:\n$plan")
  }

  test("q_mm_features: WAV synth+decode plans as one stage, zero Exchange") {
    // the codec runs inside partition-local typed maps — shuffling opaque
    // media payloads (the dominant bytes at scale) would be the one way to
    // make this operator slow; pin that the plan never does
    val plan = SparkEntry.queries("q_mm_features")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"media decode must stay partition-local, no shuffle:\n$plan")
  }

  test("q_mm_video: y4m synth+decode+frame fan-out plans zero Exchange") {
    // same property for the video leg: the per-frame UDTF fan-out multiplies
    // ROWS, never shuffles the decoded payloads
    val plan = SparkEntry.queries("q_mm_video")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"video decode must stay partition-local, no shuffle:\n$plan")
  }

  test("int8 IVF probe: the ranking scan prunes the fp32 vectors; only the " +
      "candidate-bounded rescore reads them, against a broadcast") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("ivf8plan").toString
    val cents = graft.functions.Similarity.kmeansCentroids(vecs, "vec_id", "embedding", 2, 2)
    graft.functions.Similarity.writeIvfIndex(vecs, "vec_id", "embedding", cents, tmp)
    val df = graft.functions.Similarity.ivfTopKInt8FromIndex(spark,
      vecs.where($"vec_id" === 0), "vec_id", "embedding", tmp, cents, k = 1, nProbe = 2)
    val plan = df.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    val reads = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    val (codeScans, fpScans) = reads.filter(_.contains("codes"))
      .partition(!_.contains("cv:array"))
    // at 100 TB the probe pass must touch ~¼ of the vector bytes: a codes
    // scan that also lists cv would re-read the fp32 column for every
    // probed row and erase the quantization win
    assert(codeScans.nonEmpty, s"expected a codes-only probe scan:\n$plan")
    assert(fpScans.isEmpty, s"probe scan must prune the fp32 cv column:\n$plan")
    assert(reads.exists(r => r.contains("cv:array") && !r.contains("codes")),
      s"rescore scan should read cv without the codes:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      "the candidate set must broadcast into the rescore join")
    // (a BroadcastNestedLoop IS expected once: probeCells fans each query
    // out against the k-row centroid relation — a deliberate tiny cross)
    assert(!plan.contains("CartesianProduct"))
  }

  test("incremental IVF probe: the scan lists ONLY the probed cell's live " +
      "inputs, reading through the generation dir plus loose appends") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.1f, 1.0f))
    ).toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("centroid_id", "centroid_vec")
    val tmp = java.nio.file.Files.createTempDirectory("ivfincplan").toString + "/idx"
    graft.functions.Similarity.appendIvfIndex(vecs.where($"vec_id" <= 1),
      "vec_id", "embedding", cents, tmp)
    graft.functions.Similarity.appendIvfIndex(vecs.where($"vec_id" >= 2),
      "vec_id", "embedding", cents, tmp)
    graft.functions.Similarity.compactIvfIndex(spark, tmp)
    // post-compaction append into cell 0: the probe must serve the
    // committed generation AND this loose file together
    graft.functions.Similarity.appendIvfIndex(
      Seq((4L, Array(0.95f, 0.05f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", cents, tmp)
    val df = graft.functions.Similarity.ivfTopKFromIndex(spark,
      vecs.where($"vec_id" === 0), "vec_id", "embedding", tmp, cents,
      k = 2, nProbe = 1)
    val files = df.inputFiles.filter(_.contains("/centroid_id="))
    assert(files.nonEmpty && files.forall(_.contains("centroid_id=0")),
      s"nProbe=1 must bound the scan to the probed cell's directory: ${files.toSeq}")
    assert(files.exists(_.contains("/.gen-")),
      s"scan must read through the committed generation dir: ${files.toSeq}")
    assert(files.exists(f => !f.contains("/.gen-")),
      s"post-compaction loose appends must stay served: ${files.toSeq}")
    // and the served rows prove it: corpus_id 4 (loose) ranks with 0/1 (gen)
    val ids = df.collect().map(_.getAs[Long]("corpus_id")).toSet
    assert(ids == Set(1L, 4L), s"expected gen+loose neighbors of query 0, got $ids")
  }

  test("q_semdedup_recall fixture guard: a natural cosine≥0.95 pair in the " +
      "raw embeddings fails LOUDLY instead of hollowing out the gate") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("semguard").toString
    // two identical vectors = a natural exact-duplicate pair the
    // planted-pair truth side would silently stop measuring
    Seq((0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(1.0f, 0.0f, 0.0f)),
        (2L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val e = intercept[IllegalArgumentException] {
      SparkEntry.queries("q_semdedup_recall")(spark, tmp)
    }
    assert(e.getMessage.contains("fixture drift"), e.getMessage)
  }

  test("q_emb_lsh_recall fixture guard phase 2: drift clustered in ids the " +
      "base stride skips still trips (r22 hardening)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("lshguard2").toString
    def oneHot(axis: Int): Array[Float] =
      Array.tabulate(8)(i => if (i == axis) 1.0f else 0.0f)
    // maxId 1023 → plantOffset 1024 → stride 2: phase 0 samples even ids,
    // phase 1 odd ids. The drifted identical pair sits at ODD ids 1 and 3 —
    // the r21 single-phase guard (phase 0 only) never sampled it; the r22
    // half-stride phase must trip. Even ids stay mutually orthogonal so
    // phase 0 passes first.
    Seq(0L -> oneHot(0), 2L -> oneHot(1), 4L -> oneHot(2),
        1L -> oneHot(4), 3L -> oneHot(4), 1023L -> oneHot(5))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val e = intercept[IllegalArgumentException] {
      SparkEntry.queries("q_emb_lsh_recall")(spark, tmp)
    }
    assert(e.getMessage.contains("fixture drift") &&
      e.getMessage.contains("phase 1"), e.getMessage)
  }

  test("q_emb_lsh_recall planted-completeness guard: a planted pair " +
      "falling below the 0.9 gate (zero-norm vector) trips instead of " +
      "silently shrinking the recall denominator (r22 hardening)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("lshguard3").toString
    def oneHot(axis: Int): Array[Float] =
      Array.tabulate(8)(i => if (i == axis) 1.0f else 0.0f)
    // the zero vector's planted twin is itself the zero vector; their
    // guarded cosine is −2, so the pair drops out of the ≥0.9 truth side —
    // exactly the silent-denominator-shrink the count tripwire exists for
    Seq(0L -> oneHot(0), 1L -> oneHot(1), 2L -> Array.fill(8)(0.0f))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val e = intercept[IllegalArgumentException] {
      SparkEntry.queries("q_emb_lsh_recall")(spark, tmp)
    }
    assert(e.getMessage.contains("truth side has"), e.getMessage)
  }

  test("driver smoke contract: entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }
}
