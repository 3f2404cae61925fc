package graft.store

import graft.model.Trace
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Physical layout of the serving tables (SURVEY §4, §1.5): the reference's
  * time-segmented RocksDB window stores become date-partitioned parquet
  * tables, so
  *  - range queries prune partitions at file-listing time (the analog of
  *    "range scans only touch live segments"),
  *  - retention is a partition drop (the analog of segment expiry — traces
  *    1 d, names 7 d, dependencies 7 d by default), and
  *  - point lookups on key prune via min/max row-group stats.
  *
  * == Generation commit ==
  *
  * Compaction promotes its rewrite with a GENERATION POINTER, not a
  * directory swap. Inside each partition directory:
  *
  * {{{
  *   trace_date=2024-01-10/
  *     part-*.parquet        // loose append files (visible to listings)
  *     .gen-000001/          // a compacted generation (dot = hidden)
  *       part-*.parquet
  *       _absorbed           // names of the loose files merged into it
  *     _current-000001       // pointer: highest number with a gen dir wins
  * }}}
  *
  * The commit is two atomic renames-or-creates: staging dir → `.gen-N`
  * (rename; loses to any concurrent N), then `_current-N` created with
  * `overwrite = false`. Readers resolve the highest pointer whose gen dir
  * exists and read that generation PLUS the loose files NOT named in its
  * `_absorbed` manifest. Consequences, each pinned by StoreLayoutSpec:
  *  - a reader interleaved at ANY point of a compaction sees a complete
  *    partition — the old view until the pointer lands, the new view after;
  *    there is no between-renames absence window because nothing live is
  *    ever moved;
  *  - an append racing a compaction is NEVER dropped: appends land as loose
  *    files, the rewrite reads an explicit file snapshot, and only files in
  *    the committed manifest are ever excluded or (one cycle later) deleted
  *    — a file the rewrite didn't see stays served;
  *  - a crash at any step leaves either the old state (stage orphan, gen
  *    without pointer — swept by the next pass) or the fully-committed new
  *    state (pointer landed; cleanup is deferred anyway) — never a
  *    half-state, and never a double count: absorbed loose files are
  *    manifest-excluded from reads the instant the pointer lands, whether
  *    or not their deferred deletion ever ran.
  * Old generations and absorbed loose files are removed by the NEXT pass
  * (one-cycle grace), so a reader that resolved just before a flip keeps
  * every file it listed for a full maintenance interval.
  */
object StoreLayout {

  /** Traces store: one row per (trace, session) append, partitioned by the
    * root-span date. Expects columns (trace_id, spans, root_ts µs). Appends
    * are at-least-once under streaming retries; duplicates and multi-session
    * partials collapse at read time via `TraceQueries.fromStore`'s merge.
    *
    * `filesPerDate` bounds the small-files blowup of partitionBy (every
    * writing task otherwise opens one file per date it touches — tasks ×
    * dates files per append): rows are pre-shuffled onto (date, id-bucket)
    * keys so each date lands in ≈ filesPerDate files. The default 1 suits
    * micro-batch appends; a bulk backfill of ~1 TB/day raises it so a day is
    * written (and later scanned) by many tasks.
    *
    * Appends never block on compaction and are never lost to one: a loose
    * file outside the committed generation's manifest is always served (see
    * the generation-commit contract in the class doc).
    */
  def writeTraces(traces: DataFrame, path: String, filesPerDate: Int = 1): Unit =
    traces.select(col("trace_id"), col("spans"), col("root_ts"))
      // UTC epoch-day arithmetic, NOT to_date(): partition assignment must
      // not depend on the writer session's timezone or readers in another
      // zone silently prune the wrong partitions. FLOOR division (SQL DIV
      // truncates toward zero): a negative timestamp must land on the same
      // 1969-12-31 date the read side's Math.floorDiv prunes by, or the row
      // becomes unreachable
      .withColumn("trace_date", expr(epochDayExpr("root_ts", 86400000000L)))
      // EXPLICIT partition count: a bare repartition(exprs) is an AQE
      // coalescible shuffle (REPARTITION_BY_COL), and a small batch would be
      // coalesced into one task — one file per date no matter what
      // filesPerDate asked for. Pinning N keeps each (date, bucket) key in
      // its own task (modulo hash collisions — the "≈" in the contract).
      .repartition(
        math.max(traces.sparkSession.sessionState.conf.numShufflePartitions,
          filesPerDate),
        col("trace_date"), pmod(xxhash64(col("trace_id")), lit(filesPerDate)))
      .write.partitionBy("trace_date").mode(SaveMode.Append).parquet(path)

  /** Range read with partition pruning: only `trace_date` partitions
    * intersecting [endTs−lookback, endTs] (ms) are resolved and listed.
    *
    * Callers that MERGE partial rows afterwards (fromStore) must over-read
    * by their partial-spread bound (session length + allowed lateness) and
    * re-apply the exact window on the post-merge root_ts: a partial whose
    * own root_ts falls just outside the window still contributes spans to
    * a trace whose merged root is inside it.
    */
  def readTraces(spark: SparkSession, path: String, endTs: Long, lookback: Long): DataFrame =
    readPartitioned(spark, path, "trace_date",
      Some(utcLocalDate(endTs - lookback)), Some(utcLocalDate(endTs)),
      schema = Some(org.apache.spark.sql.Encoders.product[Trace].schema
        .add("trace_date", org.apache.spark.sql.types.DateType)))
      .where(col("trace_date").between(utcDate(endTs - lookback), utcDate(endTs)))
      .where(col("root_ts").between((endTs - lookback) * 1000, endTs * 1000))

  /** Epoch-ms → UTC date (reader-timezone independent). */
  private def utcLocalDate(epochMs: Long): java.time.LocalDate =
    java.time.LocalDate.ofEpochDay(Math.floorDiv(epochMs, 86400000L))

  /** Epoch-ms → UTC date literal (reader-timezone independent). */
  private def utcDate(epochMs: Long) = lit(utcLocalDate(epochMs).toString).cast("date")

  /** SQL text for the UTC date of an epoch column with `unitPerDay` ticks
    * per day, using FLOOR division so negatives agree with [[utcDate]]'s
    * Math.floorDiv on the read side (SQL DIV truncates toward zero).
    */
  private[graft] def epochDayExpr(colName: String, unitPerDay: Long): String =
    s"date_add(DATE'1970-01-01', CAST(CASE WHEN $colName < 0 " +
      s"THEN ($colName - ${unitPerDay - 1}) DIV $unitPerDay " +
      s"ELSE $colName DIV $unitPerDay END AS INT))"

  /** Compact the merge-on-read trace store: collapse at-least-once
    * re-appends and multi-session partials into one canonical row per
    * trace, so read amplification stops growing with redelivery count (the
    * analog of the reference's RocksDB/changelog compaction — its store is
    * compacted continuously by Kafka Streams,
    * streams/TraceStorageTopology.java:108-115 upserts into a compacted
    * changelog; our append-only parquet needs an explicit pass).
    *
    * Rows merge within (trace_date, trace_id) — never across dates — so:
    *  - no row changes partition (a group's recomputed root_ts is the min
    *    over roots that all fall inside that date), which makes the pass
    *    safe to run per closed date partition incrementally at scale, and
    *  - cross-date partials of one trace (a session that moved the root
    *    earlier) remain split — harmless, because query-time merge-on-read
    *    (`TraceQueries.fromStore`, built on the same [[graft.core.Traces]]
    *    mergeRows) stays in place as the correctness backstop; compaction
    *    is an optimization, not a correctness requirement.
    *
    * Delegates to [[compactTracePartitions]] over every present date; each
    * partition commits independently via the generation pointer (class doc).
    * Production runs [[compactTracesBefore]] so only closed dates rewrite.
    */
  def compactTraces(spark: SparkSession, path: String, filesPerDate: Int = 1): Unit =
    compactTracePartitions(spark, path, listPartitionDates(spark, path, "trace_date"),
      filesPerDate)

  /** Closed-date watermark variant: compact only `trace_date` partitions
    * strictly before `before` (the maintenance cadence at scale — open dates
    * still receiving appends are left alone; open-date appends are safe
    * anyway under the generation commit, the watermark just avoids wasted
    * rewrites of partitions still growing).
    */
  def compactTracesBefore(spark: SparkSession, path: String,
      before: java.time.LocalDate, filesPerDate: Int = 1): Unit =
    compactTracePartitions(spark, path,
      listPartitionDates(spark, path, "trace_date").filter(_.isBefore(before)), filesPerDate)

  /** Partition-scoped compaction: rewrite ONLY the listed `trace_date=`
    * partitions, one generation commit per partition — every other
    * partition's files are physically untouched (StoreLayoutSpec pins this
    * by file name + length). Rows merge within (date, trace_id) — see the
    * class doc above — so a per-date rewrite is exactly the whole-store pass
    * restricted, and a 100 TB store compacts incrementally, date by closed
    * date, instead of rewriting everything per maintenance cycle (the analog
    * of the reference's continuous incremental RocksDB compaction,
    * streams/TraceStorageTopology.java:108-115). Dates with no partition
    * directory are skipped.
    */
  def compactTracePartitions(spark: SparkSession, path: String,
      dates: Seq[java.time.LocalDate], filesPerDate: Int = 1): Unit =
    compactPartitions(spark, path, "trace_date", dates)(
      traceMergeFn(spark, filesPerDate))

  /** The per-partition trace rewrite [[compactTracePartitions]] stages —
    * exposed separately so specs can wrap the REAL merge with fault/race
    * injection instead of re-implementing it.
    */
  private[graft] def traceMergeFn(spark: SparkSession,
      filesPerDate: Int): DataFrame => DataFrame = { df =>
    import spark.implicits._
    df.select(col("trace_id"), col("spans"), col("root_ts")).as[Trace]
      .groupByKey(_.trace_id)
      .mapGroups((id: String, it: Iterator[Trace]) =>
        graft.core.Traces.mergeRows(id, it.toSeq))
      // same per-date file shape as writeTraces: ≈ filesPerDate files,
      // id-hash-clustered (the partition value lives in the dir name, not
      // the files, so the partition column is not re-written)
      .toDF().repartition(filesPerDate, col("trace_id"))
  }

  /** Compact the dependency-window store: drop replayed finals (full-row
    * duplicates under one batch_id) and collapse file fragmentation, KEEPING
    * batch_id granularity — genuine partial sums stay one row per (window,
    * edge, batch) and the query surface sums them, exactly as it does for
    * uncompacted rows (see [[compactDependencyPartitions]] for why
    * pre-summing across batches is unsafe under crash-replay). Delegates to
    * the partition-scoped pass over every date; production runs
    * [[compactDependencyWindowsBefore]] on closed dates only — noting that a
    * wall-clock-closed date can still receive a replayed batch after a
    * crash-restart, which is precisely the case batch granularity protects.
    */
  def compactDependencyWindows(spark: SparkSession, path: String): Unit =
    compactDependencyPartitions(spark, path,
      listPartitionDates(spark, path, "window_date"))

  /** Closed-date watermark variant of [[compactDependencyWindows]]. */
  def compactDependencyWindowsBefore(spark: SparkSession, path: String,
      before: java.time.LocalDate): Unit =
    compactDependencyPartitions(spark, path,
      listPartitionDates(spark, path, "window_date").filter(_.isBefore(before)))

  /** Partition-scoped window compaction ([[compactTracePartitions]]'s twin):
    * a window's date is a function of window_start_ms, so the dedup never
    * crosses partitions and the per-date rewrite equals the whole-store
    * pass restricted. Untouched partitions' files stay physically identical.
    *
    * The window store's read-side merge (full-row dedup, then the query
    * surface's sum) is idempotent under re-reading absorbed inputs ONLY
    * because compaction preserves rows verbatim — the `_absorbed` manifest
    * exclusion plus row preservation together make the deferred-deletion
    * grace safe (class doc).
    */
  def compactDependencyPartitions(spark: SparkSession, path: String,
      dates: Seq[java.time.LocalDate]): Unit =
    compactPartitions(spark, path, "window_date", dates) { df =>
      // PHYSICAL collapse only (duplicate rows + file fragmentation) —
      // deliberately NO cross-batch pre-summing. An earlier revision
      // summed to a batch_id −1 marker row, which destroyed the
      // idempotence key a crash-replayed micro-batch needs: batch N
      // written → crash before the checkpoint commit → maintenance
      // compacts the (wall-clock-closed) date absorbing N's rows into the
      // summed marker → restart replays N as a fresh loose file → the
      // read-side full-row dedup has nothing identical to collapse it
      // against and every edge in the batch double-counts, permanently
      // after the next pass. Keeping batch granularity makes the replayed
      // rows bit-identical to the generation's rows, so
      // [[readDependencyWindows]]'s dedup collapses them exactly as it
      // does pre-compaction — and costs nothing: windows emit once at
      // close, so rows per (window, edge) ≈ contributing batches ≈ 1–2.
      df.dropDuplicates().coalesce(1)
    }

  /** Dates of the `col=` partition directories present under `path`
    * (non-date values are ignored rather than thrown on — foreign dirs are
    * not this store's partitions).
    */
  private def listPartitionDates(spark: SparkSession, path: String,
      partitionCol: String): Seq[java.time.LocalDate] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else datePartitionDirs(fs, root, partitionCol).map(_._1).distinct
  }

  /** The `col=<ISO date>` partition directories directly under `root`,
    * parsed — THE shared parse for the read, compaction-listing and
    * retention paths (three call sites once drifted as three inlined
    * copies). Non-date and foreign-prefix dirs are ignored rather than
    * thrown on — they are not this store's partitions. Caller guards
    * `fs.exists(root)`.
    */
  private def datePartitionDirs(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, partitionCol: String)
      : Seq[(java.time.LocalDate, org.apache.hadoop.fs.Path)] =
    fs.listStatus(root).toSeq.filter(_.isDirectory).flatMap { st =>
      val name = st.getPath.getName
      if (!name.startsWith(s"$partitionCol=")) None
      else try Some((java.time.LocalDate.parse(name.stripPrefix(s"$partitionCol=")),
        st.getPath))
      catch { case _: Exception => None }
    }

  // ───────────────────────── generation layout ─────────────────────────

  private val GenPrefix = ".gen-"
  private val PtrPrefix = "_current-"
  private val StagePrefix = ".genstage-"
  private val TokenPrefix = "_writer-"
  private val AbsorbedManifest = "_absorbed"

  private def genName(n: Long) = f"$GenPrefix$n%06d"
  private def ptrName(n: Long) = f"$PtrPrefix$n%06d"

  private def parseNum(name: String, prefix: String): Option[Long] =
    try Some(name.stripPrefix(prefix).toLong) catch { case _: Exception => None }

  /** A loose data file: visible to Spark's listing (no `.`/`_` prefix). */
  private def isVisibleFile(st: org.apache.hadoop.fs.FileStatus): Boolean =
    st.isFile && !st.getPath.getName.startsWith(".") && !st.getPath.getName.startsWith("_")

  /** One partition directory resolved through its generation pointer:
    * `current` is the highest pointer number whose gen dir actually exists
    * (a pointer dangling after an interrupted race is ignored, never served),
    * `absorbed` its manifest, `loose` the visible files NOT in it.
    */
  private final case class GenState(partDir: org.apache.hadoop.fs.Path,
      gens: Seq[Long], pointers: Seq[Long], current: Option[Long],
      absorbed: Set[String], loose: Seq[org.apache.hadoop.fs.Path]) {
    def genDir: Option[org.apache.hadoop.fs.Path] =
      current.map(n => new org.apache.hadoop.fs.Path(partDir, genName(n)))
    /** Read inputs: the current generation (if any) plus unabsorbed loose. */
    def inputs: Seq[org.apache.hadoop.fs.Path] = genDir.toSeq ++ loose
  }

  /** Resolve many partitions concurrently: each [[resolveGen]] is 1-2 small
    * filesystem round-trips (a listStatus, plus a manifest read when
    * compacted), and a long range over an object-store-backed FileSystem
    * pays ~50-100 ms per round-trip — a year of dates resolved serially
    * would add tens of seconds of driver latency before Spark even plans
    * the scan. A bounded pool keeps resolution O(partitions / 16).
    */
  private def resolveAll(fs: org.apache.hadoop.fs.FileSystem,
      parts: Seq[(java.time.LocalDate, org.apache.hadoop.fs.Path)])
      : Seq[(java.time.LocalDate, GenState)] =
    if (parts.sizeIs <= 1) parts.map { case (d, p) => (d, resolveGen(fs, p)) }
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, parts.size))
      try {
        val futures = parts.map { case (d, p) =>
          (d, pool.submit(new java.util.concurrent.Callable[GenState] {
            def call(): GenState = resolveGen(fs, p)
          }))
        }
        futures.map { case (d, f) =>
          (d, try f.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause })
        }
      } finally pool.shutdown()
    }

  /** Live parquet inputs of ONE `col=value` partition dir — the current
    * generation directory plus unabsorbed loose files (what a resolver
    * read serves for that partition). The IVF index's cell-pruned probe
    * shares this with [[readPartitioned]]'s generation leg, so a compacted
    * cell can never be read through plain listing (which cannot see
    * dot-prefixed generation dirs).
    */
  private[graft] def livePartitionInputs(spark: SparkSession,
      partDir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
    val fs = partDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    resolveGen(fs, partDir).inputs
  }

  private def resolveGen(fs: org.apache.hadoop.fs.FileSystem,
      partDir: org.apache.hadoop.fs.Path): GenState = {
    val children = fs.listStatus(partDir).toSeq
    val gens = children.filter(_.isDirectory)
      .flatMap(st => parseNum(st.getPath.getName, GenPrefix))
    val pointers = children.filter(_.isFile)
      .flatMap(st => parseNum(st.getPath.getName, PtrPrefix))
    val current = pointers.filter(gens.contains).sorted.lastOption
    val absorbed = current.map { n =>
      readManifest(fs, new org.apache.hadoop.fs.Path(partDir,
        genName(n) + "/" + AbsorbedManifest))
    }.getOrElse(Set.empty[String])
    val loose = children.filter(isVisibleFile)
      .map(_.getPath).filterNot(p => absorbed.contains(p.getName))
    GenState(partDir, gens, pointers, current, absorbed, loose)
  }

  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Set[String] =
    if (!fs.exists(p)) Set.empty
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toSet
      finally in.close()
    }

  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, names: Seq[String]): Unit = {
    val out = fs.create(p, false)
    try out.write(names.sorted.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Read a date-partitioned store through the generation layout, physically
    * pruned to `[min, max]` (inclusive; None = unbounded). A store no
    * compaction has touched takes the single-scan fast path — one discovery
    * read with Catalyst partition pruning, exactly the plain layout. With
    * compacted partitions the read is TWO legs regardless of how many
    * partitions resolve: one discovery leg for the untouched dates, and ONE
    * explicit-file leg covering every compacted partition's (generation +
    * unabsorbed loose) inputs, its partition value recovered from the
    * file path's `col=value` segment — pruning happens HERE, at resolution,
    * before Spark ever lists a file, and the plan stays O(1) in partition
    * count (a per-partition union leg would make a year-long range plan 365
    * relations and dominate small-query latency). A deployment beyond this
    * graduates to a real table format (Iceberg/Delta), which is this same
    * pointer idea with a manifest tree.
    *
    * `schema` is the read contract: the store's data columns plus
    * `partitionCol` as a DateType, exactly as its writer lays them out. Every
    * leg reads with it (the explicit-file leg without the partition column,
    * which it derives from the path), so no read pays a Spark job to infer
    * the schema of files this library wrote, and a never-written store or a
    * range matching no partition serves it typed-empty. Only schema-less
    * callers (whole-store views: [[readAll]], an untyped [[readSetStore]])
    * infer from parquet footers.
    */
  private[graft] def readPartitioned(spark: SparkSession, path: String,
      partitionCol: String, min: Option[java.time.LocalDate],
      max: Option[java.time.LocalDate],
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val inRange = (d: java.time.LocalDate) =>
      min.forall(m => !d.isBefore(m)) && max.forall(m => !d.isAfter(m))
    val parts: Seq[(java.time.LocalDate, org.apache.hadoop.fs.Path)] =
      if (!fs.exists(root)) Seq.empty
      else datePartitionDirs(fs, root, partitionCol)
    val selected = parts.filter(p => inRange(p._1))
    def typedEmpty(s: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    if (selected.isEmpty) schema match {
      // nothing to scan — a store that was never written (absent root / no
      // partition dir yet, e.g. the query surface probing before the first
      // micro-batch commits) or a range matching no partition — serves
      // EMPTY, like the reference's empty RocksDB store
      case Some(s) => return typedEmpty(s)
      case None =>
        // schema-less: a fully-converged store may hold its data only in
        // (hidden) generation dirs, where a discovery scan fails schema
        // inference, so take the schema from a resolved partition. Probe
        // until one yields inputs: the first may be an empty husk (e.g.
        // only a dangling pointer left by an interrupted race) while the
        // rest of the store holds the schema
        parts.view.map(p => resolveGen(fs, p._2)).find(_.inputs.nonEmpty)
          .foreach { any =>
            return typedEmpty(spark.read.parquet(any.inputs.map(_.toString): _*).schema
              .add(partitionCol, org.apache.spark.sql.types.DateType))
          }
    }
    val resolved = resolveAll(fs, selected)
    val (genParts, plainParts) = resolved.partition(_._2.current.isDefined)
    def reader(s: Option[org.apache.spark.sql.types.StructType]) =
      s.fold(spark.read)(spark.read.schema(_))
    val discovery = reader(schema)

    if (genParts.isEmpty) {
      // fast path: no generation anywhere in range — the plain layout's one
      // discovery scan
      discovery.parquet(path)
    } else {
      val legs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      if (plainParts.exists(_._2.loose.nonEmpty)) {
        // one discovery leg for every untouched date: normal partition
        // discovery + an isin partition filter (pruned at planning time)
        val dates = plainParts.map(_._1.toString)
        legs += discovery.parquet(path)
          .where(col(partitionCol).isInCollection(
            dates.map(java.sql.Date.valueOf)))
      }
      // one leg for ALL compacted partitions: their generation dirs + loose
      // files share a schema, and every input lives under its partition's
      // `col=value` directory, so the partition value is recoverable from
      // the scan's file path (greedy .* anchors on the LAST occurrence, so
      // a store rooted under a look-alike dir name cannot confuse it). The
      // derivation is a codegen'd projection — no shuffle, no per-leg plan
      val genInputs = genParts.flatMap(_._2.inputs)
      legs += reader(schema.map(s => org.apache.spark.sql.types.StructType(
          s.filterNot(_.name == partitionCol))))
        .parquet(genInputs.map(_.toString): _*)
        .withColumn(partitionCol, to_date(regexp_extract(
          col("_metadata.file_path"),
          ".*/" + java.util.regex.Pattern.quote(partitionCol) +
            "=([0-9]{4}-[0-9]{2}-[0-9]{2})/", 1)))
      legs.reduce(_ unionByName _)
    }
  }

  /** Whole-range resolver read — the physical row view of a store (what a
    * full scan serves), used by specs to assert compaction's row collapse.
    */
  private[graft] def readAll(spark: SparkSession, path: String,
      partitionCol: String): DataFrame =
    readPartitioned(spark, path, partitionCol, None, None)

  /** Compaction-lease TTL: a lease older than this is treated as abandoned
    * by a crashed compactor and reclaimed by the next compaction pass. The
    * lease is an EFFICIENCY gate (fail fast before staging a rewrite another
    * pass owns), not the correctness guarantee: even if two compactors both
    * believe they hold it (a pass outliving the TTL), the generation commit
    * arbitrates — the `.gen-N` rename and `_current-N` create are atomic and
    * first-wins, the loser aborts with its staging deleted and no live file
    * touched. So a misjudged-stale lease wastes one rewrite; it cannot
    * corrupt, double-serve, or drop data. A live pass HEARTBEATS its leases
    * (mtime touch every TTL/3, [[compactPartitions]]), so a rewrite slower
    * than the TTL — routine for a multi-hour partition at 100 TB — never
    * looks stale in the first place; only a genuinely dead compactor stops
    * touching and ages out. Var, not val: specs inject a short TTL to pin
    * the heartbeat/reclaim boundary without multi-hour sleeps.
    */
  @volatile private[graft] var LeaseTtlMs: Long = 30L * 60 * 1000

  private def leasePath(path: String, partName: String) =
    new org.apache.hadoop.fs.Path(path, s".compacting-$partName")

  /** Atomically acquire a compaction lease (a dot-prefixed marker file,
    * invisible to Spark's listing). A FRESH existing lease means another
    * compactor owns the partition → fail fast; a STALE one (crashed run,
    * see [[LeaseTtlMs]]) is reclaimed by renaming it to a per-claimant
    * tombstone first — rename is atomic, so of N claimants observing the
    * same stale lease at most one rename succeeds per lease file. The
    * rename alone is NOT enough: a slow second claimant's rename can land
    * AFTER the winner already reclaimed-and-recreated, in which case its
    * source is the winner's FRESH lease — so after renaming, the tombstone's
    * mtime is re-checked, and a fresh tombstone is renamed back and the
    * claim failed (without the re-check, the slow claimant would silently
    * destroy the winner's lease and both would run full rewrites; the
    * generation commit still arbitrates correctness — see [[LeaseTtlMs]] —
    * but the duplicate pass is a 100 TB-scale waste). The restore leaves a
    * sub-ms lease-absence window a third claimant could slip through —
    * accepted, same arbitration. The final claim is
    * `create(overwrite = false)` — atomic, loser throws.
    */
  private[store] def acquireLease(fs: org.apache.hadoop.fs.FileSystem,
      lease: org.apache.hadoop.fs.Path): Unit = {
    if (fs.exists(lease)) {
      val ageMs = System.currentTimeMillis() - fs.getFileStatus(lease).getModificationTime
      if (ageMs <= LeaseTtlMs)
        throw new IllegalStateException(
          s"compaction refused: $lease is held by a concurrent compactor (age ${ageMs}ms)")
      val tomb = new org.apache.hadoop.fs.Path(lease.getParent,
        lease.getName + ".reclaim-" + java.util.UUID.randomUUID)
      if (!fs.rename(lease, tomb))
        throw new IllegalStateException(
          s"compaction refused: lost the race to reclaim stale $lease")
      val tombAge = System.currentTimeMillis() - fs.getFileStatus(tomb).getModificationTime
      if (tombAge <= LeaseTtlMs) {
        // the restore itself can lose a FURTHER race: a third claimant may
        // have created a fresh lease during the sub-ms absence window, making
        // this rename fail (destination exists). The tombstone then holds a
        // SUPERSEDED lease — delete it rather than leave it on disk forever
        // (only the stale path below deletes tombstones), and say what
        // happened. Either way the claim fails here and the generation
        // commit still arbitrates the duplicate pass.
        // "superseded" must be VERIFIED, not inferred from the rename's
        // boolean: rename can also fail transiently (no destination present),
        // and deleting the tombstone then destroys the only copy of the
        // faster claimant's lease, leaving the partition unleased while its
        // compaction runs. So a failed rename with NO fresh lease on disk is
        // retried once; only a rename that failed because a fresh lease
        // actually exists deletes the tombstone.
        val restored = fs.rename(tomb, lease) ||
          (!fs.exists(lease) && fs.rename(tomb, lease))
        val superseded = !restored && fs.exists(lease)
        val tombDeleted = superseded && fs.delete(tomb, false)
        throw new IllegalStateException(
          s"compaction refused: reclaim of $lease raced a faster claimant" +
            (if (restored) " (renamed its fresh lease — restored)"
             else if (tombDeleted)
               " (restore lost a further race — superseded tombstone deleted)"
             else s" (restore could not return the reclaimed lease AND the tombstone $tomb was left on disk — remove it manually if no compactor owns the partition)"))
      }
      fs.delete(tomb, false)
    }
    try fs.create(lease, false).close()
    catch { case e: java.io.IOException =>
      throw new IllegalStateException(
        s"compaction refused: lost the race to acquire $lease", e)
    }
  }

  /** Per-partition generation-commit compaction pass. For each selected date
    * that has data, under its lease:
    *  1. deferred cleanup of the PREVIOUS committed pass (delete absorbed
    *     loose files, generations and pointers other than current, stage
    *     orphans, dangling pointers) — run first so readers got a full
    *     maintenance interval of grace on everything the last flip retired;
    *  2. snapshot the unabsorbed loose files EXPLICITLY (an append landing
    *     after this listing is simply not part of the rewrite — it stays a
    *     served loose file, which is why appends are never lost);
    *  3. `merge` the current generation + snapshot, stage the result;
    *  4. write the snapshot's names as the new generation's `_absorbed`
    *     manifest INSIDE staging (atomic with the gen dir itself);
    *  5. commit: rename staging → `.gen-N`, create `_current-N` — both
    *     atomic, both first-wins (see [[LeaseTtlMs]] on why this, not the
    *     lease, is the single-writer guarantee).
    * Partitions rewrite independently (disjoint dirs, disjoint rows) on a
    * bounded pool — a maintenance cycle over 30 closed dates runs them as
    * concurrent small Spark jobs, not 30 serial job latencies.
    */
  private[graft] def compactPartitions(spark: SparkSession, path: String,
      partitionCol: String, dates: Seq[java.time.LocalDate])
      (merge: DataFrame => DataFrame): Unit =
    compactPartitionDirs(spark, path,
      dates.distinct.map(d => s"$partitionCol=$d"))(merge)

  /** [[compactPartitions]] generalized to arbitrary `col=value` partition
    * directory names — the date-partitioned stores pass dates; the IVF
    * index passes `centroid_id=N` cells. Same leases, heartbeat, bounded
    * pool, and per-partition generation commits.
    */
  private[graft] def compactPartitionDirs(spark: SparkSession, path: String,
      partNames: Seq[String])
      (merge: DataFrame => DataFrame): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // stale reclaim-tombstone sweep (a claimant that crashed mid-reclaim)
    val root = new org.apache.hadoop.fs.Path(path)
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      if (st.isFile && st.getPath.getName.contains(".reclaim-") &&
        System.currentTimeMillis() - st.getModificationTime > LeaseTtlMs)
        fs.delete(st.getPath, false)
    }
    // lease every partition that has data BEFORE any work: a concurrent
    // compactor of any selected partition aborts the whole pass here, with
    // nothing staged and the already-acquired leases released (store
    // untouched)
    val acquired = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
    val present = try {
      partNames.distinct.filter { partName =>
        val partDir = new org.apache.hadoop.fs.Path(path, partName)
        val hasData = fs.exists(partDir)
        if (hasData) {
          val lp = leasePath(path, partName)
          acquireLease(fs, lp)
          acquired += lp
        }
        hasData
      }
    } catch { case e: Throwable =>
      acquired.foreach(fs.delete(_, false))
      throw e
    }
    if (present.isEmpty) return
    // heartbeat: touch every still-HELD lease at TTL/3 so a slow rewrite
    // (not a dead one) never ages past the reclaim threshold. `held` is the
    // live set: a partition's release REMOVES its path before deleting the
    // file, so the tick never touches a released path — in particular it
    // can never keep refreshing a SUCCESSOR lease another pass created at
    // the same path after our release (which would shield a crashed
    // successor from reclaim for the rest of this pass). A release racing
    // an in-flight touch lands in the swallowed exception.
    val held = java.util.concurrent.ConcurrentHashMap
      .newKeySet[org.apache.hadoop.fs.Path]()
    acquired.foreach(held.add)
    def releaseLease(lp: org.apache.hadoop.fs.Path): Unit = {
      held.remove(lp)
      fs.delete(lp, false)
    }
    val heartbeat = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-lease-heartbeat"); t.setDaemon(true); t
    })
    val period = math.max(1L, LeaseTtlMs / 3)
    heartbeat.scheduleAtFixedRate(() => held.forEach { lp =>
      // swallow EVERYTHING per lease: an uncaught throwable silently cancels
      // a scheduled task's future runs — one bad filesystem hiccup must not
      // kill the heartbeat for the rest of a multi-hour pass
      try if (held.contains(lp)) fs.setTimes(lp, System.currentTimeMillis(), -1)
      catch { case scala.util.control.NonFatal(_) => () }
    }, period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, present.size))
    try {
      val futures = present.map { partName =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = try {
            compactOnePartition(spark, fs,
              new org.apache.hadoop.fs.Path(path, partName), merge)
          } finally releaseLease(leasePath(path, partName))
        })
      }
      // surface the FIRST failure with its own cause; cancel the queued
      // rest — and (finally, below) WAIT for in-flight commits to finish
      // before propagating, so no orphaned thread keeps committing inside a
      // store whose caller already observed failure (and may delete and
      // rebuild it). Cancelled-before-start dates still hold their leases:
      // release them, their partitions were never touched.
      var firstFailure: Throwable = null
      (present zip futures).foreach { case (partName, f) =>
        if (firstFailure != null) {
          if (f.cancel(false))
            releaseLease(leasePath(path, partName))
        } else try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException => firstFailure = e.getCause
          case e: Throwable => firstFailure = e
        }
      }
      if (firstFailure != null) throw firstFailure
    } finally {
      pool.shutdown()
      // never proceed with a commit thread still live: the caller observing
      // a failure may delete and rebuild the store, and an orphaned thread
      // mid-commit would corrupt it
      while (!pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS))
        System.err.println(s"[compaction] still waiting on in-flight partition commits in $path")
      // stop heartbeating only after every commit finished and released —
      // a lease must stay visibly alive for as long as its rewrite runs
      heartbeat.shutdownNow()
    }
  }

  /** One partition's cleanup + rewrite + generation commit (steps 1-5 of
    * [[compactPartitions]]'s contract). Runs under the partition's lease.
    */
  private def compactOnePartition(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, partDir: org.apache.hadoop.fs.Path,
      merge: DataFrame => DataFrame): Unit = {
    val before = resolveGen(fs, partDir)
    // 1. deferred cleanup of the last committed pass (one-cycle grace over)
    fs.listStatus(partDir).foreach { st =>
      val n = st.getPath.getName
      val retiredGen = st.isDirectory &&
        parseNum(n, GenPrefix).exists(g => !before.current.contains(g))
      val stageOrphan = st.isDirectory && n.startsWith(StagePrefix)
      val retiredPtr = st.isFile &&
        parseNum(n, PtrPrefix).exists(p => !before.current.contains(p))
      val absorbedLoose = isVisibleFile(st) && before.absorbed.contains(n)
      if (retiredGen || stageOrphan || retiredPtr || absorbedLoose)
        fs.delete(st.getPath, st.isDirectory)
    }
    // in-gen sweep: a commit loser that crashed between its rename-into-an-
    // existing-gen and its back-out delete leaves its whole staging subtree
    // INSIDE the current generation — and a crash between the token check
    // and the token delete leaves a stray `_writer-*` file. Neither is ever
    // served (dot-dirs and underscore files are invisible to parquet
    // listings), but a converged partition never retires its current gen, so
    // without this sweep the trapped rewrite would leak storage indefinitely
    before.genDir.filter(fs.exists).foreach { g =>
      fs.listStatus(g).foreach { st =>
        val n = st.getPath.getName
        if ((st.isDirectory && n.startsWith(StagePrefix)) ||
          (st.isFile && n.startsWith(TokenPrefix)))
          fs.delete(st.getPath, st.isDirectory)
      }
    }
    // 2. explicit snapshot (resolveGen already excluded absorbed names)
    val snapshot = before.loose
    if (snapshot.isEmpty) return // converged: current gen only, nothing new
    val inputs = before.genDir.toSeq ++ snapshot
    val next = (before.gens ++ before.pointers ++ Seq(0L)).max + 1
    val stage = new org.apache.hadoop.fs.Path(partDir,
      StagePrefix + java.util.UUID.randomUUID)
    try {
      // 3. stage the rewrite
      merge(spark.read.parquet(inputs.map(_.toString): _*)).write.parquet(stage.toString)
      // 4. manifest, atomic with the gen dir it rides in
      writeManifest(fs, new org.apache.hadoop.fs.Path(stage, AbsorbedManifest),
        snapshot.map(_.getName))
      // 5. commit
      commitGeneration(fs, partDir, stage, next)
    } catch { case e: Throwable =>
      fs.delete(stage, true)
      throw e
    }
  }

  /** The atomic generation commit: staging → `.gen-N` (rename, first-wins),
    * then `_current-N` (create overwrite=false, first-wins). A loser at
    * either step deletes its staging and throws — no live file was touched.
    * After the pointer lands the new generation is the served view; the
    * retired one stays on disk until the next pass's deferred cleanup.
    *
    * Rename-win detection is by OWNER TOKEN, not by probing for the injected
    * subtree: a rename onto an EXISTING directory doesn't fail on HDFS/local
    * — it moves the source INSIDE it — and a concurrent pass's deferred
    * cleanup may sweep that injected subtree before we probe for it, which
    * would make a probing loser think it won and later delete the WINNER's
    * generation on the pointer race. The token is a unique `_writer-*` file
    * created inside staging before the rename: it sits at the gen ROOT iff
    * our rename created the gen dir, and no concurrent actor ever writes
    * into a committed generation, so the check cannot be spoofed or raced.
    */
  private[store] def commitGeneration(fs: org.apache.hadoop.fs.FileSystem,
      partDir: org.apache.hadoop.fs.Path, stage: org.apache.hadoop.fs.Path,
      next: Long): Unit = {
    val token = TokenPrefix + java.util.UUID.randomUUID
    fs.create(new org.apache.hadoop.fs.Path(stage, token), false).close()
    val gen = new org.apache.hadoop.fs.Path(partDir, genName(next))
    if (!fs.rename(stage, gen))
      throw new IllegalStateException(
        s"compaction: lost the generation-commit race for $gen — staging discarded")
    if (!fs.exists(new org.apache.hadoop.fs.Path(gen, token))) {
      // moved inside the winner's gen: back out exactly the subtree we
      // injected (a crash before this delete leaves it for the in-gen sweep
      // of a later pass) — the winner's own files are never touched
      fs.delete(new org.apache.hadoop.fs.Path(gen, stage.getName), true)
      throw new IllegalStateException(
        s"compaction: lost the generation-commit race for $gen — staging discarded")
    }
    fs.delete(new org.apache.hadoop.fs.Path(gen, token), false)
    val ptr = new org.apache.hadoop.fs.Path(partDir, ptrName(next))
    try fs.create(ptr, false).close()
    catch { case e: java.io.IOException =>
      // the token check above proved this gen is OURS — deleting it cannot
      // touch another writer's committed state (the existing pointer must be
      // a dangling leftover, which resolveGen already never serves)
      fs.delete(gen, true)
      throw new IllegalStateException(
        s"compaction: lost the pointer race for $ptr — generation discarded", e)
    }
  }

  /** Collapse (key, set) delta rows to one sorted-set row per key — the
    * read-side merge of the incremental name/autocomplete stores AND their
    * compaction rewrite share this one expression, so the two can never
    * disagree.
    */
  def collapseSetDeltas(df: DataFrame, keyCol: String, setCol: String): DataFrame =
    df.groupBy(keyCol)
      .agg(sort_array(array_distinct(flatten(collect_list(col(setCol))))).as(setCol))

  /** Compact a date-partitioned (key, set) delta store (e.g. the incremental
    * autocomplete sink's appends) to one row per key per date — set union is
    * idempotent, so unlike the counter store no batch-id bookkeeping is
    * needed. The per-DATE collapse keeps retention a partition drop (the
    * reference's autocomplete store is a windowed store with exactly this
    * lifecycle, streams/TraceStorageTopology.java:143-149); the read side
    * re-collapses across retained dates.
    */
  def compactSetStore(spark: SparkSession, path: String, keyCol: String,
      setCol: String): Unit =
    compactSetStorePartitions(spark, path, keyCol, setCol,
      listPartitionDates(spark, path, "seen_date"))

  /** Closed-date watermark variant of [[compactSetStore]]. */
  def compactSetStoreBefore(spark: SparkSession, path: String, keyCol: String,
      setCol: String, before: java.time.LocalDate): Unit =
    compactSetStorePartitions(spark, path, keyCol, setCol,
      listPartitionDates(spark, path, "seen_date").filter(_.isBefore(before)))

  /** Partition-scoped set-store compaction (the name/autocomplete twin of
    * [[compactTracePartitions]]).
    */
  def compactSetStorePartitions(spark: SparkSession, path: String, keyCol: String,
      setCol: String, dates: Seq[java.time.LocalDate]): Unit =
    compactPartitions(spark, path, "seen_date", dates)(df =>
      collapseSetDeltas(df.select(col(keyCol), col(setCol)), keyCol, setCol).coalesce(1))

  /** What [[writeDependencyWindows]] physically writes — the schema every
    * window-store read states (see [[readPartitioned]]), and so also the
    * typed-empty shape a never-written store serves.
    */
  private val windowStoreSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("window_start_ms", LongType),
      StructField("parent", StringType),
      StructField("child", StringType),
      StructField("call_count", LongType),
      StructField("error_count", LongType),
      StructField("batch_id", LongType),
      StructField("window_date", DateType)))
  }

  /** Read a date-partitioned set-delta store through the generation layout
    * (full range — the serving shape collapses across all retained dates).
    * `schema` (including the `seen_date` column) is the read contract of
    * [[readPartitioned]]: pass it where the caller knows its (key, set)
    * shape, and the read infers nothing and a never-written store serves
    * typed-empty instead of failing discovery.
    */
  def readSetStore(spark: SparkSession, path: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    readPartitioned(spark, path, "seen_date", None, None, schema)
      .drop("seen_date")

  /** Dependency-window store partitioned by window date. Unlike
    * [[writeTraces]] there is no `filesPerDate` knob: window rows are tiny
    * pre-aggregates (one per edge per minute), so one file per date is the
    * right shape even for a bulk backfill.
    *
    * `batchId` is the idempotence key for [[readDependencyWindows]]'s
    * retry collapse: a RETRIED write (streaming micro-batch replay after a
    * crash) must reuse the id of the attempt it repeats — foreachBatch's
    * epoch id has exactly this property — while a genuine incremental
    * backfill over different data passes a fresh id so its rows count even
    * when the partial sums happen to be value-identical. Deliberately NO
    * default: a shared implicit id (the old `= 0L`, also a real foreachBatch
    * epoch) let two independent backfills silently collapse value-identical
    * partial sums into one, undercounting — the caller must state whether
    * this write is a retry (reused id) or fresh data (fresh id).
    */
  def writeDependencyWindows(windows: DataFrame, path: String, batchId: Long): Unit =
    windows
      .withColumn("batch_id", lit(batchId))
      .withColumn("window_date", expr(epochDayExpr("window_start_ms", 86400000L)))
      .repartition(col("window_date"))
      .write.partitionBy("window_date").mode(SaveMode.Append).parquet(path)

  /** Range read with window_date pruning, then FULL-ROW dedup: the
    * reference's window store is keyed (a redelivered final overwrites,
    * RocksDB upsert), but parquet appends duplicate it — and the query
    * surface SUMS window rows per edge, so without the dedup a retried
    * micro-batch would double-count its whole window range. The stored
    * `batch_id` (see [[writeDependencyWindows]]) makes the collapse exact:
    * a replayed attempt repeats its id and dedups away, while genuine
    * partial sums from different appends differ in batch_id and both count
    * even when their values coincide. The one shuffle (by edge) runs after
    * pruning — only the queried date range, not the store; `batch_id` is
    * dropped afterwards so the query surface sees the window schema.
    */
  def readDependencyWindows(spark: SparkSession, path: String, endTs: Long,
      lookback: Long): DataFrame =
    readPartitioned(spark, path, "window_date",
      Some(utcLocalDate(endTs - lookback)), Some(utcLocalDate(endTs)),
      schema = Some(windowStoreSchema))
      .where(col("window_date").between(utcDate(endTs - lookback), utcDate(endTs)))
      .where(col("window_start_ms").between(endTs - lookback, endTs))
      // hash by edge BEFORE the dedup: that one exchange satisfies both the
      // full-row dedup (its keys include the edge) and the query surface's
      // groupBy(parent, child) sum, so the read plus the merge shuffle once
      .repartition(col("parent"), col("child"))
      .dropDuplicates()
      .drop("batch_id")

  /** Point-lookup store: traces bucketed by trace_id, so getTrace/getTraceMany
    * and co-located joins on trace_id skip the shuffle entirely (the analog of
    * the reference's key-hash partition routing,
    * internal/KafkaStoreSingleKeyListCall.java:36-45 — SURVEY §4).
    */
  def writeTracesBucketed(traces: Dataset[Trace], tableName: String, path: String,
      buckets: Int = 32): Unit =
    traces.toDF()
      .write.format("parquet")
      .option("path", path)
      .bucketBy(buckets, "trace_id")
      .sortBy("trace_id")
      .mode(SaveMode.Overwrite)
      .saveAsTable(tableName)

  /** Read the bucketed point-lookup table, (re-)declaring the external table
    * when the session catalog doesn't know it yet: bucketing metadata lives
    * in the catalog, not in the parquet files, so a fresh session must
    * re-register the layout before the scan can prune buckets and skip the
    * merge shuffle. `buckets` must match what [[writeTracesBucketed]] wrote.
    */
  def readTracesBucketed(spark: SparkSession, tableName: String, path: String,
      buckets: Int = 32): DataFrame = {
    // identifier + string-literal escaping: this is a public method over
    // arbitrary names/paths, and an unquoted interpolation would break
    // (or inject into) the DDL on the first quote character
    val tbl = "`" + tableName.replace("`", "``") + "`"
    // the SAME quoted identifier everywhere: tableExists parses its argument
    // too, and feeding it the raw name while DDL gets the escaped one would
    // miss the table (→ CREATE collision) exactly when escaping matters
    if (!spark.catalog.tableExists(tbl)) {
      val ddl = org.apache.spark.sql.Encoders.product[Trace].schema.toDDL
      // Hadoop-FS qualification, NOT java.io.File: the write side hands
      // `path` to the FS layer verbatim, so an object-store URI
      // (s3a://bucket/x) must register as-is — java.io.File would mangle it
      // into a nonexistent local path (/<cwd>/s3a:/bucket/x) and every
      // lookup would silently return zero rows. makeQualified also
      // absolutizes bare local paths against the session FS, matching what
      // the writer resolved.
      val p = new org.apache.hadoop.fs.Path(path)
      val loc = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(p).toString
        .replace("\\", "\\\\").replace("'", "\\'")
      spark.sql(
        s"""CREATE TABLE $tbl ($ddl) USING PARQUET
           |CLUSTERED BY (trace_id) SORTED BY (trace_id) INTO $buckets BUCKETS
           |LOCATION '$loc'""".stripMargin)
    }
    spark.table(tbl)
  }

  /** Retention = drop expired date partitions (cheap metadata+delete op, the
    * reference's store-retention analog, ST6 — the recursive delete takes a
    * partition's generations and pointers with it). Returns dropped
    * partition names.
    */
  def dropExpired(spark: SparkSession, path: String, partitionCol: String,
      olderThan: java.time.LocalDate): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // exists guard like every other listing entry point: retention running
    // before the store's first write is a no-op, not an aborted maintenance
    // pass
    if (!fs.exists(root)) return Seq.empty
    val expired = datePartitionDirs(fs, root, partitionCol)
      .filter(_._1.isBefore(olderThan))
    expired.foreach(d => fs.delete(d._2, true))
    expired.map(_._2.getName)
  }
}
