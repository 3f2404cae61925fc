package zbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.functions.Dedup
import graft.operators.Curation
import org.apache.spark.sql.{DataFrame, SaveMode}

/** `dedup`: a seeded corpus with planted near-duplicates through curation,
  * MinHash pairs, connected components and the near-duplicate drop.
  */
object DedupWorkload {
  /** Recall of the planted near-duplicates must not fall below this. */
  val RecallBound = 0.9
  /** Set-ups per run; set-up time is their median. */
  val SetupRepeats = 3

  final case class Outcome(kept: Set[Long], pairs: Long)

  private def once(ctx: Ctx, docs: DataFrame, bench: DataFrame): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val traced = ctx.tracer.active
    val curated = {
      val c = Curation.curate(docs, "id", "text", bench, "text")
      if (traced) c.persist() else c
    }
    ctx.boundary("functions.curate", curated)
    val pairs = {
      val p = Dedup.minhashPairs(curated, "id", "text")
      if (traced) p.persist() else p
    }
    ctx.boundary("functions.pairs", pairs)
    val clusters = ctx.layer("functions.components")(Dedup.connectedComponents(pairs))
    val kept = ctx.layer("functions.drop")(
      Dedup.dropNearDuplicates(curated, "id", clusters).select("id").as[Long].collect().toSet)
    val out = Outcome(kept, if (traced) ctx.group("bench.counts")(pairs.count()) else 0L)
    // minhashPairs leaves its intermediates cached for the caller to release
    spark.catalog.clearCache()
    out
  }

  def run(ctx: Ctx, rep: Report): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val corpus = CorpusGen(new Random(ctx.args.seed))
    // set-up: the corpus and the benchmark passages as parquet at rest
    val setups = (0 until SetupRepeats).map { i =>
      Timer.seconds {
        val dir = ctx.path(s"corpus-$i")
        corpus.docs.toDF("id", "text").repartition(IngestPath.InputFiles)
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/docs")
        corpus.benchmark.toDF("text").write.mode(SaveMode.Overwrite).parquet(s"$dir/bench")
        dir
      }
    }
    val dir = setups.last._1
    val docs = spark.read.parquet(s"$dir/docs")
    val bench = spark.read.parquet(s"$dir/bench")

    // the warm iteration is checked against the planted truth; every timed
    // iteration must then keep exactly the same documents
    val warm = once(ctx, docs, bench)
    once(ctx, docs, bench) // a second untimed pass, so timing starts nearer steady state
    val curated = ctx.group("bench.verify")(
      Curation.curate(docs, "id", "text", bench, "text").select("id").as[Long].collect().toSet)
    spark.catalog.clearCache()
    val leaked = corpus.contaminated.intersect(curated)
    rep.invariant(leaked.isEmpty, s"${leaked.size} contaminated docs survived curation")
    val wronglyDropped = (curated -- warm.kept).filterNot(corpus.nearDupOf.contains)
    rep.invariant(wronglyDropped.isEmpty,
      s"${wronglyDropped.size} docs dropped that are no planted near-duplicate")
    val scored = corpus.nearDupOf.filter { case (_, orig) => warm.kept.contains(orig) }
    val recall = scored.count { case (copy, _) => !warm.kept.contains(copy) }.toDouble /
      math.max(1, scored.size)
    rep.invariant(recall >= RecallBound, f"planted recall $recall%.3f below $RecallBound")
    Log(f"warm iteration: ${curated.size} curated, ${warm.kept.size} kept, recall $recall%.3f")

    val plainMs = ArrayBuffer.empty[Double]
    var tracedOut: Option[Outcome] = None
    val walls = Phases.run(ctx, rep) { (traced, deadline) =>
      val phase = ArrayBuffer.empty[Double]
      while (System.nanoTime() < deadline) {
        val (out, s) = Timer.seconds(ctx.tracer.span("dedup.iteration")(once(ctx, docs, bench)))
        rep.attempted += 1
        phase += s * 1000
        if (out.kept != warm.kept)
          rep.fail(s"iteration kept ${out.kept.size} docs, the checked run kept ${warm.kept.size}")
        if (traced) tracedOut = Some(out)
        Log(f"iteration: ${s * 1000}%.0f ms")
      }
      if (!traced) plainMs ++= phase
      phase.toSeq
    }

    if (!ctx.args.trace) {
      // per median iteration: one slow pass of a short run must not move it
      val docsPerS = corpus.docs.size / (Stats.median(plainMs) / 1000)
      val setupS = Stats.median(setups.map(_._2))
      rep.put("setup_s", setupS, "s")
      rep.put("throughput_per_s", docsPerS, "1/s")
      rep.put("latency_p50_ms", Stats.median(plainMs), "ms")
      rep.put("latency_p95_ms", Stats.pct(plainMs, 0.95), "ms")
      rep.named("setup_s") = (setupS, "s")
      rep.named("dedup_docs_per_s") = (docsPerS, "1/s")
    } else {
      val n = walls.size.toLong
      Seq("functions.curate", "functions.pairs", "functions.components", "functions.drop").foreach { l =>
        Layers.put(rep, l + "_s", Layers.selfPerOp(ctx, l, n))
      }
      tracedOut.foreach(o => Layers.put(rep, "functions.pairs_out", o.pairs.toDouble))
      Layers.put(rep, "functions.planted_recall", recall)
    }
  }
}
