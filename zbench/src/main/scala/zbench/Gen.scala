package zbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.model.{Endpoint, Span}

/** Generator parameters; zbench/README.md gives the reason for each. */
object GenParams {
  val Services = 30
  val ServiceZipfS = 1.1
  val NamesPerService = 6
  val MedianSpans = 20
  val SizeSigma = 0.9
  val MaxSpans = 400
  val Days = 3
  val BaseMs = 1767225600000L // 2026-01-01T00:00:00Z
  val DupRate = 0.03
  val MalformedRate = 0.001
  val LateRate = 0.005
  val ErrorRate = 0.02
  val WideIdRate = 0.1
  val SpansPerRecord = 8
  val TagKeys: Seq[String] = Seq("env", "http.method")
}

/** Sampler for ranks 0 until n with P(k) proportional to 1 / (k + 1)^s. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  def sample(r: Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Seeded Zipkin trace generator. Everything the library sees is produced
  * from these spans as bytes (JSON_V2 lines or proto3 `ListOfSpans`).
  */
object TraceGen {
  import GenParams._

  val services: IndexedSeq[String] = (0 until Services).map(i => f"svc-$i%02d")
  private val serviceZipf = new Zipf(Services, ServiceZipfS)
  private val methods = Seq("GET" -> 0.6, "POST" -> 0.25, "PUT" -> 0.1, "DELETE" -> 0.05)
  private val envs = Seq("prod" -> 0.8, "staging" -> 0.15, "dev" -> 0.05)

  def spanName(svc: Int, k: Int): String = s"${services(svc)}/op-$k"
  def hotService(r: Random): Int = serviceZipf.sample(r)

  private def weighted(r: Random, xs: Seq[(String, Double)]): String = {
    var u = r.nextDouble()
    xs.find { case (_, p) => u -= p; u < 0 }.getOrElse(xs.last)._1
  }

  def hex(r: Random, chars: Int): String = {
    val sb = new StringBuilder(chars)
    while (sb.length < chars) sb.append(f"${r.nextInt() & 0xffff}%04x")
    sb.take(chars).toString
  }

  /** Heavy-tailed trace size: lognormal with median [[MedianSpans]]. */
  def traceSize(r: Random): Int =
    math.max(2, math.min(MaxSpans, math.round(MedianSpans * math.exp(SizeSigma * r.nextGaussian())).toInt))

  private def endpoint(svc: Int) =
    Some(Endpoint(service_name = Some(services(svc)), ipv4 = Some(s"10.0.${svc / 256}.${svc % 256}")))

  private def tags(r: Random, env: String): Map[String, String] = {
    val base = Map("env" -> env, "http.method" -> weighted(r, methods))
    if (r.nextDouble() < ErrorRate) base + ("error" -> "500") else base
  }

  /** One trace starting at `startUs`: a root SERVER span, then client/server
    * RPC pairs that share a span id.
    */
  def trace(r: Random, startUs: Long): Seq[Span] = {
    val size = traceSize(r)
    val traceId = hex(r, if (r.nextDouble() < WideIdRate) 32 else 16)
    val env = weighted(r, envs)
    val rootSvc = hotService(r)
    val rootDur = 2000L + (math.exp(r.nextGaussian()) * 40000).toLong
    val root = Span(trace_id = traceId, id = hex(r, 16), kind = Some("SERVER"),
      name = Some(spanName(rootSvc, r.nextInt(NamesPerService))),
      timestamp = Some(startUs), duration = Some(rootDur),
      local_endpoint = endpoint(rootSvc), tags = tags(r, env))
    val out = ArrayBuffer(root)
    val callers = ArrayBuffer((root, rootSvc))
    while (out.size + 1 < size) {
      val (parent, parentSvc) = callers(r.nextInt(callers.size))
      var callee = hotService(r)
      if (callee == parentSvc) callee = (callee + 1 + r.nextInt(Services - 1)) % Services
      val pDur = parent.duration.get
      val ts = parent.timestamp.get + 1 + r.nextLong(math.max(2L, pDur / 2))
      val dur = 1 + r.nextLong(math.max(2L, pDur / 2))
      val id = hex(r, 16)
      val name = Some(spanName(callee, r.nextInt(NamesPerService)))
      val client = Span(trace_id = traceId, parent_id = Some(parent.id), id = id,
        kind = Some("CLIENT"), name = name, timestamp = Some(ts), duration = Some(dur),
        local_endpoint = endpoint(parentSvc), remote_endpoint = endpoint(callee),
        tags = tags(r, env))
      val server = Span(trace_id = traceId, parent_id = Some(parent.id), id = id,
        kind = Some("SERVER"), name = name, timestamp = Some(ts + 1),
        duration = Some(math.max(1L, dur - 2)), local_endpoint = endpoint(callee),
        tags = tags(r, env), shared = Some(true))
      out += client += server
      callers += ((server, callee))
    }
    out.toSeq
  }

  /** `n` traces whose start times spread uniformly over [[Days]] UTC days. */
  def batch(r: Random, n: Int): Seq[Seq[Span]] = {
    val spanMs = Days * 86400000L
    (0 until n).map(_ => trace(r, (BaseMs + r.nextLong(spanMs)) * 1000L))
  }

  def dataEndMs: Long = BaseMs + Days * 86400000L
}

/** The generated input of the batch workloads, already cut into the two wire
  * formats, with the planted duplicates and malformed records recorded.
  */
final case class SpanInput(
    traces: Seq[Seq[Span]],
    jsonLines: Seq[String],
    protoRecords: Seq[Array[Byte]],
    validSpans: Int,          // every decodable span, duplicates included
    malformedJson: Int,
    malformedProto: Int,
    inputBytes: Long) {
  def malformed: Int = malformedJson + malformedProto
  def spans: Seq[Span] = traces.flatten
}

object SpanInput {
  import GenParams._

  /** Reporter batches of [[SpansPerRecord]] spans in arrival order; even
    * batches go out as JSON_V2 lines and odd ones as one proto3 record, so a
    * trace usually arrives split across both formats.
    */
  def apply(r: Random, traces: Seq[Seq[Span]]): SpanInput = {
    val arrival = ArrayBuffer.empty[Span]
    for (t <- traces; s <- t) {
      arrival += s
      if (r.nextDouble() < DupRate) arrival += s
    }
    val shuffled = shuffleLocally(r, arrival.toIndexedSeq)
    val json = ArrayBuffer.empty[String]
    val proto = ArrayBuffer.empty[Array[Byte]]
    var badJson = 0
    var badProto = 0
    shuffled.grouped(SpansPerRecord).zipWithIndex.foreach { case (group, i) =>
      if (i % 2 == 0) {
        group.foreach { s =>
          json += Codec.jsonLine(s)
          if (r.nextDouble() < MalformedRate) { json += Codec.malformedJson(r); badJson += 1 }
        }
      } else {
        proto += Codec.protoList(group)
        if (r.nextDouble() < MalformedRate * SpansPerRecord) {
          proto += Codec.malformedProto(group.head); badProto += 1
        }
      }
    }
    val bytes = json.map(_.length + 1L).sum + proto.map(_.length.toLong).sum
    SpanInput(traces, json.toSeq, proto.toSeq, arrival.size, badJson, badProto, bytes)
  }

  /** Reporters flush out of order, but only a little: swap within windows. */
  private def shuffleLocally[T](r: Random, xs: IndexedSeq[T]): IndexedSeq[T] =
    xs.grouped(64).flatMap(w => r.shuffle(w)).toIndexedSeq
}

/** Seeded text corpus with planted near-duplicates and contaminated docs. */
final case class Corpus(
    docs: Seq[(Long, String)],
    benchmark: Seq[String],
    nearDupOf: Map[Long, Long], // planted copy id -> original id
    contaminated: Set[Long])

object CorpusGen {
  val Docs = 3000
  val NearDupRate = 0.05
  val ContaminatedRate = 0.01
  val Vocabulary = 4000
  val BenchmarkPassages = 20

  private val stop = Seq("the", "of", "and", "to", "in", "a", "is", "that", "for", "it")

  def apply(r: Random): Corpus = {
    val syllables = Seq("ka", "ro", "mi", "ten", "sul", "va", "dor", "pe", "lin", "qua", "zo", "bre")
    val vocab = (0 until Vocabulary).map { _ =>
      (0 until 2 + r.nextInt(3)).map(_ => syllables(r.nextInt(syllables.size))).mkString
    }.distinct.toIndexedSeq
    val zipf = new Zipf(vocab.size, 1.0)
    def words(n: Int): IndexedSeq[String] = (0 until n).map { _ =>
      if (r.nextDouble() < 0.2) stop(r.nextInt(stop.size)) else vocab(zipf.sample(r))
    }
    val bench = (0 until BenchmarkPassages).map(_ => words(14).mkString(" "))
    val out = ArrayBuffer.empty[(Long, String)]
    val nearDup = scala.collection.mutable.Map.empty[Long, Long]
    val contaminated = scala.collection.mutable.Set.empty[Long]
    var id = 0L
    while (out.size < Docs) {
      val base = words(60 + r.nextInt(100))
      val text =
        if (r.nextDouble() < ContaminatedRate) {
          contaminated += id
          val at = r.nextInt(base.size)
          (base.take(at) ++ bench(r.nextInt(bench.size)).split(' ') ++ base.drop(at)).mkString(" ")
        } else base.mkString(" ")
      out += id -> text
      id += 1
      if (!contaminated.contains(id - 1) && r.nextDouble() < NearDupRate && out.size < Docs) {
        // one or two substituted words: 3-shingle Jaccard stays near 0.9
        val edited = base.toArray
        (0 until 1 + r.nextInt(2)).foreach(_ => edited(r.nextInt(edited.length)) = vocab(zipf.sample(r)))
        out += id -> edited.mkString(" ")
        nearDup(id) = id - 1
        id += 1
      }
    }
    Corpus(out.toSeq, bench, nearDup.toMap, contaminated.toSet)
  }
}
