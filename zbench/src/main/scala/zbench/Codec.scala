package zbench

import java.io.ByteArrayOutputStream

import scala.util.Random

import graft.model.{Endpoint, Span}

/** The benchmark's own Zipkin encoders: JSON_V2 span lines (the library's
  * snake_case field names) and proto3 `ListOfSpans` records (the public
  * zipkin.proto3 field numbers). Kept independent of the library's codecs so
  * a decoder bug cannot hide behind a matching encoder bug.
  */
object Codec {

  private def str(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  private def endpointJson(sb: StringBuilder, e: Endpoint): Unit = {
    sb.append('{')
    val fields = Seq(e.service_name.map("service_name" -> _), e.ipv4.map("ipv4" -> _)).flatten
    fields.zipWithIndex.foreach { case ((k, v), i) =>
      if (i > 0) sb.append(',')
      str(sb, k); sb.append(':'); str(sb, v)
    }
    sb.append('}')
  }

  def jsonLine(s: Span): String = {
    val sb = new StringBuilder(256)
    sb.append("{\"trace_id\":"); str(sb, s.trace_id)
    s.parent_id.foreach { p => sb.append(",\"parent_id\":"); str(sb, p) }
    sb.append(",\"id\":"); str(sb, s.id)
    s.kind.foreach { k => sb.append(",\"kind\":"); str(sb, k) }
    s.name.foreach { n => sb.append(",\"name\":"); str(sb, n) }
    s.timestamp.foreach(t => sb.append(",\"timestamp\":").append(t))
    s.duration.foreach(d => sb.append(",\"duration\":").append(d))
    s.local_endpoint.foreach { e => sb.append(",\"local_endpoint\":"); endpointJson(sb, e) }
    s.remote_endpoint.foreach { e => sb.append(",\"remote_endpoint\":"); endpointJson(sb, e) }
    if (s.tags.nonEmpty) {
      sb.append(",\"tags\":{")
      s.tags.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((k, v), i) =>
        if (i > 0) sb.append(',')
        str(sb, k); sb.append(':'); str(sb, v)
      }
      sb.append('}')
    }
    s.shared.foreach(b => sb.append(",\"shared\":").append(b))
    sb.append('}').toString
  }

  /** A line cut inside the trace id string: no field of it can parse. */
  def malformedJson(r: Random): String = "{\"trace_id\":\"" + TraceGen.hex(r, 7)

  // ——— proto3 ———

  private def varint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }
  private def tag(out: ByteArrayOutputStream, field: Int, wire: Int): Unit =
    varint(out, (field << 3 | wire).toLong)
  private def bytesField(out: ByteArrayOutputStream, field: Int, b: Array[Byte]): Unit = {
    tag(out, field, 2); varint(out, b.length.toLong); out.write(b)
  }
  private def stringField(out: ByteArrayOutputStream, field: Int, s: String): Unit =
    bytesField(out, field, s.getBytes("UTF-8"))
  private def fixed64(out: ByteArrayOutputStream, field: Int, v: Long): Unit = {
    tag(out, field, 1)
    (0 until 8).foreach(i => out.write(((v >>> (8 * i)) & 0xff).toInt))
  }
  private def hexBytes(h: String): Array[Byte] =
    h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def endpointProto(e: Endpoint): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    e.service_name.foreach(stringField(out, 1, _))
    e.ipv4.foreach(ip => bytesField(out, 2, ip.split('.').map(_.toInt.toByte)))
    out.toByteArray
  }

  private def kindNumber(k: String): Long = k match {
    case "CLIENT" => 1; case "SERVER" => 2; case "PRODUCER" => 3; case "CONSUMER" => 4
  }

  private def spanProto(s: Span): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    bytesField(out, 1, hexBytes(s.trace_id))
    s.parent_id.foreach(p => bytesField(out, 2, hexBytes(p)))
    bytesField(out, 3, hexBytes(s.id))
    s.kind.foreach { k => tag(out, 4, 0); varint(out, kindNumber(k)) }
    s.name.foreach(stringField(out, 5, _))
    s.timestamp.foreach(fixed64(out, 6, _))
    s.duration.foreach { d => tag(out, 7, 0); varint(out, d) }
    s.local_endpoint.foreach(e => bytesField(out, 8, endpointProto(e)))
    s.remote_endpoint.foreach(e => bytesField(out, 9, endpointProto(e)))
    s.tags.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val mo = new ByteArrayOutputStream()
      stringField(mo, 1, k); stringField(mo, 2, v)
      bytesField(out, 11, mo.toByteArray)
    }
    if (s.shared.contains(true)) { tag(out, 13, 0); varint(out, 1) }
    out.toByteArray
  }

  def protoList(spans: Seq[Span]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    spans.foreach(s => bytesField(out, 1, spanProto(s)))
    out.toByteArray
  }

  /** A one-span record cut in half: its length prefix overruns the payload. */
  def malformedProto(s: Span): Array[Byte] = {
    val whole = protoList(Seq(s))
    whole.take(whole.length / 2)
  }
}
