package graft.api

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import graft.core.VectorRecord
import ProtoWire.{Reader, Writer, eachField}

/** The reference's `VectorMessage.values` payload is NOT raw floats — it
  * is the reference's own record serialization, `Vector.ToBinary()`
  * (Neighborly/Vector.cs:327-395, parsed back by `Vector(ReadOnlySpan)`
  * Vector.cs:133-170):
  *
  * {{{
  *   [0..15]  Guid id            (C# Guid byte order: Data1/2/3
  *                                little-endian, Data4 as-is)
  *   [16..19] int32 LE           values count
  *   [20..23] int32 LE           originalText UTF-8 byte count
  *   [24..]   UTF-8 originalText
  *   then     float32 LE × count
  *   then     int16 LE tag count, int16 LE × tags
  *   then     attributes: sbyte priority, uint32 LE userId,
  *            uint32 LE orgId   (VectorAttributes.cs:26-48)
  * }}}
  *
  * This codec round-trips that layout against [[VectorRecord]] so a
  * wire-faithful client exchanges the exact bytes the reference's
  * `Utility.ConvertToVector{,Message}` (API.gRPC/Utility.cs:7-29) does.
  * Boundary: the reference's ids are Guids and its user/org ids are
  * uint32 — string ids that don't parse as UUIDs, or user/org ids
  * outside uint32, fail loudly rather than truncate silently.
  */
object VectorBinary {

  /** C# `Guid(byte[])` byte order for a UUID string: first three fields
    * little-endian, last eight bytes verbatim. */
  def guidToBytes(id: String): Array[Byte] = {
    val u =
      try java.util.UUID.fromString(id)
      catch { case _: IllegalArgumentException => throw new IllegalArgumentException(
        s"id '$id' is not a UUID — the reference's wire ids are Guids (Vector.cs:12,135)") }
    val msb = u.getMostSignificantBits
    val lsb = u.getLeastSignificantBits
    val b = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
    b.putInt((msb >>> 32).toInt)        // Data1
    b.putShort(((msb >>> 16) & 0xFFFF).toShort) // Data2
    b.putShort((msb & 0xFFFF).toShort)  // Data3
    b.order(ByteOrder.BIG_ENDIAN).putLong(lsb)  // Data4: verbatim
    b.array()
  }

  def bytesToGuid(b: Array[Byte], off: Int): String = {
    val bb = ByteBuffer.wrap(b, off, 16).order(ByteOrder.LITTLE_ENDIAN)
    val d1 = bb.getInt.toLong & 0xFFFFFFFFL
    val d2 = (bb.getShort.toLong & 0xFFFFL) << 16
    val d3 = bb.getShort.toLong & 0xFFFFL
    val lsb = bb.order(ByteOrder.BIG_ENDIAN).getLong
    new java.util.UUID((d1 << 32) | d2 | d3, lsb).toString
  }

  def toBinary(r: VectorRecord): Array[Byte] = {
    require(r.user_id >= 0 && r.user_id <= 0xFFFFFFFFL,
      s"user_id ${r.user_id} outside uint32 (VectorAttributes.cs:10)")
    require(r.org_id >= 0 && r.org_id <= 0xFFFFFFFFL,
      s"org_id ${r.org_id} outside uint32 (VectorAttributes.cs:11)")
    require(r.tags.length <= Short.MaxValue,
      s"${r.tags.length} tags overflow the int16 tag count (Vector.cs:357)")
    val text = r.original_text.getBytes(UTF_8)
    val buf = ByteBuffer.allocate(16 + 4 + 4 + text.length +
      4 * r.values.length + 2 + 2 * r.tags.length + 1 + 4 + 4)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put(guidToBytes(r.id))
    buf.putInt(r.values.length)
    buf.putInt(text.length)
    buf.put(text)
    r.values.foreach(buf.putFloat)
    buf.putShort(r.tags.length.toShort)
    r.tags.foreach(buf.putShort)
    buf.put(r.priority)
    buf.putInt((r.user_id & 0xFFFFFFFFL).toInt)
    buf.putInt((r.org_id & 0xFFFFFFFFL).toInt)
    buf.array()
  }

  /** Every wire length is checked against the bytes actually present
    * BEFORE anything is allocated or read: a forged count must fail as an
    * `IllegalArgumentException` (a gRPC status on every transport), never
    * size an array — 2^31-1 values is an `OutOfMemoryError`, which no
    * status mapping catches — nor underflow the buffer. */
  def fromBinary(b: Array[Byte]): VectorRecord = {
    require(b.length >= 24, s"vector binary too short (${b.length} bytes; header is 24)")
    val id = bytesToGuid(b, 0)
    val buf = ByteBuffer.wrap(b, 16, b.length - 16).order(ByteOrder.LITTLE_ENDIAN)
    def need(bytes: Long, what: String): Unit = require(bytes <= buf.remaining,
      s"vector binary truncated: $what needs $bytes bytes, ${buf.remaining} left")
    val nValues = buf.getInt
    val nText = buf.getInt
    require(nValues >= 0 && nText >= 0, s"negative lengths in vector binary ($nValues, $nText)")
    need(nText, "originalText")
    val text = new Array[Byte](nText); buf.get(text)
    need(4L * nValues, s"$nValues values")
    val values = Array.fill(nValues)(buf.getFloat)
    need(2, "tag count")
    val nTags = buf.getShort.toInt
    require(nTags >= 0, s"negative tag count $nTags")
    need(2L * nTags + 1 + 4 + 4, s"$nTags tags and the attributes")
    val tags = Array.fill(nTags)(buf.getShort)
    val priority = buf.get()
    val userId = Integer.toUnsignedLong(buf.getInt)
    val orgId = Integer.toUnsignedLong(buf.getInt)
    VectorRecord(id, values, tags, new String(text, UTF_8), priority, userId, orgId)
  }
}

/** Encoders/decoders for the nine `Vector.proto` messages
  * (API.gRPC/Protos/Vector.proto:6-71). "Vector payload" values are the
  * [[VectorBinary]] blobs a `VectorMessage`'s single `bytes values = 1`
  * field carries. Requests decode tolerant of unknown fields; responses
  * encode minimal proto3 (defaults omitted). */
object VectorProto {

  /** `message VectorMessage { bytes values = 1; }` */
  def encodeVectorMessage(payload: Array[Byte]): Array[Byte] =
    new Writer().bytesField(1, payload).toBytes

  def decodeVectorMessage(bytes: Array[Byte]): Array[Byte] = {
    var payload = Array.emptyByteArray
    eachField(bytes) {
      case (1, 2, r) => payload = r.lengthDelimited()
      case (_, w, r) => r.skip(w)
    }
    payload
  }

  /** `Response { bool success = 1; string message = 2; }` */
  def encodeResponse(success: Boolean, message: String = ""): Array[Byte] =
    new Writer().boolField(1, success).stringField(2, message).toBytes

  def decodeResponse(bytes: Array[Byte]): (Boolean, String) = {
    var ok = false; var msg = ""
    eachField(bytes) {
      case (1, 0, r) => ok = r.varint() != 0L
      case (2, 2, r) => msg = new String(r.lengthDelimited(), UTF_8)
      case (_, w, r) => r.skip(w)
    }
    (ok, msg)
  }

  /** `AddVectorRequest { VectorMessage vector = 1; }` — returns the
    * inner vector payload (empty if the field is absent). */
  def decodeAddVectorRequest(bytes: Array[Byte]): Array[Byte] =
    decodeSingleVectorField(bytes, field = 1)

  def encodeAddVectorRequest(payload: Array[Byte]): Array[Byte] =
    new Writer().messageField(1, encodeVectorMessage(payload)).toBytes

  /** `GetVectorByIdRequest { string id = 1; }` */
  def decodeGetVectorByIdRequest(bytes: Array[Byte]): String = {
    var id = ""
    eachField(bytes) {
      case (1, 2, r) => id = new String(r.lengthDelimited(), UTF_8)
      case (_, w, r) => r.skip(w)
    }
    id
  }

  def encodeGetVectorByIdRequest(id: String): Array[Byte] =
    new Writer().stringField(1, id).toBytes

  /** `GetVectorResponse { VectorMessage vector = 1; }` — `None` encodes
    * the reference's found-nothing shape: an EMPTY message
    * (VectorService.cs:40-56 returns `new GetVectorResponse()`). */
  def encodeGetVectorResponse(payload: Option[Array[Byte]]): Array[Byte] =
    payload.fold(Array.emptyByteArray)(p =>
      new Writer().messageField(1, encodeVectorMessage(p)).toBytes)

  def decodeGetVectorResponse(bytes: Array[Byte]): Option[Array[Byte]] = {
    var found: Option[Array[Byte]] = None
    eachField(bytes) {
      case (1, 2, r) => found = Some(decodeVectorMessage(r.lengthDelimited()))
      case (_, w, r) => r.skip(w)
    }
    found
  }

  /** `GetVectorsResponse { repeated VectorMessage vectors = 1; }` (same
    * shape as `SearchResponse`, Vector.proto:51-53,69-71). */
  def encodeVectorList(payloads: Seq[Array[Byte]]): Array[Byte] = {
    val w = new Writer()
    payloads.foreach(p => w.messageField(1, encodeVectorMessage(p)))
    w.toBytes
  }

  /** ONE `vectors` item of the list response as standalone bytes — the
    * concatenation of these IS [[encodeVectorList]]'s output (a proto3
    * repeated field is just a repeated tagged field), which lets a
    * streaming server emit records one at a time under a precomputed
    * total message length. */
  def encodeVectorListItem(payload: Array[Byte]): Array[Byte] =
    new Writer().messageField(1, encodeVectorMessage(payload)).toBytes

  def decodeVectorList(bytes: Array[Byte]): Seq[Array[Byte]] = {
    val out = Seq.newBuilder[Array[Byte]]
    eachField(bytes) {
      case (1, 2, r) => out += decodeVectorMessage(r.lengthDelimited())
      case (_, w, r) => r.skip(w)
    }
    out.result()
  }

  /** `UpdateVectorRequest { string id = 1; VectorMessage vector = 2; }` */
  def decodeUpdateVectorRequest(bytes: Array[Byte]): (String, Array[Byte]) = {
    var id = ""; var payload = Array.emptyByteArray
    eachField(bytes) {
      case (1, 2, r) => id = new String(r.lengthDelimited(), UTF_8)
      case (2, 2, r) => payload = decodeVectorMessage(r.lengthDelimited())
      case (_, w, r) => r.skip(w)
    }
    (id, payload)
  }

  def encodeUpdateVectorRequest(id: String, payload: Array[Byte]): Array[Byte] =
    new Writer().stringField(1, id)
      .messageField(2, encodeVectorMessage(payload)).toBytes

  /** `SearchNearestRequest { VectorMessage query = 1; int32 k = 2; }` */
  def decodeSearchNearestRequest(bytes: Array[Byte]): (Array[Byte], Int) = {
    var payload = Array.emptyByteArray; var k = 0
    eachField(bytes) {
      case (1, 2, r) => payload = decodeVectorMessage(r.lengthDelimited())
      case (2, 0, r) => k = r.varint().toInt
      case (_, w, r) => r.skip(w)
    }
    (payload, k)
  }

  def encodeSearchNearestRequest(payload: Array[Byte], k: Int): Array[Byte] =
    new Writer().messageField(1, encodeVectorMessage(payload))
      .int32Field(2, k).toBytes

  private def decodeSingleVectorField(bytes: Array[Byte], field: Int): Array[Byte] = {
    var payload = Array.emptyByteArray
    eachField(bytes) {
      case (`field`, 2, r) => payload = decodeVectorMessage(r.lengthDelimited())
      case (_, w, r) => r.skip(w)
    }
    payload
  }
}

/** gRPC-Web framing (the protocol gRPC publishes for HTTP/1.1-compatible
  * transports): each message travels in a frame of 1 flag byte + 4-byte
  * big-endian length + payload; flag 0x00 = message, 0x80 = the trailers
  * frame, whose payload is `name: value\r\n` lines carrying `grpc-status`
  * (and optionally `grpc-message`). `application/grpc-web-text` wraps
  * frames in base64. */
object GrpcWeb {

  final case class StatusException(code: Int, message: String)
    extends RuntimeException(message)

  /** The one failure → (grpc-status, grpc-message) mapping every rpc path
    * on both transports uses: a [[StatusException]] keeps its own code,
    * anything else is UNKNOWN (2) — Grpc.Core's mapping of an unhandled
    * server exception — with a validation failure's bare message or
    * any other exception's `toString`. */
  private[api] def statusOf(e: Throwable): (Int, String) = e match {
    case StatusException(code, msg) => (code, msg)
    case e: IllegalArgumentException => (2, String.valueOf(e.getMessage))
    case e => (2, e.toString)
  }

  def frame(flags: Int, payload: Array[Byte]): Array[Byte] = {
    val b = ByteBuffer.allocate(5 + payload.length)
    b.put(flags.toByte).putInt(payload.length).put(payload)
    b.array()
  }

  def messageFrame(payload: Array[Byte]): Array[Byte] = frame(0x00, payload)

  /** grpc-message percent-encoding per the spec's rule: space and
    * printable ASCII pass through; '%' and anything outside travel as
    * percent-encoded UTF-8 bytes. Shared by the gRPC-Web trailers frame
    * and the native HTTP/2 trailing-headers path. */
  def encodeGrpcMessage(message: String): String =
    message.flatMap {
      case c if c != '%' && c >= ' ' && c.toInt < 127 => c.toString
      case c => c.toString.getBytes(UTF_8).map(b => f"%%${b & 0xFF}%02X").mkString
    }

  def trailersFrame(status: Int, message: String = ""): Array[Byte] = {
    val sb = new StringBuilder(s"grpc-status: $status\r\n")
    if (message.nonEmpty)
      sb.append("grpc-message: ").append(encodeGrpcMessage(message)).append("\r\n")
    frame(0x80, sb.toString.getBytes(UTF_8))
  }

  /** First message frame's payload from a request body (a unary request
    * carries exactly one); an empty body decodes as an empty message —
    * the shape of `GetVectorsRequest` / `Request`. */
  def firstMessage(body: Array[Byte]): Array[Byte] = {
    if (body.isEmpty) return Array.emptyByteArray
    require(body.length >= 5, s"gRPC-Web frame header truncated (${body.length} bytes)")
    val b = ByteBuffer.wrap(body)
    val flags = b.get() & 0xFF
    val len = b.getInt
    require((flags & 0x80) == 0, "request began with a trailers frame")
    require(len >= 0 && 5 + len <= body.length, s"frame length $len overruns body ${body.length}")
    java.util.Arrays.copyOfRange(body, 5, 5 + len)
  }

  /** Split a response body into (message frames, trailers lines). */
  def readFrames(body: Array[Byte]): (Seq[Array[Byte]], Map[String, String]) = {
    val msgs = Seq.newBuilder[Array[Byte]]
    var trailers = Map.empty[String, String]
    var pos = 0
    while (pos + 5 <= body.length) {
      val flags = body(pos) & 0xFF
      val len = ByteBuffer.wrap(body, pos + 1, 4).getInt
      // a truncated/corrupt body must fail loudly, not zero-pad the tail
      // (copyOfRange pads) and silently skip the real trailers
      require(len >= 0 && pos + 5 + len <= body.length,
        s"gRPC-Web frame at $pos: length $len overruns body ${body.length}")
      val payload = java.util.Arrays.copyOfRange(body, pos + 5, pos + 5 + len)
      if ((flags & 0x80) != 0)
        trailers = payload.map(_.toChar).mkString.split("\r\n").toSeq
          .flatMap { line => line.split(":", 2) match {
            case Array(k, v) => Some(k.trim.toLowerCase -> v.trim)
            case _ => None
          } }.toMap
      else msgs += payload
      pos += 5 + len
    }
    (msgs.result(), trailers)
  }
}
