package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.api.{GrpcHttp2Client, GrpcWeb, VectorBinary, VectorProto}
import graft.core.VectorRecord

/** A search reply as the client decoded it: ids and vectors in reply
  * order, plus the distance when the transport carries one (REST). */
final case class Reply(ids: Seq[String], vecs: Seq[Array[Float]], dists: Option[Seq[Double]],
    bytes: Int)

/** The three client transports of the served API, one connection each. */
final class Clients(restPort: Int, h2Port: Int, tracer: Tracer) {
  private val mapper = new ObjectMapper()
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val h2 = new GrpcHttp2Client("127.0.0.1", h2Port)
  private val base = s"http://127.0.0.1:$restPort"

  /** Query vectors travel as a record with the nil Guid: the wire
    * payload needs a Guid and SearchNearest ignores it. */
  private val QueryId = "00000000-0000-0000-0000-000000000000"

  def close(): Unit = h2.close()

  private def codec[T](name: String)(f: => T): T = tracer.span("api", s"codec.$name")(f)

  private def h2Rpc(method: String, msg: Array[Byte]): Array[Byte] = {
    val (payload, meta, _) = tracer.span("api", s"h2.$method")(h2.call(method, msg))
    val status = meta.getOrElse("grpc-status", "")
    if (status != "0") throw new IllegalStateException(s"$method: grpc-status $status ${meta.getOrElse("grpc-message", "")}")
    payload
  }

  private def decodeList(payload: Array[Byte]): Reply = codec("decode") {
    val recs = VectorProto.decodeVectorList(payload).map(VectorBinary.fromBinary)
    Reply(recs.map(_.id), recs.map(_.values), None, payload.length)
  }

  def searchH2(q: Array[Float], k: Int): Reply = {
    val req = codec("encode")(VectorProto.encodeSearchNearestRequest(
      VectorBinary.toBinary(VectorRecord(QueryId, q)), k))
    decodeList(h2Rpc("SearchNearest", req))
  }

  def searchGrpcWeb(q: Array[Float], k: Int): Reply = {
    val body = codec("encode")(GrpcWeb.messageFrame(VectorProto.encodeSearchNearestRequest(
      VectorBinary.toBinary(VectorRecord(QueryId, q)), k)))
    val resp = tracer.span("api", "grpcweb.SearchNearest")(http.send(
      HttpRequest.newBuilder(URI.create(s"$base/Vector/SearchNearest"))
        .header("Content-Type", "application/grpc-web+proto")
        .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.ofByteArray()))
    if (resp.statusCode() != 200) throw new IllegalStateException(s"grpc-web: HTTP ${resp.statusCode()}")
    val (msgs, trailers) = codec("frames")(GrpcWeb.readFrames(resp.body()))
    if (trailers.getOrElse("grpc-status", "") != "0")
      throw new IllegalStateException(s"grpc-web: grpc-status ${trailers.getOrElse("grpc-status", "")}")
    if (msgs.length != 1) throw new IllegalStateException(s"grpc-web: ${msgs.length} message frames")
    decodeList(msgs.head)
  }

  def searchRest(q: Array[Float], k: Int): Reply = {
    val body = codec("json.encode") {
      val n = mapper.createObjectNode()
      val vs = n.putArray("values"); q.foreach(x => vs.add(x))
      mapper.writeValueAsBytes(n)
    }
    val resp = tracer.span("api", "rest.searchNearest")(http.send(
      HttpRequest.newBuilder(URI.create(s"$base/vectors/searchNearest?k=$k"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.ofByteArray()))
    if (resp.statusCode() != 200) throw new IllegalStateException(s"rest: HTTP ${resp.statusCode()}")
    codec("json.decode") {
      import scala.jdk.CollectionConverters._
      val arr = mapper.readTree(resp.body()).elements().asScala.toSeq
      Reply(arr.map(_.get("id").asText()),
        arr.map(n => n.get("values").elements().asScala.map(_.floatValue()).toArray),
        Some(arr.map(_.get("dist").asDouble())), resp.body().length)
    }
  }

  /** GET /metrics; returns the served vector count. */
  def scrape(): Long = {
    val resp = tracer.span("api", "rest.metrics")(http.send(
      HttpRequest.newBuilder(URI.create(s"$base/metrics")).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray()))
    if (resp.statusCode() != 200) throw new IllegalStateException(s"metrics: HTTP ${resp.statusCode()}")
    codec("json.decode")(mapper.readTree(resp.body()).get("vectorCount").asLong())
  }
}
