package graft.api

import graft.SparkSpec
import graft.core.VectorRecord

/** Wire parity for the six `service Vector` rpcs
  * (API.gRPC/Protos/Vector.proto:31-39) served as gRPC-Web.
  *
  * The codec goldens are HAND-COMPUTED from the public protobuf wire
  * spec and the reference's binary layout (Vector.cs:327-395,
  * VectorAttributes.cs:26-48) — they pin the format independently of the
  * codec itself, so the HTTP round-trips below (which use the same codec
  * on both sides) cannot be self-consistently wrong. */
class GrpcWebSpec extends SparkSpec {

  private def hex(bytes: Array[Byte]): String =
    bytes.map(b => f"${b & 0xFF}%02x").mkString

  // ------------------------------------------------------ codec goldens

  test("proto3 goldens: tags, varints, defaults-omitted (hand-computed)") {
    // GetVectorByIdRequest{id:"abc"}: tag (1<<3)|2 = 0x0a, len 3, bytes
    assert(hex(VectorProto.encodeGetVectorByIdRequest("abc")) === "0a03616263")
    // Response{success:true}: tag 0x08, varint 1; message omitted (default)
    assert(hex(VectorProto.encodeResponse(success = true)) === "0801")
    // Response{success:false, message:"x"}: success omitted, tag 0x12
    assert(hex(VectorProto.encodeResponse(success = false, "x")) === "120178")
    // SearchNearestRequest{query: VectorMessage{values:[0xAA]}, k:300}:
    // nested: inner VectorMessage = 0a 01 aa; outer field1 = 0a 03 <inner>;
    // k: tag 0x10, varint(300) = ac 02
    assert(hex(VectorProto.encodeSearchNearestRequest(Array(0xAA.toByte), 300))
      === "0a030a01aa10ac02")
    // negative int32 sign-extends to a 10-byte varint (proto3 rule)
    assert(hex(VectorProto.encodeSearchNearestRequest(Array(0x01.toByte), -1))
      === "0a030a010110ffffffffffffffffff01")
  }

  test("proto3 decode skips unknown fields and round-trips every message") {
    // a message with an unknown field 9 (varint) prepended: 48 2a = tag 72, 42
    val withUnknown = Array(0x48, 0x2A, 0x0A, 0x03, 0x61, 0x62, 0x63).map(_.toByte)
    assert(VectorProto.decodeGetVectorByIdRequest(withUnknown) === "abc")

    val payload = Array.tabulate(7)(i => (i * 17).toByte)
    assert(VectorProto.decodeVectorMessage(
      VectorProto.encodeVectorMessage(payload)).toSeq === payload.toSeq)
    assert(VectorProto.decodeAddVectorRequest(
      VectorProto.encodeAddVectorRequest(payload)).toSeq === payload.toSeq)
    assert(VectorProto.decodeResponse(
      VectorProto.encodeResponse(success = true, "done")) === ((true, "done")))
    val (qp, k) = VectorProto.decodeSearchNearestRequest(
      VectorProto.encodeSearchNearestRequest(payload, 42))
    assert(qp.toSeq === payload.toSeq && k === 42)
    val (uid, up) = VectorProto.decodeUpdateVectorRequest(
      VectorProto.encodeUpdateVectorRequest("some-id", payload))
    assert(uid === "some-id" && up.toSeq === payload.toSeq)
    val list = Seq(payload, Array(0x01.toByte))
    assert(VectorProto.decodeVectorList(VectorProto.encodeVectorList(list))
      .map(_.toSeq) === list.map(_.toSeq))
    assert(VectorProto.decodeGetVectorResponse(
      VectorProto.encodeGetVectorResponse(None)) === None)
    assert(VectorProto.decodeGetVectorResponse(
      VectorProto.encodeGetVectorResponse(Some(payload))).get.toSeq === payload.toSeq)
  }

  test("C# Guid byte order golden (Data1/2/3 little-endian, Data4 verbatim)") {
    val id = "00112233-4455-6677-8899-aabbccddeeff"
    assert(hex(VectorBinary.guidToBytes(id)) === "33221100554477668899aabbccddeeff")
    assert(VectorBinary.bytesToGuid(VectorBinary.guidToBytes(id), 0) === id)
    // C# Guid.ToString() is lowercase — uppercase input normalizes down
    assert(VectorBinary.bytesToGuid(VectorBinary.guidToBytes(id.toUpperCase), 0) === id)
  }

  test("Vector.ToBinary layout golden (Vector.cs:327-395) + round-trip") {
    val r = VectorRecord("00112233-4455-6677-8899-aabbccddeeff",
      Array(1.0f), Array(5.toShort), "hi", priority = 3, user_id = 7L, org_id = 9L)
    val expected =
      "33221100554477668899aabbccddeeff" + // guid
      "01000000" +                          // int32 LE values count = 1
      "02000000" +                          // int32 LE text bytes = 2
      "6869" +                              // "hi"
      "0000803f" +                          // float32 LE 1.0
      "0100" + "0500" +                     // int16 LE tag count, tag 5
      "03" +                                // sbyte priority
      "07000000" + "09000000"               // uint32 LE userId, orgId
    assert(hex(VectorBinary.toBinary(r)) === expected)
    val back = VectorBinary.fromBinary(VectorBinary.toBinary(r))
    assert(back.id === r.id && back.values.toSeq === r.values.toSeq &&
      back.tags.toSeq === r.tags.toSeq && back.original_text === "hi" &&
      back.priority === 3.toByte && back.user_id === 7L && back.org_id === 9L)
    // boundary: ids that aren't Guids / attributes outside uint32 fail loudly
    intercept[IllegalArgumentException](VectorBinary.toBinary(r.copy(id = "doc-42")))
    intercept[IllegalArgumentException](VectorBinary.toBinary(r.copy(user_id = 1L << 33)))
  }

  test("VectorBinary.fromBinary: truncated, oversized or garbage payloads decode or throw IllegalArgumentException") {
    import org.scalacheck.{Arbitrary, Gen, Prop, Test => Check}
    val record = for {
      values <- Gen.choose(0, 20).flatMap(Gen.listOfN(_, Arbitrary.arbitrary[Float]))
      tags <- Gen.listOf(Arbitrary.arbitrary[Short].map(s => (s & 0x7FFF).toShort))
      text <- Arbitrary.arbitrary[String]
      uid <- Gen.choose(0L, 0xFFFFFFFFL)
    } yield VectorBinary.toBinary(VectorRecord(GrpcWebSpec.ForgedId, values.toArray,
      tags.take(8).toArray, text, user_id = uid))
    val truncated = record.flatMap(b => Gen.choose(0, b.length).map(b.take))
    // a valid payload whose values/text counts are rewritten, up to 2^31-1
    val count = Gen.oneOf(Gen.choose(0, Int.MaxValue), Gen.const(Int.MaxValue), Gen.choose(-8, 64))
    val oversized = for { b <- record; nv <- count; nt <- count } yield
      GrpcWebSpec.forgedVector(nv, nt) ++ b.drop(24)
    val garbage = Gen.listOf(Arbitrary.arbitrary[Byte]).map(_.toArray)
    val prop = Prop.forAll(Gen.oneOf(truncated, oversized, garbage)) { b =>
      try { VectorBinary.fromBinary(b); true }
      catch { case _: IllegalArgumentException => true }
    }
    val result = Check.check(Check.Parameters.default.withMinSuccessfulTests(2000), prop)
    assert(result.passed, result.status.toString)
  }

  test("gRPC-Web framing: 5-byte headers, trailers frame, empty-body request") {
    val f = GrpcWeb.messageFrame(Array(0x61.toByte, 0x62.toByte))
    assert(hex(f) === "00000000026162")
    assert(GrpcWeb.firstMessage(f).toSeq === Seq(0x61.toByte, 0x62.toByte))
    assert(GrpcWeb.firstMessage(Array.emptyByteArray).isEmpty) // GetVectorsRequest{}
    val (msgs, trailers) = GrpcWeb.readFrames(
      GrpcWeb.messageFrame(Array(0x01.toByte)) ++ GrpcWeb.trailersFrame(0))
    assert(msgs.size === 1 && trailers("grpc-status") === "0")
  }

  // ------------------------------------------------- served round-trips

  private def withServer(dim: Int)(body: (VectorHttpServer, String) => Unit): Unit = {
    val srv = VectorHttpServer.serve(spark, dim, autoRebuild = false)
    val base = s"http://127.0.0.1:${srv.start()}"
    try body(srv, base) finally { srv.stop(); srv.db.close() }
  }

  private val client = java.net.http.HttpClient.newHttpClient()

  /** Unary gRPC-Web call: returns (message payloads, trailers map). */
  private def rpc(base: String, method: String, request: Array[Byte],
      text: Boolean = false): (Seq[Array[Byte]], Map[String, String]) = {
    val frames = GrpcWeb.messageFrame(request)
    val body = if (text) java.util.Base64.getEncoder.encode(frames) else frames
    val ct = if (text) "application/grpc-web-text" else "application/grpc-web+proto"
    val resp = client.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"$base/Vector/$method"))
        .header("Content-Type", ct)
        .method("POST", java.net.http.HttpRequest.BodyPublishers.ofByteArray(body))
        .build(),
      java.net.http.HttpResponse.BodyHandlers.ofByteArray())
    assert(resp.statusCode() === 200, s"gRPC-Web always answers HTTP 200, got ${resp.statusCode()}")
    val respBody =
      if (text) java.util.Base64.getDecoder.decode(new String(resp.body()).trim)
      else resp.body()
    GrpcWeb.readFrames(respBody)
  }

  test("all six rpcs round-trip on the wire with reference semantics") {
    withServer(4) { (srv, base) =>
      val idA = "0f8fad5b-d9cb-469f-a165-70867728950e"
      val idB = "7c9e6679-7425-40de-944b-e07fc1f90ae7"
      val recA = VectorRecord(idA, Array(1f, 0f, 0f, 0f), Array(2.toShort, 7.toShort),
        "alpha doc", priority = 1, user_id = 10L, org_id = 20L)
      val recB = VectorRecord(idB, Array(0.9f, 0f, 0f, 0f), Array.empty, "beta doc")

      // AddVector ×2: the id rides inside the binary payload
      for (rec <- Seq(recA, recB)) {
        val (msgs, trailers) = rpc(base, "AddVector",
          VectorProto.encodeAddVectorRequest(VectorBinary.toBinary(rec)))
        assert(trailers("grpc-status") === "0")
        assert(VectorProto.decodeResponse(msgs.head) === ((true, "")))
      }
      assert(srv.db.count === 2)

      // GetVectorById: flexible Guid parse (uppercase, braces) finds it
      val (gm, gt) = rpc(base, "GetVectorById",
        VectorProto.encodeGetVectorByIdRequest(s"{${idA.toUpperCase}}"))
      assert(gt("grpc-status") === "0")
      val got = VectorBinary.fromBinary(
        VectorProto.decodeGetVectorResponse(gm.head).get)
      assert(got.id === idA && got.values.toSeq === recA.values.toSeq &&
        got.tags.toSeq === recA.tags.toSeq && got.original_text === "alpha doc" &&
        got.priority === 1.toByte && got.user_id === 10L && got.org_id === 20L)

      // absent-but-well-formed id: OK status, EMPTY GetVectorResponse
      // (VectorService.cs:50-55 — not an error)
      val (am, at) = rpc(base, "GetVectorById", VectorProto.encodeGetVectorByIdRequest(
        "00000000-0000-0000-0000-000000000001"))
      assert(at("grpc-status") === "0")
      assert(VectorProto.decodeGetVectorResponse(am.head) === None)

      // malformed id: Guid.Parse throws → gRPC UNKNOWN, trailers-only
      val (mm, mt) = rpc(base, "GetVectorById",
        VectorProto.encodeGetVectorByIdRequest("not-a-guid"))
      assert(mm.isEmpty && mt("grpc-status") === "2")

      // GetVectors: both come back as full binary records — the server
      // streams the payload under ONE exact-length message frame, so a
      // stock unary client decodes it whole
      val (lm, lt) = rpc(base, "GetVectors", Array.emptyByteArray)
      assert(lt("grpc-status") === "0")
      assert(lm.size === 1, s"expected one message frame, got ${lm.size}")
      val listed = VectorProto.decodeVectorList(lm.head)
        .map(VectorBinary.fromBinary).map(r => r.id -> r).toMap
      assert(listed.keySet === Set(idA, idB))
      assert(listed(idA).tags.toSeq === Seq(2.toShort, 7.toShort))

      // SearchNearest: k=2 nearest to recA's vector, nearest first
      val query = VectorRecord("9b2b1f92-8a77-4a34-9c3a-111111111111",
        Array(1f, 0f, 0f, 0f))
      val (sm, st) = rpc(base, "SearchNearest",
        VectorProto.encodeSearchNearestRequest(VectorBinary.toBinary(query), 2))
      assert(st("grpc-status") === "0")
      val hits = VectorProto.decodeVectorList(sm.head).map(VectorBinary.fromBinary)
      assert(hits.map(_.id) === Seq(idA, idB), s"got ${hits.map(_.id)}")

      // a SearchNearest that omits k decodes as k = 0: the facade's one
      // k check answers UNKNOWN with its message, cold and warm alike
      for (warm <- Seq(false, true)) {
        if (warm) assert(srv.db.buildAllIndexes())
        val (km, kt) = rpc(base, "SearchNearest",
          VectorProto.encodeSearchNearestRequest(VectorBinary.toBinary(query), 0))
        assert(km.isEmpty && kt("grpc-status") === "2", s"warm=$warm: $kt")
        assert(kt("grpc-message") === "requirement failed: Number of neighbors must be greater than 0")
        // a 3-d query or update against the 4-d table: the same status
        val short = VectorRecord(idA, Array(1f, 0f, 0f))
        val (dm, dt) = rpc(base, "SearchNearest",
          VectorProto.encodeSearchNearestRequest(VectorBinary.toBinary(short), 2))
        val (um, ut) = rpc(base, "UpdateVector",
          VectorProto.encodeUpdateVectorRequest(idA, VectorBinary.toBinary(short)))
        for ((m, t) <- Seq((dm, dt), (um, ut))) {
          assert(m.isEmpty && t("grpc-status") === "2", s"warm=$warm: $t")
          assert(t("grpc-message").startsWith(
            "requirement failed: dimension 3 != table dimension 4 "), s"warm=$warm: $t")
        }
        assert(srv.db.getVector(idA).get.values.toSeq === recA.values.toSeq)
      }

      // UpdateVector: replaces values/text, drops tags (VectorList quirk)
      val replacement = VectorRecord(idA, Array(0f, 1f, 0f, 0f),
        Array(9.toShort), "updated doc")
      val (um, ut) = rpc(base, "UpdateVector",
        VectorProto.encodeUpdateVectorRequest(idA, VectorBinary.toBinary(replacement)))
      assert(ut("grpc-status") === "0")
      assert(VectorProto.decodeResponse(um.head)._1 === true)
      val updated = srv.db.getVector(idA).get
      assert(updated.values.toSeq === Seq(0f, 1f, 0f, 0f) &&
        updated.original_text === "updated doc" &&
        updated.tags.isEmpty, "update must drop tags (VectorList.cs:184-187)")

      // UpdateVector on an absent id: success=false, still grpc-status 0
      val (u2m, u2t) = rpc(base, "UpdateVector", VectorProto.encodeUpdateVectorRequest(
        "00000000-0000-0000-0000-000000000001", VectorBinary.toBinary(replacement)))
      assert(u2t("grpc-status") === "0")
      assert(VectorProto.decodeResponse(u2m.head)._1 === false)

      // ClearVectors: empties the store
      val (cm, ct2) = rpc(base, "ClearVectors", Array.emptyByteArray)
      assert(ct2("grpc-status") === "0")
      assert(VectorProto.decodeResponse(cm.head)._1 === true)
      assert(srv.db.count === 0)
    }
  }

  test("malformed framing maps to a grpc-status error, never an HTTP error or hang") {
    withServer(2) { (_, base) =>
      def raw(body: Array[Byte]): (Int, Map[String, String]) = {
        val resp = client.send(
          java.net.http.HttpRequest.newBuilder(
              java.net.URI.create(s"$base/Vector/GetVectors"))
            .header("Content-Type", "application/grpc-web+proto")
            .method("POST", java.net.http.HttpRequest.BodyPublishers.ofByteArray(body))
            .build(),
          java.net.http.HttpResponse.BodyHandlers.ofByteArray())
        (resp.statusCode(), GrpcWeb.readFrames(resp.body())._2)
      }
      // truncated frame header (1 < 5 bytes)
      val (c1, t1) = raw(Array(0x00.toByte))
      assert(c1 === 200 && t1("grpc-status") === "2", s"got $c1 $t1")
      // frame length overruns the body
      val (c2, t2) = raw(Array(0x00, 0x00, 0x00, 0x00, 0x7F).map(_.toByte))
      assert(c2 === 200 && t2("grpc-status") === "2", s"got $c2 $t2")
      // request beginning with a trailers frame is not a valid unary call
      val (c3, t3) = raw(GrpcWeb.trailersFrame(0))
      assert(c3 === 200 && t3("grpc-status") === "2", s"got $c3 $t3")
      // an AddVector payload declaring 2^31-1 values (or text bytes) is a
      // status, not an OutOfMemoryError — on both content types — and
      // the server answers the next request
      for (forged <- Seq(GrpcWebSpec.forgedVector(Int.MaxValue, 0),
          GrpcWebSpec.forgedVector(0, Int.MaxValue)); text <- Seq(false, true)) {
        val (am, at) = rpc(base, "AddVector", VectorProto.encodeAddVectorRequest(forged), text)
        assert(am.isEmpty && at("grpc-status") === "2", s"got $at")
        assert(at("grpc-message").contains("vector binary truncated"))
        assert(rpc(base, "GetVectors", Array.emptyByteArray)._2("grpc-status") === "0")
      }
    }
  }

  test("GetVectors streams records under one exact message frame with bounded driver buffers") {
    withServer(8) { (srv, base) =>
      // a table bigger than any single response buffer should be: 600
      // records × 8 dims across 4 partitions, loaded distributed
      import org.apache.spark.sql.functions._
      val n = 600
      val rows = spark.range(n).select(
        format_string("00000000-0000-0000-0000-%012x", col("id")).as("id"),
        array((0 until 8).map(i => (col("id") + i).cast("float")): _*).as("values"),
        array().cast("array<smallint>").as("tags"),
        concat(lit("doc "), col("id")).as("original_text"),
        lit(0).cast("tinyint").as("priority"),
        lit(0L).as("user_id"), lit(0L).as("org_id")).repartition(4)
      srv.db.addVectors(rows)

      val before = srv.streamedGetVectorsRecords.get()
      val (lm, lt) = rpc(base, "GetVectors", Array.emptyByteArray)
      assert(lt("grpc-status") === "0")
      // ONE message frame whose 5-byte header declared the exact total
      // (readFrames would throw on any length/body disagreement) — the
      // stock unary contract — while the server wrote it record by
      // record: the counter proves n incremental writes, so the largest
      // driver-side allocation is one record's encoding, not the table
      assert(lm.size === 1, s"expected one exact-length frame, got ${lm.size}")
      assert(srv.streamedGetVectorsRecords.get() - before === n.toLong)
      val ids = VectorProto.decodeVectorList(lm.head)
        .map(VectorBinary.fromBinary(_).id).toSet
      assert(ids.size === n)

      // an empty table is ONE zero-length message frame + OK trailers —
      // the valid empty GetVectorsResponse a stock unary client expects
      srv.db.clear()
      val (em, et) = rpc(base, "GetVectors", Array.emptyByteArray)
      assert(et("grpc-status") === "0" && em.map(_.length) === Seq(0))
      // malformed request framing still fails loudly on the stream path
      val resp = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"$base/Vector/GetVectors"))
          .header("Content-Type", "application/grpc-web+proto")
          .method("POST", java.net.http.HttpRequest.BodyPublishers.ofByteArray(
            Array(0x00, 0x00, 0x00, 0x00, 0x7F).map(_.toByte)))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofByteArray())
      assert(resp.statusCode() === 200)
      assert(GrpcWeb.readFrames(resp.body())._2("grpc-status") === "2")
    }
  }

  test("GetVectors grpc-web-text streams: incremental base64, bounded driver buffers") {
    withServer(8) { (srv, base) =>
      import org.apache.spark.sql.functions._
      val n = 400
      val rows = spark.range(n).select(
        format_string("00000000-0000-0000-0000-%012x", col("id")).as("id"),
        array((0 until 8).map(i => (col("id") + i).cast("float")): _*).as("values"),
        array().cast("array<smallint>").as("tags"),
        concat(lit("doc "), col("id")).as("original_text"),
        lit(0).cast("tinyint").as("priority"),
        lit(0L).as("user_id"), lit(0L).as("org_id")).repartition(4)
      srv.db.addVectors(rows)

      // the -text path must hit the SAME streaming core as binary: the
      // counter proves n incremental record writes (a buffered
      // dispatchRpc reply would leave it untouched — and that fallback
      // now throws, so a buffered path can't even answer), while the
      // base64 body still decodes to one exact-length message frame.
      val before = srv.streamedGetVectorsRecords.get()
      val (lm, lt) = rpc(base, "GetVectors", Array.emptyByteArray, text = true)
      assert(lt("grpc-status") === "0")
      assert(lm.size === 1, s"expected one exact-length frame, got ${lm.size}")
      assert(srv.streamedGetVectorsRecords.get() - before === n.toLong)
      val ids = VectorProto.decodeVectorList(lm.head)
        .map(VectorBinary.fromBinary(_).id).toSet
      assert(ids.size === n)

      // malformed base64-framed request still fails loudly on this path
      val resp = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"$base/Vector/GetVectors"))
          .header("Content-Type", "application/grpc-web-text")
          .method("POST", java.net.http.HttpRequest.BodyPublishers.ofByteArray(
            java.util.Base64.getEncoder.encode(Array(0x00, 0x00, 0x00, 0x00, 0x7F).map(_.toByte))))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofByteArray())
      assert(resp.statusCode() === 200)
      val decoded = java.util.Base64.getDecoder.decode(new String(resp.body()).trim)
      assert(GrpcWeb.readFrames(decoded)._2("grpc-status") === "2")
    }
  }

  test("GetVectors pass-2 byte-count guard: divergent second pass ends body without trailers") {
    val db = new NeighborlySpark(spark, 3, autoRebuild = false)
    // test seam: pass 1 sizes the full table, pass 2 streams one row
    // short — the declared message-frame length can no longer be honored
    val srv = new VectorHttpServer(db) {
      private val pass = new java.util.concurrent.atomic.AtomicInteger
      override protected[api] def vectorsPass(): org.apache.spark.sql.DataFrame =
        if (pass.getAndIncrement() == 0) db.vectors else db.vectors.limit(9)
    }
    val base = s"http://127.0.0.1:${srv.start()}"
    try {
      for (i <- 0 until 10)
        db.addVector(VectorRecord(f"00000000-0000-0000-0000-$i%012x",
          Array(i.toFloat, 0f, 0f)))
      val resp = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"$base/Vector/GetVectors"))
          .header("Content-Type", "application/grpc-web+proto")
          .method("POST", java.net.http.HttpRequest.BodyPublishers.ofByteArray(
            GrpcWeb.messageFrame(Array.emptyByteArray)))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofByteArray())
      assert(resp.statusCode() === 200)
      // loud abort: the body stops short of the declared frame length with
      // NO trailers frame — readFrames refuses it, so no client can ever
      // mistake the truncated stream for a clean status-0 reply
      val declared = java.nio.ByteBuffer.wrap(resp.body(), 1, 4).getInt
      assert(resp.body().length - 5 < declared,
        "stream must be visibly short of the declared length, not padded")
      intercept[IllegalArgumentException](GrpcWeb.readFrames(resp.body()))
    } finally { srv.stop(); db.close() }
  }

  test("grpc-message percent-encodes non-ASCII and readFrames rejects overrun frames") {
    // the gRPC spec's grpc-message rule: bytes outside printable ASCII
    // travel percent-encoded UTF-8 ('é' = %C3%A9); '%' itself encodes
    val (_, t) = GrpcWeb.readFrames(GrpcWeb.trailersFrame(2, "café 100%"))
    assert(t("grpc-message") === "caf%C3%A9 100%25")
    // a frame length overrunning the body is an error, not zero-padding
    val truncated = GrpcWeb.messageFrame(Array.fill(16)(0x01.toByte)).dropRight(8)
    intercept[IllegalArgumentException](GrpcWeb.readFrames(truncated))
  }

  test("grpc-web-text (base64) transport and UNIMPLEMENTED methods") {
    withServer(2) { (srv, base) =>
      val rec = VectorRecord("0f8fad5b-d9cb-469f-a165-70867728950e", Array(1f, 2f))
      val (msgs, trailers) = rpc(base, "AddVector",
        VectorProto.encodeAddVectorRequest(VectorBinary.toBinary(rec)), text = true)
      assert(trailers("grpc-status") === "0")
      assert(VectorProto.decodeResponse(msgs.head)._1 === true)
      assert(srv.db.count === 1)

      val (nm, nt) = rpc(base, "NoSuchMethod", Array.emptyByteArray)
      assert(nm.isEmpty && nt("grpc-status") === "12")

      // a dimension-mismatched AddVector surfaces the facade's ingest
      // guard as a gRPC error, never a silent drop or an HTTP 500
      val bad = VectorRecord("7c9e6679-7425-40de-944b-e07fc1f90ae7", Array(1f, 2f, 3f))
      val (bm, bt) = rpc(base, "AddVector",
        VectorProto.encodeAddVectorRequest(VectorBinary.toBinary(bad)))
      assert(bm.isEmpty && bt("grpc-status") === "2")
      assert(bt.getOrElse("grpc-message", "").contains("dimension"))
      assert(srv.db.count === 1, "the mismatched vector must not land")
    }
  }
}

object GrpcWebSpec {
  val ForgedId = "0f8fad5b-d9cb-469f-a165-70867728950e"

  /** The 24-byte `Vector.ToBinary()` header with the given values count
    * and originalText length, and nothing after it. */
  def forgedVector(nValues: Int, nText: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(24).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put(VectorBinary.guidToBytes(ForgedId)).putInt(nValues).putInt(nText).array()
}
