package graft.api

import graft.SparkSpec
import graft.core.VectorRecord

/** NATIVE gRPC over HTTP/2 ([[GrpcHttp2Server]]), driven by the
  * independent Netty HTTP/2 client ([[GrpcHttp2Client]]) — the same
  * netty-codec-http2 engine grpc-java's stock transport runs on, so a
  * green round-trip here is interop with the stock client's own
  * frame/HPACK implementation (full connection preface, SETTINGS,
  * HPACK-compressed headers, flow control), not a loopback through the
  * server's code. */
class GrpcHttp2Spec extends SparkSpec {

  private def withServer(dim: Int)(f: (GrpcHttp2Server, GrpcHttp2Client) => Unit): Unit = {
    val db = new NeighborlySpark(spark, dim)
    val srv = new GrpcHttp2Server(db)
    val port = srv.start()
    val client = new GrpcHttp2Client("127.0.0.1", port)
    try f(srv, client) finally { client.close(); srv.stop(); db.close() }
  }

  test("all six rpcs round-trip over real HTTP/2 (preface, HPACK, trailers)") {
    withServer(3) { (srv, c) =>
      val idA = "0f8fad5b-d9cb-469f-a165-70867728950e"
      val recA = VectorRecord(idA, Array(1f, 2f, 3f), Array(2.toShort, 7.toShort), "hello")

      val (_, addT, _) = c.call("AddVector",
        VectorProto.encodeAddVectorRequest(VectorBinary.toBinary(recA)))
      assert(addT("grpc-status") === "0")

      val (gm, gt, _) = c.call("GetVectorById",
        VectorProto.encodeGetVectorByIdRequest(idA))
      assert(gt("grpc-status") === "0")
      val got = VectorBinary.fromBinary(VectorProto.decodeGetVectorResponse(gm).get)
      assert(got.id === idA && got.values.toSeq === Seq(1f, 2f, 3f))
      assert(got.tags.toSeq === Seq(2.toShort, 7.toShort) && got.original_text === "hello")

      // absent id: OK status, EMPTY GetVectorResponse (VectorService.cs:40-56)
      val (am, at, _) = c.call("GetVectorById",
        VectorProto.encodeGetVectorByIdRequest("00000000-0000-0000-0000-00000000aaaa"))
      assert(at("grpc-status") === "0" && VectorProto.decodeGetVectorResponse(am).isEmpty)

      // malformed id: Guid.Parse throws -> status 2 via the trailers-only form
      val (mm, mt, mdf) = c.call("GetVectorById",
        VectorProto.encodeGetVectorByIdRequest("not-a-guid"))
      assert(mm.isEmpty && mt("grpc-status") === "2" && mdf === 0)

      val (um, ut, _) = c.call("UpdateVector",
        VectorProto.encodeUpdateVectorRequest(idA,
          VectorBinary.toBinary(VectorRecord(idA, Array(9f, 9f, 9f), original_text = "v2"))))
      assert(ut("grpc-status") === "0" && VectorProto.decodeResponse(um)._1)

      val (sm, st, _) = c.call("SearchNearest",
        VectorProto.encodeSearchNearestRequest(
          VectorBinary.toBinary(VectorRecord(idA, Array(9f, 9f, 9f))), 1))
      assert(st("grpc-status") === "0")
      val hits = VectorProto.decodeVectorList(sm).map(VectorBinary.fromBinary)
      assert(hits.map(_.id) === Seq(idA))
      // update drops tags (VectorList.cs:184-187 parity), carried natively
      assert(hits.head.tags.isEmpty && hits.head.original_text === "v2")

      // k omitted decodes as k = 0: UNKNOWN with the facade's k-check
      // message through the trailers-only form, cold and warm alike
      def searchNoK() = c.call("SearchNearest", VectorProto.encodeSearchNearestRequest(
        VectorBinary.toBinary(VectorRecord(idA, Array(9f, 9f, 9f))), 0))
      for (warm <- Seq(false, true)) {
        if (warm) { // a few more rows, then every index is built
          (1 to 3).foreach(i => srv.db.addVector(VectorRecord(
            f"00000000-0000-0000-0000-$i%012d", Array(i.toFloat, 0f, 0f))))
          assert(srv.db.buildAllIndexes())
        }
        val (km, kt, kdf) = searchNoK()
        assert(km.isEmpty && kdf === 0 && kt("grpc-status") === "2", s"warm=$warm: $kt")
        assert(kt("grpc-message") === "requirement failed: Number of neighbors must be greater than 0")
        // a 2-d query or update against the 3-d table: the same status
        val short = VectorBinary.toBinary(VectorRecord(idA, Array(9f, 9f)))
        for ((method, body) <- Seq(
            "SearchNearest" -> VectorProto.encodeSearchNearestRequest(short, 1),
            "UpdateVector" -> VectorProto.encodeUpdateVectorRequest(idA, short))) {
          val (dm, dt, ddf) = c.call(method, body)
          assert(dm.isEmpty && ddf === 0 && dt("grpc-status") === "2", s"warm=$warm $method: $dt")
          assert(dt("grpc-message").startsWith(
            "requirement failed: dimension 2 != table dimension 3 "), s"warm=$warm: $dt")
        }
        assert(srv.db.getVector(idA).get.values.toSeq === Seq(9f, 9f, 9f))
      }

      // an AddVector payload declaring 2^31-1 values is a status, not an
      // OutOfMemoryError, and the server answers the next request
      val (fm, ft, _) = c.call("AddVector", VectorProto.encodeAddVectorRequest(
        GrpcWebSpec.forgedVector(Int.MaxValue, 0)))
      assert(fm.isEmpty && ft("grpc-status") === "2", s"got $ft")
      assert(c.call("GetVectorById", VectorProto.encodeGetVectorByIdRequest(idA))._2(
        "grpc-status") === "0")

      val (_, ct, _) = c.call("ClearVectors", Array.emptyByteArray)
      assert(ct("grpc-status") === "0")
      val (lm, lt, _) = c.call("GetVectors", Array.emptyByteArray)
      assert(lt("grpc-status") === "0" && VectorProto.decodeVectorList(lm).isEmpty)

      // unknown method: UNIMPLEMENTED through the trailers-only form
      val (_, xt, _) = c.call("Nope", Array.emptyByteArray)
      assert(xt("grpc-status") === "12")
    }
  }

  test("GetVectors streams per-record DATA frames under one exact length prefix") {
    withServer(8) { (srv, c) =>
      import org.apache.spark.sql.functions._
      val n = 600
      srv.db.addVectors(spark.range(n).select(
        format_string("00000000-0000-0000-0000-%012x", col("id")).as("id"),
        array((0 until 8).map(i => (col("id") + i).cast("float")): _*).as("values"),
        array().cast("array<smallint>").as("tags"),
        concat(lit("doc "), col("id")).as("original_text"),
        lit(0).cast("tinyint").as("priority"),
        lit(0L).as("user_id"), lit(0L).as("org_id")).repartition(4))

      val before = srv.streamedFrames.get()
      val (lm, lt, _) = c.call("GetVectors", Array.emptyByteArray)
      assert(lt("grpc-status") === "0")
      // the length prefix agreed with the streamed bytes (validated inside
      // call()) and the ONE message decodes as the complete stock-client
      // unary response
      val ids = VectorProto.decodeVectorList(lm).map(VectorBinary.fromBinary(_).id).toSet
      assert(ids.size === n)
      // while the server wrote one DATA frame per record — bounded driver
      // buffers, not one table-sized allocation
      assert(srv.streamedFrames.get() - before === n.toLong)
    }
  }

  test("GetVectors back-pressure: flush per window keeps outbound buffering bounded") {
    withServer(8) { (srv, c) =>
      import org.apache.spark.sql.functions._
      // ~2 MiB of response (2000 records × ~1 KiB text) — dozens of
      // 64 KiB flush windows, so a buffer-then-flush-once server is
      // unambiguously distinguishable from a flow-controlled one
      val n = 2000
      srv.db.addVectors(spark.range(n).select(
        format_string("00000000-0000-0000-0000-%012x", col("id")).as("id"),
        array((0 until 8).map(i => (col("id") + i).cast("float")): _*).as("values"),
        array().cast("array<smallint>").as("tags"),
        rpad(concat(lit("doc "), col("id")), 1000, "x").as("original_text"),
        lit(0).cast("tinyint").as("priority"),
        lit(0L).as("user_id"), lit(0L).as("org_id")).repartition(4))

      val framesBefore = srv.streamedFrames.get()
      val flushesBefore = srv.streamFlushes.get()
      val (lm, lt, _) = c.call("GetVectors", Array.emptyByteArray)
      assert(lt("grpc-status") === "0")
      assert(VectorProto.decodeVectorList(lm).size === n)
      assert(srv.streamedFrames.get() - framesBefore === n.toLong)
      // flow-controlled streaming: many flushes (≈ totalBytes / 64 KiB),
      // not one table-sized flush at the end
      val flushes = srv.streamFlushes.get() - flushesBefore
      assert(flushes >= 10, s"expected ≥10 flush windows for ~2 MiB, got $flushes")
      // and the outbound buffer never accumulated more than one flush
      // window + one record's encoding between flushes
      val hw = srv.maxUnflushedBytes.get()
      assert(hw <= GrpcHttp2Server.FlushBytes + 2048,
        s"unflushed high-water $hw exceeds flush window ${GrpcHttp2Server.FlushBytes} + one record")
    }
  }

  test("TLS transport: rpcs round-trip over real TLS + ALPN h2 (keytool-generated cert)") {
    // self-signed server keystore from the JDK's own keytool — no
    // external dependency; the client trusts it explicitly (the shape a
    // stock client's `new FileInputStream(caCert)` channel builder takes)
    val dir = java.nio.file.Files.createTempDirectory("graft_tls").toFile
    dir.deleteOnExit()
    val ks = new java.io.File(dir, "server.p12")
    val proc = new ProcessBuilder("keytool", "-genkeypair", "-alias", "graft",
      "-keyalg", "RSA", "-keysize", "2048", "-validity", "2",
      "-dname", "CN=127.0.0.1", "-ext", "SAN=IP:127.0.0.1",
      "-storetype", "PKCS12", "-keystore", ks.getAbsolutePath,
      "-storepass", "changeit").redirectErrorStream(true).start()
    assert(proc.waitFor() === 0, "keytool must generate the keystore")

    val store = java.security.KeyStore.getInstance("PKCS12")
    val in = new java.io.FileInputStream(ks)
    try store.load(in, "changeit".toCharArray) finally in.close()
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(store, "changeit".toCharArray)
    val serverCtx = javax.net.ssl.SSLContext.getInstance("TLS")
    serverCtx.init(kmf.getKeyManagers, null, null)
    val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
      javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(store) // trust exactly the generated cert, not trust-all
    val clientCtx = javax.net.ssl.SSLContext.getInstance("TLS")
    clientCtx.init(null, tmf.getTrustManagers, null)

    val db = new NeighborlySpark(spark, 3)
    val srv = new GrpcHttp2Server(db, tls = Some(serverCtx))
    val port = srv.start()
    val client = new GrpcHttp2Client("127.0.0.1", port, tls = Some(clientCtx))
    try {
      val id = "0f8fad5b-d9cb-469f-a165-70867728950e"
      val (_, addT, _) = client.call("AddVector",
        VectorProto.encodeAddVectorRequest(VectorBinary.toBinary(
          VectorRecord(id, Array(1f, 2f, 3f)))))
      assert(addT("grpc-status") === "0")
      val (gm, gt, _) = client.call("GetVectorById",
        VectorProto.encodeGetVectorByIdRequest(id))
      assert(gt("grpc-status") === "0")
      assert(VectorBinary.fromBinary(
        VectorProto.decodeGetVectorResponse(gm).get).values.toSeq === Seq(1f, 2f, 3f))
      // a cleartext client CANNOT talk to the TLS endpoint — the h2c
      // preface is not a TLS ClientHello, so the handshake never
      // completes and no rpc succeeds
      val plain = new GrpcHttp2Client("127.0.0.1", port)
      try intercept[Exception](plain.call("GetVectors", Array.emptyByteArray,
        timeoutSec = 3))
      finally plain.close()
    } finally { client.close(); srv.stop(); db.close() }
  }

  test("GetVectors pass-2 byte-count guard: divergent second pass aborts with INTERNAL") {
    val db = new NeighborlySpark(spark, 3)
    // test seam: pass 1 sizes the full table, pass 2 streams one row
    // short — the declared length can no longer be honored
    val srv = new GrpcHttp2Server(db) {
      private val pass = new java.util.concurrent.atomic.AtomicInteger
      override protected[api] def vectorsPass(): org.apache.spark.sql.DataFrame =
        if (pass.getAndIncrement() == 0) db.vectors else db.vectors.limit(9)
    }
    val port = srv.start()
    val client = new GrpcHttp2Client("127.0.0.1", port)
    try {
      for (i <- 0 until 10)
        db.addVector(graft.core.VectorRecord(
          f"00000000-0000-0000-0000-${i}%012x", Array(i.toFloat, 0f, 0f)))
      val (body, trailers, _) = client.callRaw("GetVectors", Array.emptyByteArray)
      // loud abort: INTERNAL in the trailers, never a clean status 0 over
      // a silently truncated message
      assert(trailers("grpc-status") === "13", s"got $trailers")
      val declared = java.nio.ByteBuffer.wrap(body, 1, 4).getInt
      assert(body.length - 5 < declared,
        "stream must be visibly short of the declared length, not padded")
    } finally { client.close(); srv.stop(); db.close() }
  }
}
