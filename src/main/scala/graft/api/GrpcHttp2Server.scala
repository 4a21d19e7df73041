package graft.api

import io.netty.bootstrap.ServerBootstrap
import io.netty.buffer.{ByteBuf, Unpooled}
import io.netty.channel.{ChannelHandlerContext, ChannelInitializer, SimpleChannelInboundHandler}
import io.netty.channel.nio.NioEventLoopGroup
import io.netty.channel.socket.nio.NioServerSocketChannel
import io.netty.handler.codec.http2.{DefaultHttp2DataFrame, DefaultHttp2Headers, DefaultHttp2HeadersFrame, Http2DataFrame, Http2FrameCodecBuilder, Http2HeadersFrame, Http2MultiplexHandler, Http2StreamChannel, Http2StreamFrame}

/** NATIVE gRPC over HTTP/2 (h2c, prior knowledge) — the reference's
  * actual transport (API.gRPC serves standard gRPC from Kestrel,
  * Program.cs:10-23), closing the one wire-level delta the gRPC-Web
  * endpoint left: a stock gRPC client's netty transport can open a
  * cleartext HTTP/2 connection here and exchange the reference's
  * protobuf messages.
  *
  * Built on Netty's HTTP/2 frame codec from the Spark distribution's own
  * classpath (netty-codec-http2 — the SAME codec grpc-java's transport
  * runs on, so interop with it is interop with the stock client's
  * engine). No protobuf/grpc library is involved: messages are the
  * hand-rolled [[VectorProto]] proto3 codec and the reference's
  * `Vector.ToBinary()` payload layout ([[VectorBinary]]).
  *
  * Wire shape per the gRPC HTTP/2 spec:
  *  - request: `POST /Vector/<Method>`, `content-type: application/grpc`,
  *    body = length-prefixed message(s) (1 compression flag byte +
  *    4-byte big-endian length + payload — the same 5-byte prefix
  *    gRPC-Web uses for its message frames);
  *  - response: HEADERS (`:status 200`, `content-type: application/grpc`)
  *    → DATA (one length-prefixed message) → trailing HEADERS carrying
  *    `grpc-status`/`grpc-message` (END_STREAM);
  *  - rpc failures AFTER headers travel in the trailers, like native
  *    gRPC; failures before any payload use the trailers-only form
  *    (single HEADERS frame with both `:status` and `grpc-status`).
  *
  * `GetVectors` stays stock-client-compatible AND driver-bounded: a
  * unary response must be ONE length-prefixed message, so the server
  * makes two `toLocalIterator` passes — the first sums the encoded
  * per-record sizes (O(1) driver memory), then the 5-byte prefix with
  * the exact total goes out and the second pass streams each record's
  * bytes as its own DATA frame. A stock unary client sees one message;
  * the driver never holds more than one record's encoding.
  *
  * Back-pressure: rpc bodies run on a dedicated single-thread executor
  * (NOT the Netty event loop), the split Kestrel uses — request handlers
  * on the thread pool, the I/O loop free to transmit flushed frames and
  * deliver the peer's WINDOW_UPDATEs. The streaming pass flushes every
  * [[GrpcHttp2Server.FlushBytes]] and, whenever the stream channel goes
  * non-writable (HTTP/2 flow-control window or socket buffer full),
  * blocks on the flush future until the peer drains — so the Netty
  * outbound buffer holds at most one flush window, not O(table), and a
  * slow reader throttles the Spark-side iterator instead of ballooning
  * driver memory. Pass 2 counts every byte it writes and hard-fails the
  * rpc (grpc-status 13 INTERNAL) if the count diverges from the declared
  * total — a nondeterministic source or concurrent mutation between the
  * passes can no longer corrupt the stream under a clean status-0
  * trailer.
  *
  * Transport security: cleartext h2c (prior knowledge) by DEFAULT — a
  * stock gRPC client must opt out of TLS (grpc-java
  * `usePlaintext()`, grpc-dotnet `http://` address) to reach it, a
  * DECLARED deviation from the reference's Kestrel endpoint which is
  * TLS-capable out of the box. Pass `tls = Some(sslContext)` to serve
  * gRPC over TLS instead: each accepted connection gets a server-mode
  * `SSLEngine` advertising `h2` via ALPN ahead of the HTTP/2 codec (the
  * standard gRPC-over-TLS wire shape), with certificates supplied by the
  * caller's `SSLContext` — the library takes no opinion on key
  * management.
  */
class GrpcHttp2Server(val db: NeighborlySpark, port: Int = 0,
    tls: Option[javax.net.ssl.SSLContext] = None) {

  private val group = new NioEventLoopGroup(1)
  @volatile private var bound: io.netty.channel.Channel = _

  /** rpc bodies run here, one at a time (the facade is single-writer —
    * same serialization the event loop used to provide), keeping the
    * event loop free for I/O so awaiting a write future below can
    * actually complete. */
  private val rpcExec = java.util.concurrent.Executors.newSingleThreadExecutor(r => {
    val t = new Thread(r, "grpc-h2c-rpc"); t.setDaemon(true); t
  })

  /** Pass-scoped table snapshot for `GetVectors` — overridable test seam
    * so specs can inject a second pass that disagrees with the first and
    * assert the byte-count guard fires. */
  protected[api] def vectorsPass(): org.apache.spark.sql.DataFrame = db.vectors

  def start(): Int = {
    val b = new ServerBootstrap()
      .group(group)
      .channel(classOf[NioServerSocketChannel])
      .localAddress("127.0.0.1", port)
      .childHandler(new ChannelInitializer[io.netty.channel.socket.SocketChannel] {
        override def initChannel(ch: io.netty.channel.socket.SocketChannel): Unit = {
          tls.foreach { ctx =>
            val engine = ctx.createSSLEngine()
            engine.setUseClientMode(false)
            val params = engine.getSSLParameters
            params.setApplicationProtocols(Array("h2"))
            engine.setSSLParameters(params)
            ch.pipeline().addLast(new io.netty.handler.ssl.SslHandler(engine))
          }
          ch.pipeline().addLast(
            Http2FrameCodecBuilder.forServer().build(),
            new Http2MultiplexHandler(new ChannelInitializer[Http2StreamChannel] {
              override def initChannel(sc: Http2StreamChannel): Unit =
                sc.pipeline().addLast(new RpcStreamHandler)
            }))
        }
      })
    bound = b.bind().syncUninterruptibly().channel()
    bound.localAddress().asInstanceOf[java.net.InetSocketAddress].getPort
  }

  def stop(): Unit = {
    if (bound != null) bound.close().syncUninterruptibly()
    rpcExec.shutdown()
    rpcExec.awaitTermination(5, java.util.concurrent.TimeUnit.SECONDS)
    group.shutdownGracefully(0, 500, java.util.concurrent.TimeUnit.MILLISECONDS)
      .syncUninterruptibly()
  }

  /** Test-visible: DATA frames written by the streaming GetVectors path
    * (one per record; a buffered reply would count 1). */
  private[api] val streamedFrames = new java.util.concurrent.atomic.AtomicLong

  /** Test-visible: flushes issued by the streaming path (a
    * buffer-everything reply would count 1 regardless of table size). */
  private[api] val streamFlushes = new java.util.concurrent.atomic.AtomicLong

  /** Test-visible high-water mark of bytes accumulated between flushes —
    * the bound on Netty outbound-buffer growth the flush policy enforces
    * (≤ FlushBytes + one record's encoding). */
  private[api] val maxUnflushedBytes = new java.util.concurrent.atomic.AtomicLong

  /** One handler per HTTP/2 stream (Http2MultiplexHandler gives each rpc
    * its own child channel): accumulate DATA until END_STREAM, then hand
    * the rpc body to [[rpcExec]] (single-threaded, so rpcs serialize
    * exactly like the HTTP/1.1 server's serial executor) while the event
    * loop goes back to pure I/O. */
  private final class RpcStreamHandler extends SimpleChannelInboundHandler[Http2StreamFrame] {
    private var path: String = ""
    private val body = new java.io.ByteArrayOutputStream()

    override def channelRead0(ctx: ChannelHandlerContext, frame: Http2StreamFrame): Unit =
      frame match {
        case h: Http2HeadersFrame =>
          path = String.valueOf(h.headers().path())
          if (h.isEndStream) dispatch(ctx)
        case d: Http2DataFrame =>
          val buf = d.content()
          val arr = new Array[Byte](buf.readableBytes())
          buf.readBytes(arr)
          body.write(arr)
          if (d.isEndStream) dispatch(ctx)
        case _ => // SETTINGS/WINDOW_UPDATE etc. are the codec's business
      }

    private def dispatch(ctx: ChannelHandlerContext): Unit = {
      val p = path
      val req = body.toByteArray
      rpcExec.execute(() => respond(ctx, p, req))
    }

    private def grpcHeaders(): DefaultHttp2Headers = {
      val h = new DefaultHttp2Headers()
      h.status("200")
      h.set("content-type", "application/grpc")
      h
    }

    /** `grpc-status`/`grpc-message` added to `t`: on their own they are
      * the trailing HEADERS; on top of [[grpcHeaders]] they make the
      * trailers-only response form. */
    private def trailers(status: Int, message: String = "",
        t: DefaultHttp2Headers = new DefaultHttp2Headers()): DefaultHttp2Headers = {
      t.setInt("grpc-status", status)
      if (message.nonEmpty) t.set("grpc-message", GrpcWeb.encodeGrpcMessage(message))
      t
    }

    private def failure(e: Throwable, base: DefaultHttp2Headers): DefaultHttp2HeadersFrame = {
      val (code, msg) = GrpcWeb.statusOf(e)
      new DefaultHttp2HeadersFrame(trailers(code, msg, base), true)
    }

    private def lengthPrefix(len: Int): ByteBuf = {
      val b = Unpooled.buffer(5)
      b.writeByte(0).writeInt(len)
      b
    }

    private def respond(ctx: ChannelHandlerContext, path: String, rawBody: Array[Byte]): Unit = {
      val method = if (path.startsWith("/Vector/")) path.drop(8) else ""
      try {
        val req = GrpcWeb.firstMessage(rawBody)
        if (method == "GetVectors") { streamGetVectors(ctx, req); return }
        val reply = VectorHttpServer.dispatchRpc(db, method, req)
        ctx.write(new DefaultHttp2HeadersFrame(grpcHeaders()))
        ctx.write(new DefaultHttp2DataFrame(
          Unpooled.wrappedBuffer(lengthPrefix(reply.length),
            Unpooled.wrappedBuffer(reply))))
        ctx.writeAndFlush(new DefaultHttp2HeadersFrame(trailers(0), true))
      } catch {
        // nothing written yet → the gRPC trailers-only response form
        case scala.util.control.NonFatal(e) => ctx.writeAndFlush(failure(e, grpcHeaders()))
      }
    }

    /** Two-pass streaming (core shared with the HTTP/1.1 transports via
      * [[GetVectorsStream]]): sizes first, then one DATA frame per
      * record under the declared total, flushed every
      * [[GrpcHttp2Server.FlushBytes]] with a back-pressure gate — when
      * the stream channel reports non-writable (flow-control window or
      * socket buffer full) the rpc thread blocks on the flush future
      * until the peer drains, so outbound buffering stays bounded by one
      * flush window for any table size. The shared pass-2 byte-count
      * guard surfaces here as grpc-status 13 INTERNAL. Mid-stream
      * failures report through the trailing HEADERS — the same surface
      * a stock client already reads for status. */
    private def streamGetVectors(ctx: ChannelHandlerContext, req: Array[Byte]): Unit = {
      try {
        val declared = GetVectorsStream.declaredLength(() => vectorsPass())
        require(declared <= Int.MaxValue, s"GetVectors response exceeds 2 GiB ($declared B)")
        ctx.write(new DefaultHttp2HeadersFrame(grpcHeaders()))
        ctx.write(new DefaultHttp2DataFrame(lengthPrefix(declared.toInt)))
        var unflushed = 5L // the length prefix
        try GetVectorsStream.writeGuarded(() => vectorsPass(), declared) { item =>
          unflushed += item.length
          val frame = new DefaultHttp2DataFrame(Unpooled.wrappedBuffer(item))
          if (unflushed >= GrpcHttp2Server.FlushBytes) {
            maxUnflushedBytes.getAndAccumulate(unflushed, Math.max(_, _))
            unflushed = 0
            val f = ctx.writeAndFlush(frame)
            streamFlushes.incrementAndGet()
            // back-pressure: peer's flow-control window (or the socket)
            // is full — park the rpc thread until this flush lands
            // rather than letting frames pile into the outbound buffer
            if (!ctx.channel().isWritable && !f.awaitUninterruptibly(30000))
              throw GrpcWeb.StatusException(14,
                "GetVectors peer stalled: flow-control window closed > 30 s")
          } else ctx.write(frame)
          streamedFrames.incrementAndGet()
        } catch {
          case e: GetVectorsStream.LengthMismatch =>
            throw GrpcWeb.StatusException(13, e.getMessage)
        }
        maxUnflushedBytes.getAndAccumulate(unflushed, Math.max(_, _))
        ctx.writeAndFlush(new DefaultHttp2HeadersFrame(trailers(0), true))
        streamFlushes.incrementAndGet()
      } catch {
        case scala.util.control.NonFatal(e) =>
          ctx.writeAndFlush(failure(e, new DefaultHttp2Headers()))
      }
    }
  }
}

object GrpcHttp2Server {
  /** Streaming flush window: DATA frames accumulate in the outbound
    * buffer up to this many bytes before a flush (64 KiB — the HTTP/2
    * default initial flow-control window, so one window ≈ one flush). */
  val FlushBytes: Int = 64 * 1024
}
