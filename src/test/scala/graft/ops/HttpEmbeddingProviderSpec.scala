package graft.ops

import com.sun.net.httpserver.HttpExchange
import graft.SparkSpec

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** Drives HttpEmbeddingProvider against an in-process stub that speaks the
  * reference's Ollama wire contract (EmbeddingGenerator.cs:36-100). */
class HttpEmbeddingProviderSpec extends SparkSpec {
  import sqlImplicits._

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Stub endpoint: embedding = [len(prompt), len+1, len+2] — deterministic
    * and visibly "from the server" (hash fallback can't produce it). Made
    * by the code base's one JDK server factory: the JDK reads its
    * TCP_NODELAY switch when the JVM's first server is created, and
    * `VectorHttpServerSpec` pins the no-stall latency in any suite order. */
  private def withStub(f: String => Unit): Unit = {
    val server = graft.api.VectorHttpServer.httpServer(new InetSocketAddress("127.0.0.1", 0))
    server.createContext("/api/embeddings", (ex: HttpExchange) => {
      val req = mapper.readTree(ex.getRequestBody)
      val n = req.get("prompt").asText().length
      val resp = mapper.createObjectNode()
      val arr = resp.putArray("embedding")
      (0 until 3).foreach(i => arr.add((n + i).toFloat))
      val bytes = mapper.writeValueAsString(resp).getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, bytes.length.toLong)
      val os = ex.getResponseBody; try os.write(bytes) finally os.close()
      ex.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/api/embeddings")
    finally server.stop(0)
  }

  test("embed() round-trips the Ollama wire contract") {
    withStub { url =>
      val p = HttpEmbeddingProvider(url, "test-model", dimension = 3)
      assert(p.embed("hello").toSeq === Seq(5f, 6f, 7f))
    }
  }

  test("endpoint failure falls back to the deterministic hash embedding (EmbeddingGenerator.cs:84-99)") {
    val p = HttpEmbeddingProvider("http://127.0.0.1:1/nope", "m", dimension = 4, timeoutMs = 300)
    assert(p.embed("text").toSeq === HashEmbeddingProvider(4).embed("text").toSeq)
  }

  test("embedAll embeds a corpus partition-wise with no shuffle") {
    withStub { url =>
      val p = HttpEmbeddingProvider(url, "m", dimension = 3)
      val docs = Seq((1L, "ab"), (2L, "abcd"), (3L, "x")).toDF("doc_id", "text").repartition(2)
      val out = p.embedAll(docs, "text", "embedding")
      assert(!out.queryExecution.executedPlan.toString.contains("Exchange AllTuples") )
      val got = out.collect().map(r =>
        r.getAs[Long]("doc_id") -> r.getAs[scala.collection.Seq[Float]]("embedding").toSeq).toMap
      assert(got(1L) === Seq(2f, 3f, 4f))
      assert(got(2L) === Seq(4f, 5f, 6f))
      assert(got(3L) === Seq(1f, 2f, 3f))
    }
  }
}
