package graft.api

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.core.VectorRecord

/** Searches served while writes land. Three client threads search over
  * REST, gRPC-Web and native gRPC while a writer thread adds, updates
  * and deletes rows and now and then rebuilds the warm indexes, so
  * replies come from the cold scan, from warm indexes and from
  * structures that a write retires mid-request. Every reply must be
  * the exact answer over SOME table version that was live during its
  * request: no error status, no stale version, no missing record and
  * no record torn between two versions. */
class SearchUnderWritesSpec extends SparkSpec {

  private val K = 5
  private val Threshold = 0.5 // the served default
  private def guid(i: Int) = f"00000000-0000-4000-8000-$i%012d"
  private def centre(c: Int) = Array(c * 10f, 0f)
  private def member(c: Int, j: Int) = Array(c * 10f + 0.05f * j, 0.03f * (j % 3))
  private val Clusters = 6
  private val queries = (0 until Clusters).map(c => Array(c * 10f + 0.01f, 0f))

  /** The engine's distance: a sequential double fold, rounded to 6
    * decimals half-up. */
  private def dist(a: Array[Float], b: Array[Float]): Double = {
    val s = a.indices.map { i => val d = a(i).toDouble - b(i).toDouble; d * d }.sum
    java.math.BigDecimal.valueOf(math.sqrt(s)).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** (id, values, dist) of the exact served answer over one version. */
  private def exact(table: Map[String, Array[Float]], q: Array[Float]): Seq[(String, Seq[Float], Double)] =
    table.toSeq.map { case (id, v) => (id, v.toSeq, dist(v, q)) }
      .sortBy(h => (h._3, h._1)).take(K).filter(_._3 <= Threshold)

  /** One reply: its transport, query, client-side start and end, and
    * its hits (REST carries the distance, the gRPC forms do not). */
  private case class Reply(transport: String, qi: Int, start: Long, end: Long,
      status: String, hits: Seq[(String, Seq[Float], Option[Double])])

  test("searches over REST, gRPC-Web and native gRPC answer some live version while writes land") {
    val db = new NeighborlySpark(spark, 2)
    val rest = new VectorHttpServer(db)
    val h2 = new GrpcHttp2Server(db)
    val base = s"http://127.0.0.1:${rest.start()}"
    val h2Client = new GrpcHttp2Client("127.0.0.1", h2.start())
    val http = java.net.http.HttpClient.newHttpClient()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    try {
      var next = 0
      val live = mutable.LinkedHashMap.empty[String, Array[Float]]
      for (c <- 0 until Clusters; j <- 0 until 8) { live(guid(next)) = member(c, j); next += 1 }
      db.addVectorRecords(live.toSeq.map { case (id, v) => VectorRecord(id, v) })
      assert(db.buildAllIndexes())
      // (visible from, visible by, table): a write's swap lands between
      // the writer's clock readings around the call
      val versions = mutable.ArrayBuffer((Long.MinValue, Long.MinValue, live.toMap))

      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      val replies = new java.util.concurrent.ConcurrentLinkedQueue[Reply]()
      def wireQuery(qi: Int) = VectorProto.encodeSearchNearestRequest(
        VectorBinary.toBinary(VectorRecord(guid(999999), queries(qi))), K)
      def decoded(list: Array[Byte]) = VectorProto.decodeVectorList(list).map(VectorBinary.fromBinary)
        .map(r => (r.id, r.values.toSeq, Option.empty[Double]))
      val call: Map[String, Int => (String, Seq[(String, Seq[Float], Option[Double])])] = Map(
        "rest" -> { qi =>
          val q = queries(qi)
          val resp = http.send(java.net.http.HttpRequest.newBuilder(
              java.net.URI.create(s"$base/vectors/searchNearest?k=$K"))
            .POST(java.net.http.HttpRequest.BodyPublishers.ofString(s"""{"values":[${q(0)},${q(1)}]}"""))
            .build(), java.net.http.HttpResponse.BodyHandlers.ofString())
          if (resp.statusCode() != 200) (s"http ${resp.statusCode()}: ${resp.body()}", Seq.empty)
          else ("ok", mapper.readTree(resp.body()).elements().asScala.map { n =>
            (n.get("id").asText(), n.get("values").elements().asScala.map(_.floatValue()).toSeq,
              Some(n.get("dist").asDouble()))
          }.toSeq)
        },
        "grpcweb" -> { qi =>
          val resp = http.send(java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"$base/Vector/SearchNearest"))
            .header("Content-Type", "application/grpc-web+proto")
            .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(GrpcWeb.messageFrame(wireQuery(qi))))
            .build(), java.net.http.HttpResponse.BodyHandlers.ofByteArray())
          val (msgs, trailers) = GrpcWeb.readFrames(resp.body())
          if (trailers.get("grpc-status").contains("0")) ("ok", decoded(msgs.head))
          else (s"grpc-web $trailers", Seq.empty)
        },
        "h2" -> { qi =>
          val (msg, trailers, _) = h2Client.call("SearchNearest", wireQuery(qi))
          if (trailers.get("grpc-status").contains("0")) ("ok", decoded(msg))
          else (s"h2 $trailers", Seq.empty)
        })
      val clients = call.toSeq.zipWithIndex.map { case ((name, search), n) =>
        val t = new Thread(() => {
          val rnd = new java.util.Random(17L + n)
          while (!done.get()) {
            val qi = rnd.nextInt(queries.length)
            val t0 = System.nanoTime()
            val (status, hits) =
              try search(qi) catch { case e: Exception => (s"threw $e", Seq.empty) }
            replies.add(Reply(name, qi, t0, System.nanoTime(), status, hits))
          }
        }, s"search-$name")
        t.start(); t
      }

      val writer = new Thread(() => {
        val rnd = new java.util.Random(5L)
        for (w <- 1 to 18) {
          Thread.sleep(50 + rnd.nextInt(150))
          val c = rnd.nextInt(Clusters)
          val inCluster = live.keys.filter(id => math.round(live(id)(0) / 10f) == c).toSeq.sorted
          val t0 = System.nanoTime()
          w % 3 match {
            case 0 => // a new nearest neighbour of the cluster's query
              val v = Array(c * 10f + 0.01f + 0.001f * w, 0.002f)
              db.addVector(VectorRecord(guid(next), v)); live(guid(next)) = v; next += 1
            case 1 => // move a member next to the query, or across clusters
              val id = inCluster(rnd.nextInt(inCluster.size))
              val v = if (rnd.nextBoolean()) Array(c * 10f + 0.02f, 0.001f * w) else centre((c + 1) % Clusters)
              assert(db.updateVector(id, v)); live(id) = v
            case _ => // delete the current nearest member
              val id = live.toSeq.minBy { case (id, v) => (dist(v, queries(c)), id) }._1
              assert(db.removeVector(id)); live.remove(id)
          }
          versions += ((t0, System.nanoTime(), live.toMap))
          if (w % 6 == 0) assert(db.buildAllIndexes()) // content unchanged: no new version
        }
      }, "writer")
      writer.start()
      writer.join()
      Thread.sleep(300)
      done.set(true)
      clients.foreach(_.join())

      val all = replies.asScala.toSeq
      // version v may answer a request [s, e] when it became visible by e
      // and its successor did not replace it before s
      def candidates(r: Reply) = versions.indices.filter(v =>
        versions(v)._1 <= r.end && (v == versions.size - 1 || versions(v + 1)._2 >= r.start))
      def matches(r: Reply, v: Int) = {
        val want = exact(versions(v)._3, queries(r.qi))
        r.hits.map(_._1) == want.map(_._1) && r.hits.zip(want).forall { case (got, exp) =>
          got._2 == exp._2 && got._3.forall(_ == exp._3)
        }
      }
      val bad = all.filterNot(r => r.status == "ok" && candidates(r).exists(matches(r, _)))
      assert(bad.isEmpty, s"${bad.size} of ${all.size} replies answer no live version, e.g. " +
        bad.take(3).map(r => s"${r.transport} q${r.qi} ${r.status} ${r.hits.map(h => (h._1.takeRight(4), h._3))}" +
          s" candidates ${candidates(r)}").mkString("; "))
      call.keys.foreach(t => assert(all.count(_.transport == t) >= 5, s"too few $t replies"))
      assert(versions.size === 19)
    } finally { h2Client.close(); h2.stop(); rest.stop(); db.close() }
  }
}
