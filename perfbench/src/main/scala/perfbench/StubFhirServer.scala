package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** In-process FHIR server stand-in for the HTTP load workload.
  *
  *  - `PUT /{type}/{id}` answers 200 when the server holds `id` and 404
  *    otherwise; `POST /{type}` answers 201. Either answers 400 when the
  *    body's `resourceType` is not `{type}`.
  *  - `POST /$resolve/{class}` is the bulk id lookup behind the id cache's
  *    fetch callback: the body is one natural key per line, the answer one
  *    `key<TAB>id` line per key the server holds. The server holds a fixed,
  *    seed-chosen half of every class's keys.
  *
  * It counts upserts per method and outcome, and keeps an order-independent
  * digest (wrapping sum of xxhash64 over `type NUL body`, the same hash
  * Spark's `xxhash64` computes) of every acknowledged body, so a run can
  * check that each resource arrived exactly once and unchanged.
  *
  * Handler threads are daemons, at most `threads` of them, so a stub left
  * running can never keep the JVM alive.
  */
final class StubFhirServer(threads: Int, seed: Long) {

  // Send small responses without waiting for the client's delayed ACK;
  // without this the stub, not the client under test, sets the pace.
  System.setProperty("sun.net.httpserver.nodelay", "true")

  private val requests = new AtomicLong
  private val puts = new AtomicLong
  private val posts = new AtomicLong
  private val non2xx = new AtomicLong
  private val bodyBytes = new AtomicLong
  private val busyNanos = new AtomicLong
  private val digest = new AtomicLong
  private val inflight = new AtomicInteger
  private val maxInflight = new AtomicInteger
  private val acked = new AtomicLong
  private val heldIds = ConcurrentHashMap.newKeySet[String]()
  private val json = new JsonFactory()

  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    private val n = new AtomicInteger
    override def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"stub-fhir-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 256)
  server.setExecutor(pool)
  server.createContext("/", (t: HttpExchange) => handle(t))
  server.start()

  val baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** The server id of a key it holds, or None. */
  def held(entityClass: String, key: String): Option[String] = {
    val h = StubFhirServer.hash(s"$seed\u0000$entityClass\u0000$key")
    if ((h & 1L) == 0L) Some(f"srv-$h%016x") else None
  }

  /** Counters since the last reset. */
  def counts(): StubFhirServer.Counts = StubFhirServer.Counts(requests.get, puts.get,
    posts.get, non2xx.get, acked.get, bodyBytes.get, busyNanos.get / 1e9, digest.get,
    maxInflight.get)

  def reset(): Unit = {
    Seq(requests, puts, posts, non2xx, acked, bodyBytes, busyNanos, digest).foreach(_.set(0))
    maxInflight.set(0)
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  private def handle(t: HttpExchange): Unit = {
    val start = System.nanoTime()
    maxInflight.accumulateAndGet(inflight.incrementAndGet(), math.max)
    try {
      val body = t.getRequestBody.readAllBytes()
      val parts = t.getRequestURI.getPath.split('/').filter(_.nonEmpty)
      (t.getRequestMethod, parts) match {
        case ("POST", Array("$resolve", entityClass)) =>
          val out = new StringBuilder
          new String(body, UTF_8).split('\n').filter(_.nonEmpty).foreach { key =>
            held(entityClass, key).foreach { id =>
              heldIds.add(id)
              out.append(key).append('\t').append(id).append('\n')
            }
          }
          reply(t, 200, out.toString)
        case (method @ ("PUT" | "POST"), path) if path.length == (if (method == "PUT") 2 else 1) =>
          val tpe = path(0)
          requests.incrementAndGet()
          bodyBytes.addAndGet(body.length)
          (if (method == "PUT") puts else posts).incrementAndGet()
          val status =
            if (!resourceTypeIs(body, tpe)) 400
            else if (method == "POST") 201
            else if (heldIds.contains(path(1))) 200
            else 404
          if (status < 300) {
            digest.addAndGet(StubFhirServer.hash(tpe.getBytes(UTF_8) ++ Array(0.toByte) ++ body))
            acked.incrementAndGet()
          } else non2xx.incrementAndGet()
          reply(t, status, "{}")
        case _ => reply(t, 405, "{}")
      }
    } finally {
      inflight.decrementAndGet()
      busyNanos.addAndGet(System.nanoTime() - start)
    }
  }

  private def reply(t: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    t.sendResponseHeaders(status, bytes.length.toLong)
    t.getResponseBody.write(bytes)
    t.close()
  }

  /** Whether the body is a JSON object whose top-level `resourceType` is `tpe`. */
  private def resourceTypeIs(body: Array[Byte], tpe: String): Boolean = {
    val p = json.createParser(body)
    try {
      if (p.nextToken() != JsonToken.START_OBJECT) return false
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val name = p.currentName()
        p.nextToken()
        if (name == "resourceType") return p.getValueAsString == tpe
        p.skipChildren()
      }
      false
    } catch { case _: java.io.IOException => false }
    finally p.close()
  }
}

object StubFhirServer {
  /** Upsert counters; `acked` counts 2xx answers. */
  final case class Counts(requests: Long, puts: Long, posts: Long, non2xx: Long,
      acked: Long, bodyBytes: Long, busyS: Double, digest: Long, maxInflight: Int)

  /** Spark's `xxhash64` of one string or binary value. */
  def hash(bytes: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L)

  def hash(s: String): Long = hash(s.getBytes(UTF_8))
}
