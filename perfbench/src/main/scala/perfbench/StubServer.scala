package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process stand-in for the product store that `HttpBlobFetcher` talks
  * to: `POST /token` hands out a bearer token, `GET
  * /collections/<c>/products/<id>` streams `<dir>/<id>.zip` with a
  * `Content-Disposition` filename. Counts what the transport asked for. */
final class StubServer(dir: Path) extends AutoCloseable {
  val requests = new AtomicLong()
  val tokens = new AtomicLong()
  val bytes = new AtomicLong()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 16)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
  server.setExecutor(pool)

  private def reply(x: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    x.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
    val out = x.getResponseBody
    try out.write(body) finally out.close()
  }

  server.createContext("/token", (x: HttpExchange) => {
    requests.incrementAndGet()
    val n = tokens.incrementAndGet()
    x.getResponseHeaders.add("Content-Type", "application/json")
    reply(x, 200, s"""{"access_token": "tok-$n", "token_type": "Bearer"}""".getBytes(UTF_8))
  })

  server.createContext("/collections/", (x: HttpExchange) => {
    requests.incrementAndGet()
    val id = x.getRequestURI.getPath.split('/').last
    val f = dir.resolve(s"$id.zip")
    val authed = Option(x.getRequestHeaders.getFirst("Authorization"))
      .exists(_.startsWith("Bearer tok-"))
    if (!authed) reply(x, 401, Array.emptyByteArray)
    else if (!Files.isRegularFile(f)) reply(x, 404, Array.emptyByteArray)
    else {
      val body = Files.readAllBytes(f)
      bytes.addAndGet(body.length.toLong)
      x.getResponseHeaders.add("Content-Disposition",
        s"""attachment; filename="$id.zip"""")
      reply(x, 200, body)
    }
  })
  server.start()

  def baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def counters(): Map[String, Long] = Map("fetch_requests" -> requests.get,
    "fetch_token_exchanges" -> tokens.get, "fetch_bytes" -> bytes.get)

  override def close(): Unit = { server.stop(0); pool.shutdownNow(): Unit }
}
