package graft.store

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.core.Json.esc

/** The loopback JSON-over-HTTP plumbing under every serving endpoint
  * ([[ServingEndpoint]], [[SearchHttpEndpoint]]). JDK `HttpServer`
  * only, no added dependencies, on a fixed pool of `nThreads`. The
  * bind is loopback-only by design (a serving sidecar, not a public
  * listener); `port = 0` picks an ephemeral port, returned by
  * [[start]].
  *
  * Every route COMPUTES its response before sending anything: once
  * headers go out, a failed write (client disconnect — routine on a
  * serving tier) must not trigger a second respond on the same
  * exchange, so it only closes it. A [[HttpScaffold.BadRequest]] (a
  * client-input defect: bad escape, malformed number) maps to 400,
  * never the 5xx class a serving tier alerts on; any other throwable
  * maps to 500.
  */
private[store] final class HttpScaffold(port: Int, nThreads: Int) {
  require(nThreads > 0, "nThreads must be positive")

  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
  server.setExecutor(pool)

  /** Serve `path` with `compute`'s (status, JSON body). `errFields`
    * prefixes the error body's own fields (`/healthz` reports its
    * `"status"` there).
    */
  def route(path: String, errFields: String = "")(
      compute: HttpExchange => (Int, String)): Unit = {
    def error(msg: String) = s"""{$errFields"error":"${esc(msg)}"}"""
    server.createContext(path, (ex: HttpExchange) => {
      val (code, body) =
        try compute(ex)
        catch {
          case bad: HttpScaffold.BadRequest => (400, error(bad.getMessage))
          case t: Throwable => (500, error(t.toString.take(160)))
        }
      try respond(ex, code, body)
      catch { case _: java.io.IOException => ex.close() } // client went away
    }): Unit
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    try ex.getResponseBody.write(bytes) finally ex.close()
  }

  /** Start serving; returns the bound port (useful with `port = 0`). */
  def start(): Int = { server.start(); server.getAddress.getPort }

  def stop(): Unit = { server.stop(0); pool.shutdownNow(): Unit }
}

private[store] object HttpScaffold {

  /** A client-input defect — answered 400 by [[HttpScaffold.route]]. */
  final class BadRequest(msg: String) extends RuntimeException(msg)

  /** Raw (still percent-encoded) value of `name`. Callers that split on
    * structural characters (`/records`' commas) must split BEFORE
    * decoding, or an encoded comma inside one identifier would be torn
    * into several.
    */
  def rawParam(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery).flatMap {
      _.split("&").iterator.map(_.split("=", 2)).collectFirst {
        case Array(k, v) if k == name => v
      }
    }

  /** Percent-decode a raw value. `plusIsSpace` selects form decoding
    * (free text, where `+` is a space); without it a literal `+` is
    * content (a string key). A malformed escape is the client's
    * defect: BadRequest naming `what`.
    */
  def decode(v: String, plusIsSpace: Boolean, what: String): String =
    try java.net.URLDecoder.decode(
      if (plusIsSpace) v else v.replace("+", "%2B"), "UTF-8")
    catch {
      case _: IllegalArgumentException =>
        throw new BadRequest(s"malformed percent-encoding in $what")
    }

  /** A double as a fixed six-decimal JSON number. `Locale.ROOT`: the
    * default locale would print "0,333333" on comma-decimal locales —
    * invalid JSON.
    */
  def num(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))
}
