package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

/** The one way graft builds an in-process JDK `HttpServer` (the
  * statement face and the elastic wire stand-in), bound to loopback
  * and already started, and answers on it with [[respond]].
  *
  * Nagle off: the JDK server writes a response's headers and its body
  * as separate segments. With Nagle on, the body segment waits for
  * the client's ACK of the headers, and a kept-alive client delays
  * that ACK by ~40 ms on Linux — a fixed stall on every page. The JDK
  * turns on `TCP_NODELAY` for accepted sockets when
  * `sun.net.httpserver.nodelay` is true, but reads that property ONCE
  * per JVM, when its first server is created: an embedding application
  * that built its own JDK `HttpServer` earlier keeps Nagle on here.
  *
  * Daemon dispatcher: `start()` runs on a daemon thread because the
  * server's dispatcher inherits the starting thread's daemon flag, and
  * a non-daemon dispatcher keeps the JVM alive after main returns.
  * Handlers run on a cached pool of daemon threads named `name`. */
private[graft] object LoopbackHttp {

  def create(name: String, backlog: Int, port: Int = 0)(
      handler: HttpHandler): HttpServer = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", port), backlog)
    s.setExecutor(Executors.newCachedThreadPool(r => {
      val t = new Thread(r, name); t.setDaemon(true); t
    }))
    s.createContext("/", handler)
    val starter = new Thread(() => s.start(), s"$name-start")
    starter.setDaemon(true)
    starter.start()
    starter.join()
    s
  }

  /** Send `body` as a JSON response and close the exchange. An empty
    * body goes out with no content (the statement face's 204). */
  def respond(x: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    x.getResponseHeaders.set("Content-Type", "application/json")
    x.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    try if (bytes.nonEmpty) x.getResponseBody.write(bytes) finally x.close()
  }
}
