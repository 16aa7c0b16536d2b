package graft.server

import java.io.OutputStream
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

/** Minimal loopback static-content HTTP server: path → body. Backs the
  * HTTP-connector fixtures and specs (the data side of the reference's
  * plugin/trino-example-http test setup). Daemon threads throughout — an
  * un-stopped instance never pins a finished JVM. */
object StaticContentServer {

  final class Handle private[StaticContentServer] (val server: HttpServer) {
    def port: Int = server.getAddress.getPort
    def uri: String = s"http://127.0.0.1:$port"
    def stop(): Unit = server.stop(0)
  }

  def start(content: Map[String, String], port: Int = 0): Handle = {
    val server = LoopbackHttp.create(port)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = content.get(ex.getRequestURI.getPath)
        val (code, bytes) = body match {
          case Some(b) => (200, b.getBytes(StandardCharsets.UTF_8))
          case None => (404, s"no content at ${ex.getRequestURI.getPath}"
            .getBytes(StandardCharsets.UTF_8))
        }
        ex.sendResponseHeaders(code, bytes.length.toLong)
        val os: OutputStream = ex.getResponseBody
        try os.write(bytes) finally os.close()
      }
    })
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(2, r => {
      val t = new Thread(r, "graft-static-http"); t.setDaemon(true); t
    }))
    val starter = new Thread(() => server.start(), "graft-static-start")
    starter.setDaemon(true)
    starter.start()
    starter.join()
    new Handle(server)
  }
}
