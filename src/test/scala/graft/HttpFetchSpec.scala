package graft

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import com.sun.net.httpserver.HttpServer
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.HttpFetch

/** S1 HTTP source against a loopback server (the JDK's built-in
  * HttpServer) — no network egress; exercises the real client path:
  * 2xx download-to-file, redirect following, non-2xx cleanup. */
class HttpFetchSpec extends AnyFunSuite {

  private def gzBytes(s: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(s.getBytes("UTF-8"))
    gz.close()
    bos.toByteArray
  }

  private def withServer(f: (HttpServer, Int) => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    try {
      server.start()
      f(server, server.getAddress.getPort)
    } finally server.stop(0)
  }

  test("fetch lands a gz archive under its URL basename") {
    withServer { (server, port) =>
      val payload = gzBytes("col1\tcol2\nv1\tv2\n")
      server.createContext("/archives/svc.tsv.gz", exchange => {
        exchange.getResponseHeaders.add("Content-Type", "application/gzip")
        exchange.sendResponseHeaders(200, payload.length)
        exchange.getResponseBody.write(payload)
        exchange.close()
      })
      val dir = SparkTestSession.tempDir("http_land").toString
      val p = HttpFetch.fetch(s"http://127.0.0.1:$port/archives/svc.tsv.gz", dir)
      assert(p.getFileName.toString == "svc.tsv.gz")
      assert(java.util.Arrays.equals(Files.readAllBytes(p), payload))
    }
  }

  test("fetch follows redirects and honors an explicit file name") {
    withServer { (server, port) =>
      val body = "plain payload".getBytes("UTF-8")
      server.createContext("/moved", exchange => {
        exchange.getResponseHeaders.add("Location", s"http://127.0.0.1:$port/real")
        exchange.sendResponseHeaders(302, -1)
        exchange.close()
      })
      server.createContext("/real", exchange => {
        exchange.sendResponseHeaders(200, body.length)
        exchange.getResponseBody.write(body)
        exchange.close()
      })
      val dir = SparkTestSession.tempDir("http_land").toString
      val p = HttpFetch.fetch(s"http://127.0.0.1:$port/moved", dir, Some("renamed.bin"))
      assert(p.getFileName.toString == "renamed.bin")
      assert(new String(Files.readAllBytes(p), "UTF-8") == "plain payload")
    }
  }

  test("non-2xx fails and leaves no partial file behind") {
    withServer { (server, port) =>
      server.createContext("/missing.gz", exchange => {
        exchange.sendResponseHeaders(404, -1)
        exchange.close()
      })
      val dir = SparkTestSession.tempDir("http_land")
      val e = intercept[RuntimeException](
        HttpFetch.fetch(s"http://127.0.0.1:$port/missing.gz", dir.toString))
      assert(e.getMessage.contains("404"))
      assert(!Files.exists(dir.resolve("missing.gz")))
    }
  }

  test("5xx retries with backoff and succeeds once the server heals") {
    withServer { (server, port) =>
      val body = "healed".getBytes("UTF-8")
      val calls = new java.util.concurrent.atomic.AtomicInteger(0)
      server.createContext("/flaky", exchange => {
        if (calls.incrementAndGet() <= 2) {
          exchange.sendResponseHeaders(503, -1)
          exchange.close()
        } else {
          exchange.sendResponseHeaders(200, body.length)
          exchange.getResponseBody.write(body)
          exchange.close()
        }
      })
      val dir = SparkTestSession.tempDir("http_land").toString
      val p = HttpFetch.fetch(s"http://127.0.0.1:$port/flaky", dir,
        retries = 2, backoffMs = 10L)
      assert(calls.get() == 3)
      assert(new String(Files.readAllBytes(p), "UTF-8") == "healed")
    }
  }

  test("4xx fails fast — no retry against an error that never heals") {
    withServer { (server, port) =>
      val calls = new java.util.concurrent.atomic.AtomicInteger(0)
      server.createContext("/gone", exchange => {
        calls.incrementAndGet()
        exchange.sendResponseHeaders(404, -1)
        exchange.close()
      })
      val dir = SparkTestSession.tempDir("http_land").toString
      intercept[RuntimeException](
        HttpFetch.fetch(s"http://127.0.0.1:$port/gone", dir,
          retries = 3, backoffMs = 10L))
      assert(calls.get() == 1)
    }
  }

  test("retries exhausted surfaces the last failure, leaves no partial file") {
    withServer { (server, port) =>
      server.createContext("/down.gz", exchange => {
        exchange.sendResponseHeaders(500, -1)
        exchange.close()
      })
      val dir = SparkTestSession.tempDir("http_land")
      val e = intercept[RuntimeException](
        HttpFetch.fetch(s"http://127.0.0.1:$port/down.gz", dir.toString,
          retries = 1, backoffMs = 10L))
      assert(e.getMessage.contains("500"))
      assert(!Files.exists(dir.resolve("down.gz")))
    }
  }
}
