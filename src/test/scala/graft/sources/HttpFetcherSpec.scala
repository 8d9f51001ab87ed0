package graft.sources

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.model.Share
import graft.{PipelineFixtures, SparkSpec}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

object HttpFetcherFixtures extends Serializable {
  /** The production fetcher, pointed at a local server instead of the
    * MapShare host. */
  def via(base: String): InReachSource.Fetcher = (url, password) =>
    InReachSource.httpFetcher(url.replace("https://share.garmin.com", base), password)
}

/** The production fetcher against an in-process HTTP server on
  * localhost: a 200 body parses; a 401 or a 500 throws, so it fails
  * only its own share and its body (valid KML here) never reaches the
  * parser. */
class HttpFetcherSpec extends SparkSpec {

  // every response carries a parseable feed with one placemark
  private def feed(imei: String) =
    PipelineFixtures.doc(PipelineFixtures.placemark(imei, "2026-08-12T05:20:00Z"))

  private lazy val server: HttpServer = {
    val s = HttpServer.create(new InetSocketAddress("localhost", 0), 0)
    s.createContext("/Feed/Share/", (ex: HttpExchange) => {
      val shareId = ex.getRequestURI.getPath.stripPrefix("/Feed/Share/")
      val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
      val status = shareId match {
        case "open"   => 200
        case "locked" => if (auth.contains(InReachSource.basicAuth("hunter2"))) 200 else 401
        case _        => 500
      }
      val body = feed(shareId).getBytes(UTF_8)
      ex.sendResponseHeaders(status, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    s.start()
    s
  }

  private def base = s"http://localhost:${server.getAddress.getPort}"

  override def afterAll(): Unit = {
    server.stop(0)
    super.afterAll()
  }

  test("a 200 body parses; a 401 and a 500 throw") {
    val fetch = HttpFetcherFixtures.via(base)
    val url = (id: String) => InReachSource.feedUrl(id, PipelineFixtures.now)
    val rows = KmlParser.parse(fetch(url("open"), None), "open", "open")
    assert(rows.map(_.extended("IMEI")) == Seq("open"))
    assert(KmlParser.parse(fetch(url("locked"), Some("hunter2")), "l", "l").size == 1)
    assert(intercept[RuntimeException](fetch(url("locked"), Some("wrong")))
      .getMessage == "HTTP 401")
    assert(intercept[RuntimeException](fetch(url("down"), None)).getMessage == "HTTP 500")
  }

  test("InReachSource.read: the 401 and the 500 fail only their share") {
    val shares = Seq(Share("open"), Share("locked", Password = Some("wrong")),
      Share("down"), Share("locked", CallSign = Some("L"), Password = Some("hunter2")))
    val rows = InReachSource.read(spark, shares, HttpFetcherFixtures.via(base),
      PipelineFixtures.now).collect()
    assert(rows.map(r => r.callSign -> r.extended("IMEI")).toSet ==
      Set("open" -> "open", "L" -> "locked"))
  }
}
