package graft.sources

import graft.model.{RawPlacemark, Share}
import org.apache.spark.sql.{Dataset, SparkSession}

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.format.DateTimeFormatter
import java.time.{Duration, Instant, ZoneOffset}
import java.util.Base64
import scala.util.{Failure, Success, Try}

/** The inReach HTTP/KML source (SURVEY.md §2.1 S1–S8).
  *
  * Shape: the (tiny, driver-known) share list is parallelized one
  * share per partition, so each scan task fetches and parses exactly
  * one share and the scan needs no shuffle of its own — the
  * reference's I/O-parallel fan-out + `Promise.all` barrier
  * (`task.ts:66-68,177`) becomes a stage of parallel Spark tasks with
  * the barrier at the next shuffle.
  *
  * The 30-minute lookback (`task.ts:80-82`) is a source-level
  * predicate pushdown: it ships to the server as the `d1` query param
  * rather than filtering after fetch.
  *
  * `fetcher` is the networkless test seam (SURVEY.md §7.1): production
  * uses [[InReachSource.httpFetcher]], tests inject KML strings.
  * Fetchers must be Serializable — they run inside executor tasks.
  */
object InReachSource {

  type Fetcher = (String, Option[String]) => String // (url, password) => body

  /** Canonicalize a user-supplied ShareId (reference `task.ts:70-74`):
    * full https URL → pathname sans leading '/'; `share.garmin.com/X`
    * prefix → `X`; anything else passes through. */
  def normalizeShareId(raw: String): String =
    if (raw.startsWith("https://")) new URI(raw).getPath.replaceFirst("^/", "")
    else if (raw.startsWith("share.garmin.com")) raw.replace("share.garmin.com/", "")
    else raw

  /** Feed URL with the lookback pushed down as `d1`
    * (reference `task.ts:78-82`). */
  def feedUrl(shareId: String, now: Instant, lookbackMinutes: Long = 30): String = {
    val d1 = DateTimeFormatter.ISO_INSTANT.format(
      now.minusSeconds(lookbackMinutes * 60).atZone(ZoneOffset.UTC).toInstant)
    s"https://share.garmin.com/Feed/Share/$shareId?d1=$d1"
  }

  /** Basic-auth header value for password-protected shares:
    * base64(":" + password) (reference `task.ts:85-87`). */
  def basicAuth(password: String): String =
    "Basic " + Base64.getEncoder.encodeToString((":" + password).getBytes("UTF-8"))

  /** Bounds on one feed request: a hung server fails its share, not
    * the run. */
  private val ConnectTimeout: Duration = Duration.ofSeconds(10)
  private val RequestTimeout: Duration = Duration.ofSeconds(60)

  // One client for every request: each HttpClient owns a selector
  // thread and a connection pool. Lazy, so it is built on first use in
  // each executor JVM and never serialized.
  private lazy val client: HttpClient =
    HttpClient.newBuilder().connectTimeout(ConnectTimeout).build()

  /** Production fetcher (java.net.http). A non-2xx status (e.g. a 401
    * on a bad password, a 500) throws, so the share fails and the
    * error body never reaches the KML parser. Defined as a static
    * method so the closure that captures it stays serializable. */
  val httpFetcher: Fetcher = (url: String, password: Option[String]) => {
    val builder = HttpRequest.newBuilder(URI.create(url)).timeout(RequestTimeout).GET()
    password.foreach(p => builder.header("Authorization", basicAuth(p)))
    val response = client.send(builder.build(), HttpResponse.BodyHandlers.ofString())
    if (response.statusCode / 100 != 2)
      throw new RuntimeException(s"HTTP ${response.statusCode}")
    response.body()
  }

  /** shares → raw placemark rows. One share per partition; per-share
    * failure isolation (fetch or parse error → 0 rows + stderr
    * warning, never a job failure — reference `task.ts:165-168`,
    * CHANGELOG "Increased fault tolerance").
    *
    * `debug` is the reference's DEBUG toggle (`task.ts:190-192`):
    * per-share fetch/parse diagnostics on stderr, off by default. */
  def read(
      spark: SparkSession,
      shares: Seq[Share],
      fetcher: Fetcher,
      now: Instant,
      lookbackMinutes: Long = 30,
      debug: Boolean = false): Dataset[RawPlacemark] = {
    import spark.implicits._
    // parallelize slices a Seq evenly: n slices of n shares hold one each
    val seed = spark.sparkContext.parallelize(shares, math.max(shares.size, 1))
    spark.createDataset(seed.flatMap { share =>
      val shareId = normalizeShareId(share.ShareId)
      val callSign = share.CallSign.getOrElse(shareId) // task.ts:75
      Try {
        val body = fetcher(feedUrl(shareId, now, lookbackMinutes), share.Password)
        val rows = KmlParser.parse(body, shareId, callSign)
        if (debug) System.err.println(
          s"FEED-DEBUG: $callSign: fetched ${body.length} chars, parsed ${rows.size} placemarks")
        rows
      } match {
        case Success(rows) => rows
        case Failure(err) =>
          System.err.println(s"FEED: $callSign: $err") // task.ts:166
          Seq.empty[RawPlacemark]
      }
    })
  }
}
