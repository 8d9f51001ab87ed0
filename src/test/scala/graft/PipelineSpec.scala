package graft

import graft.model.{EngineConfig, Share}
import graft.operators.FeatureProjection
import graft.sinks.FeatureCollectionSink
import graft.sources.InReachSource
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import java.time.Instant

/** End-to-end golden test: fixture KML (FIXTURES.md §A1) → source →
  * projection → dedup → FeatureCollection JSON. Networkless via the
  * injected fetcher seam. */
/** Fixtures live in a standalone object so the fetcher closures that
  * ship to executors don't capture the (non-serializable) spec. */
object PipelineFixtures extends Serializable {

  def placemark(imei: String, when: String, lon: Double = -105.123,
                course: String = "45.00 ° True", velocity: String = "5.5 km/h"): String =
    s"""<Placemark>
       |  <TimeStamp><when>$when</when></TimeStamp>
       |  <Point><coordinates>$lon,39.456,1650.0</coordinates></Point>
       |  <ExtendedData>
       |    <Data name="Id"><value>id-$imei</value></Data>
       |    <Data name="Name"><value>Jane</value></Data>
       |    <Data name="Device Type"><value>inReach Mini 2</value></Data>
       |    <Data name="IMEI"><value>$imei</value></Data>
       |    <Data name="Valid GPS Fix"><value>True</value></Data>
       |    <Data name="Course"><value>$course</value></Data>
       |    <Data name="Velocity"><value>$velocity</value></Data>
       |    <Data name="Device Identifier"><value>dev-$imei</value></Data>
       |  </ExtendedData>
       |</Placemark>""".stripMargin

  def doc(pms: String): String =
    s"""<kml xmlns="http://www.opengis.net/kml/2.2"><Document><Folder>$pms</Folder></Document></kml>"""

  // Two shares: share A has one device reported twice (dedup keeps the
  // later), share B one device; B's URL-form ShareId gets normalized.
  val feeds: Map[String, String] = Map(
    "alpha" -> doc(
      placemark("111", "2026-08-12T05:00:00Z", lon = -100.0) +
      placemark("111", "2026-08-12T05:10:00Z", lon = -101.0) +
      placemark("222", "2026-08-12T05:05:00Z")),
    "beta" -> doc(placemark("333", "2026-08-12T05:20:00Z")))

  /** The share id of a feed URL built by `InReachSource.feedUrl`. */
  def shareIdOf(url: String): String = url.split("/Feed/Share/")(1).split("\\?")(0)

  val fetcher: InReachSource.Fetcher = (url, _) => feeds(shareIdOf(url))

  /** Serves any share: one placemark whose IMEI is the share id. */
  val perShareFetcher: InReachSource.Fetcher = (url, _) =>
    doc(placemark(shareIdOf(url), "2026-08-12T05:00:00Z"))

  val brokenFetcher: InReachSource.Fetcher = (url, pw) =>
    if (url.contains("alpha")) throw new RuntimeException("HTTP 500")
    else fetcher(url, pw)

  val config = EngineConfig(Seq(
    Share("alpha"),
    Share("https://share.garmin.com/beta", CallSign = Some("BETA"))))

  val now = Instant.parse("2026-08-12T05:30:00Z")
}

class PipelineSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import PipelineFixtures._

  test("end-to-end: three deduped features, later fix wins") {
    val out = Pipeline.features(spark, config, fetcher, now)
    val rows = out.orderBy("id").collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("inreach-111", "inreach-222", "inreach-333"))
    // dedup kept the -101.0 (later) fix for device 111
    val f111 = out.filter(col("id") === "inreach-111")
      .select(col("geometry.coordinates")(0)).collect().head.getDouble(0)
    assert(f111 == -101.0)
  }

  test("projection semantics: unit strip, km/h→m/s, callsign default") {
    val out = Pipeline.features(spark, config, fetcher, now)
    val r = out.filter(col("id") === "inreach-222")
      .select(col("properties.course"), col("properties.speed"),
        col("properties.callsign")).collect().head
    assert(r.getDouble(0) == 45.00)
    assert(math.abs(r.getDouble(1) - 5.5 * 0.277778) < 1e-9)
    assert(r.getString(2) == "alpha") // CallSign defaulted to ShareId
    val b = out.filter(col("id") === "inreach-333")
      .select(col("properties.callsign")).collect().head.getString(0)
    assert(b == "BETA")
  }

  test("feed failure isolation: broken share contributes 0 rows, run continues") {
    val out = Pipeline.features(spark, config, brokenFetcher, now)
    assert(out.select("id").collect().map(_.getString(0)).toSeq == Seq("inreach-333"))
  }

  test("FeatureCollection JSON golden shape with ISO-millis timestamps") {
    val one = EngineConfig(Seq(Share("beta", CallSign = Some("BETA"))))
    val fc = FeatureCollectionSink.collectFeatureCollection(
      Pipeline.features(spark, one, fetcher, now))
    assert(fc.startsWith("""{"type":"FeatureCollection","features":["""))
    assert(fc.contains(""""id":"inreach-333""""))
    assert(fc.contains(""""time":"2026-08-12T05:20:00.000Z""""))
    assert(fc.contains(""""coordinates":[-105.123,39.456,1650.0]"""))
  }

  test("share normalization forms (task.ts:70-74)") {
    assert(InReachSource.normalizeShareId("https://share.garmin.com/xyz") == "xyz")
    assert(InReachSource.normalizeShareId("share.garmin.com/xyz") == "xyz")
    assert(InReachSource.normalizeShareId("xyz") == "xyz")
  }

  test("feed URL carries the 30-min lookback pushdown (task.ts:80-82)") {
    val url = InReachSource.feedUrl("abc", now)
    assert(url == "https://share.garmin.com/Feed/Share/abc?d1=2026-08-12T05:00:00Z")
  }

  test("projection drops non-Point placemarks (task.ts:103)") {
    val noPoint = doc("""<Placemark><TimeStamp><when>2026-08-12T05:00:00Z</when></TimeStamp></Placemark>""" +
      placemark("444", "2026-08-12T05:01:00Z"))
    val f: InReachSource.Fetcher = (_, _) => noPoint
    val out = Pipeline.features(spark, EngineConfig(Seq(Share("s"))), f, now)
    assert(out.select("id").collect().map(_.getString(0)).toSeq == Seq("inreach-444"))
  }

  test("scan shape: one share per task, and the dedup's shuffle is the only Exchange") {
    val shares = (1 to 11).map(i => Share(s"s$i"))
    val raw = InReachSource.read(spark, shares, perShareFetcher, now)
    assert(raw.rdd.getNumPartitions == shares.size)
    val perPartition = raw.rdd.mapPartitions(it => Iterator(it.map(_.shareId).toSet)).collect()
    assert(perPartition.toSeq == shares.map(s => Set(s.ShareId)))

    val plan = Pipeline.features(spark, EngineConfig(shares), perShareFetcher, now)
      .queryExecution.executedPlan
    val partitionings = collect(plan) { case e: ShuffleExchangeExec => e.outputPartitioning }
    assert(partitionings.size == 1 && partitionings.head.isInstanceOf[HashPartitioning], plan)
    assert(!plan.toString.contains("RoundRobinPartitioning"), plan)
  }
}
