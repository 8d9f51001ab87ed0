package perfbench

import java.time.Instant

/** The benchmark's own checks, run without Spark:
  * `python3 perfbench/test_perfbench.py`. Exits non-zero on failure. */
object SelfTest {

  private var failures = 0
  private def check(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  val ThreePlacemarks: String =
    """<?xml version="1.0" encoding="utf-8"?>
      |<kml xmlns="http://www.opengis.net/kml/2.2"><Document><Folder>
      |<Placemark>
      |  <TimeStamp><when>2026-08-12T05:40:00Z</when></TimeStamp>
      |  <ExtendedData>
      |    <Data name="IMEI"><value>300434030000001</value></Data>
      |    <Data name="Velocity"><value>36.0 km/h</value></Data>
      |  </ExtendedData>
      |  <Point><coordinates>-105.1,39.4,1650.0</coordinates></Point>
      |</Placemark>
      |<Placemark>
      |  <TimeStamp><when>2026-08-12T05:50:00Z</when></TimeStamp>
      |  <ExtendedData>
      |    <Data name="IMEI"><value>300434030000001</value></Data>
      |    <Data name="Velocity"><value>18.0 km/h</value></Data>
      |  </ExtendedData>
      |  <Point><coordinates>-105.2,39.5,1651.0</coordinates></Point>
      |</Placemark>
      |<Placemark>
      |  <TimeStamp><when>2026-08-12T05:45:00Z</when></TimeStamp>
      |  <ExtendedData>
      |    <Data name="IMEI"><value>300434030000002</value></Data>
      |    <Data name="Velocity"><value>0.0 km/h</value></Data>
      |  </ExtendedData>
      |  <LineString><coordinates>-104.0,38.0 -104.1,38.1</coordinates></LineString>
      |</Placemark>
      |</Folder></Document></kml>""".stripMargin

  def main(args: Array[String]): Unit = {
    val now = Instant.parse("2026-08-12T06:00:00Z")
    val shape = FeedShape(3, 4, 5, 1, 1)

    val a = KmlGen.bodies(shape, 7L, now)
    val b = KmlGen.bodies(shape, 7L, now)
    val c = KmlGen.bodies(shape, 8L, now)
    check("generator: same seed gives byte-identical bodies",
      a.map(_._2.getBytes("UTF-8").toSeq) == b.map(_._2.getBytes("UTF-8").toSeq))
    check("generator: another seed gives other bodies", a.map(_._2) != c.map(_._2))
    val digest = java.security.MessageDigest.getInstance("SHA-256")
    a.foreach(x => digest.update(x._2.getBytes("UTF-8")))
    val hex = digest.digest().map("%02x".format(_)).mkString
    check(s"generator: bodies for seed 7 keep their recorded digest ($hex)",
      hex == args.headOption.getOrElse(hex))

    val exp = Expected.latestPerId(a.map(_._2))
    check("generator: one feature per live device", exp.size == 3 * 4)
    check("generator: every fix inside the 30-minute lookback",
      a.flatMap(x => Expected.fixes(x._2).getOrElse(Nil)).forall(f =>
        f.timeMs > now.toEpochMilli - 30 * 60 * 1000 && f.timeMs < now.toEpochMilli))
    check("expected: body without Document fails its share",
      Expected.fixes(a.last._2).isEmpty)
    check("expected: empty Folder contributes nothing",
      Expected.fixes(a(3)._2).contains(Nil))

    val three = Expected.latestPerId(Seq(ThreePlacemarks))
    check("expected: point-less placemark skipped", three.keySet == Set("inreach-300434030000001"))
    val f = three("inreach-300434030000001")
    check("expected: later fix wins",
      f.timeMs == Instant.parse("2026-08-12T05:50:00Z").toEpochMilli &&
        f.coordinates == Seq(-105.2, 39.5, 1651.0))
    check("expected: km/h become m/s", f.speed.contains(18.0 * 0.277778))
    check("expected: blank body is empty", Expected.fixes("  ").contains(Nil))
    check("expected: malformed body fails", Expected.fixes("<kml><Document>").isEmpty)

    val fc = """{"type":"FeatureCollection","features":[{"id":"inreach-300434030000001",""" +
      """"type":"Feature","properties":{"speed":5.000004,"time":"2026-08-12T05:50:00.000Z"},""" +
      """"geometry":{"type":"Point","coordinates":[-105.2,39.5,1651.0]}}]}"""
    check("check: matching FeatureCollection passes", Main.checkFc(fc, three).isEmpty)
    check("check: wrong coordinates fail",
      Main.checkFc(fc.replace("-105.2", "-105.3"), three).isDefined)
    check("check: missing feature fails",
      Main.checkFc("""{"type":"FeatureCollection","features":[]}""", three).isDefined)

    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all passed")
  }
}
