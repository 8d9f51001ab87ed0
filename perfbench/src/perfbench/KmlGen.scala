package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}

/** Shape of one ETL workload's feed set. */
final case class FeedShape(
    liveShares: Int,        // shares whose Folder carries device tracks
    devicesPerShare: Int,
    fixesPerDevice: Int,    // all inside the 30-minute lookback
    emptyShares: Int,       // Document + empty Folder: contributes nothing
    noDocumentShares: Int)  // body without <Document>: the share fails

/** Deterministic MapShare KML generator. The same (shape, seed, now)
  * gives byte-identical bodies: all randomness comes from one
  * SplittableRandom, whose sequence the JDK specifies. */
object KmlGen {

  val ImeiBase = 300434030000000L

  private val When = DateTimeFormatter.ISO_INSTANT
  private val Local = DateTimeFormatter.ofPattern("M/d/yyyy h:mm:ss a", Locale.US)
    .withZone(ZoneOffset.UTC)
  private val DeviceTypes = Array("inReach Mini 2", "inReach Messenger",
    "inReach Explorer+", "GPSMAP 67i")
  private val Events = Array("Tracking message received.",
    "Msg to shared map received", "Tracking turned on from device.")

  def shareId(i: Int): String = f"bench$i%05d"

  /** (shareId, body) for every share of the shape, in share order. */
  def bodies(shape: FeedShape, seed: Long, now: Instant): IndexedSeq[(String, String)] = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L)
    val total = shape.liveShares + shape.emptyShares + shape.noDocumentShares
    (0 until total).map { s =>
      val id = shareId(s)
      val body =
        if (s < shape.liveShares) liveBody(shape, s, rnd, now)
        else if (s < shape.liveShares + shape.emptyShares) emptyBody(id)
        else noDocumentBody(id)
      id -> body
    }
  }

  private def emptyBody(id: String): String =
    s"""<?xml version="1.0" encoding="utf-8"?>
       |<kml xmlns="http://www.opengis.net/kml/2.2">
       |  <Document>
       |    <name>KML Export $id</name>
       |    <Folder>
       |      <name>$id</name>
       |    </Folder>
       |  </Document>
       |</kml>
       |""".stripMargin

  private def noDocumentBody(id: String): String =
    s"""<?xml version="1.0" encoding="utf-8"?>
       |<kml xmlns="http://www.opengis.net/kml/2.2">
       |  <Folder>
       |    <name>$id</name>
       |  </Folder>
       |</kml>
       |""".stripMargin

  private def liveBody(shape: FeedShape, s: Int, rnd: SplittableRandom, now: Instant): String = {
    val sb = new java.lang.StringBuilder(shape.devicesPerShare * shape.fixesPerDevice * 1500)
    sb.append("<?xml version=\"1.0\" encoding=\"utf-8\"?>\n")
      .append("<kml xmlns=\"http://www.opengis.net/kml/2.2\">\n  <Document>\n")
      .append("    <name>KML Export ").append(shareId(s)).append("</name>\n")
      .append("    <Style id=\"style_1\"><IconStyle><scale>1</scale></IconStyle></Style>\n")
      .append("    <Folder>\n      <name>").append(shareId(s)).append("</name>\n")
    val lookbackMs = 30L * 60 * 1000
    val windowStart = now.toEpochMilli - lookbackMs
    val step = lookbackMs / (shape.fixesPerDevice + 1)
    for (d <- 0 until shape.devicesPerShare) {
      val dev = s * shape.devicesPerShare + d
      val imei = (ImeiBase + dev).toString
      val name = f"Unit $dev%06d"
      val devType = DeviceTypes(rnd.nextInt(DeviceTypes.length))
      val devId = java.util.UUID.nameUUIDFromBytes(imei.getBytes("UTF-8")).toString
      var lon = -125.0 + rnd.nextDouble() * 55.0
      var lat = 25.0 + rnd.nextDouble() * 24.0
      val coords = new Array[String](shape.fixesPerDevice)
      for (f <- 0 until shape.fixesPerDevice) {
        // strictly increasing whole-second times: one fix per step,
        // jittered within the first half of the step
        val t = windowStart + (f + 1) * step + rnd.nextLong(step / 2) / 1000 * 1000
        val whenTs = Instant.ofEpochMilli(t - t % 1000)
        lon += (rnd.nextDouble() - 0.5) * 0.01
        lat += (rnd.nextDouble() - 0.5) * 0.01
        val elev = 1000.0 + rnd.nextInt(300000) / 100.0
        val lonS = "%.6f".formatLocal(Locale.US, lon)
        val latS = "%.6f".formatLocal(Locale.US, lat)
        val elevS = "%.2f".formatLocal(Locale.US, elev)
        val vel = "%.1f".formatLocal(Locale.US, rnd.nextInt(1200) / 10.0)
        val course = "%.2f".formatLocal(Locale.US, rnd.nextInt(36000) / 100.0)
        coords(f) = s"$lonS,$latS,$elevS"
        sb.append("      <Placemark>\n")
          .append("        <name>").append(name).append("</name>\n")
          .append("        <visibility>1</visibility>\n")
          .append("        <description></description>\n")
          .append("        <TimeStamp><when>").append(When.format(whenTs)).append("</when></TimeStamp>\n")
          .append("        <styleUrl>#style_1</styleUrl>\n")
          .append("        <ExtendedData>\n")
        def data(k: String, v: String): Unit =
          sb.append("          <Data name=\"").append(k).append("\"><value>")
            .append(v).append("</value></Data>\n")
        data("Id", (rnd.nextLong() >>> 20).toString)
        data("Time UTC", Local.format(whenTs))
        data("Time", Local.format(whenTs.minusSeconds(6 * 3600)))
        data("Name", name)
        data("Map Display Name", name)
        data("Device Type", devType)
        data("IMEI", imei)
        data("Incident Id", "")
        data("Latitude", latS)
        data("Longitude", lonS)
        data("Elevation", s"$elevS m from MSL")
        data("Velocity", s"$vel km/h")
        data("Course", s"$course ° True")
        data("Valid GPS Fix", "True")
        data("In Emergency", "False")
        data("Text", if (rnd.nextInt(10) == 0) "Checking in" else "")
        data("Event", Events(rnd.nextInt(Events.length)))
        data("Device Identifier", devId)
        data("SpatialRefSystem", "WGS84")
        sb.append("        </ExtendedData>\n")
          .append("        <Point>\n          <extrude>1</extrude>\n")
          .append("          <altitudeMode>absolute</altitudeMode>\n")
          .append("          <coordinates>").append(coords(f)).append("</coordinates>\n")
          .append("        </Point>\n      </Placemark>\n")
      }
      // the device's Point-less track line, as MapShare appends it
      sb.append("      <Placemark>\n        <name>").append(name).append("</name>\n")
        .append("        <LineString><tessellate>1</tessellate><coordinates>")
        .append(coords.mkString(" "))
        .append("</coordinates></LineString>\n      </Placemark>\n")
    }
    sb.append("    </Folder>\n  </Document>\n</kml>\n").toString
  }
}

/** The fix a device's feature must report after dedup. */
final case class ExpectedFix(id: String, timeMs: Long, coordinates: Seq[Double],
                             speed: Option[Double])

/** Expected pipeline output, computed from the KML bodies with the
  * JDK's DOM parser, independent of the program's parser. Semantics
  * follow the reference task: only `kml/Document/Folder[0]` counts, a
  * body without a Document fails its share, placemarks without a
  * Point are skipped, the id is "inreach-" + IMEI, the velocity's
  * km/h become m/s, and the latest fix per id wins. */
object Expected {

  val KmhToMs = 0.277778

  private def childElems(n: org.w3c.dom.Node, name: String): Seq[org.w3c.dom.Element] = {
    val out = Seq.newBuilder[org.w3c.dom.Element]
    var c = n.getFirstChild
    while (c != null) {
      c match {
        case e: org.w3c.dom.Element if e.getTagName == name => out += e
        case _ =>
      }
      c = c.getNextSibling
    }
    out.result()
  }

  /** Fixes of one body; None when the share fails (no Document). */
  def fixes(body: String): Option[Seq[ExpectedFix]] = {
    if (body == null || body.trim.isEmpty) return Some(Nil)
    scala.util.Try(parseFixes(body)).toOption.flatten
  }

  private def parseFixes(body: String): Option[Seq[ExpectedFix]] = {
    val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    val db = f.newDocumentBuilder()
    db.setErrorHandler(new org.xml.sax.helpers.DefaultHandler) // throw, don't print
    val root = db
      .parse(new org.xml.sax.InputSource(new java.io.StringReader(body)))
      .getDocumentElement
    val doc =
      if (root.getTagName == "Document") Some(root)
      else if (root.getTagName == "kml") childElems(root, "Document").headOption
      else None
    doc.map { d =>
      childElems(d, "Folder").headOption.toSeq.flatMap { folder =>
        childElems(folder, "Placemark").flatMap { pm =>
          childElems(pm, "Point").headOption.map { pt =>
            val coords = childElems(pt, "coordinates").headOption
              .map(_.getTextContent).getOrElse("")
            val when = childElems(pm, "TimeStamp").headOption
              .flatMap(ts => childElems(ts, "when").headOption).map(_.getTextContent)
            val ext: Map[String, String] = childElems(pm, "ExtendedData").headOption
              .toSeq.flatMap(ed => childElems(ed, "Data")).map { d =>
                d.getAttribute("name") ->
                  childElems(d, "value").headOption.map(_.getTextContent).getOrElse("")
              }.toMap
            ExpectedFix(
              id = "inreach-" + ext.getOrElse("IMEI", ""),
              timeMs = when.map(w => Instant.parse(w).toEpochMilli).getOrElse(0L),
              coordinates = coords.split(",").toSeq.map(_.trim.toDouble),
              speed = ext.get("Velocity").map(_.split("\\s")(0)).filter(_.nonEmpty)
                .map(_.toDouble * KmhToMs))
          }
        }
      }
    }
  }

  /** Latest fix per id over all shares' bodies. */
  def latestPerId(bodies: Seq[String]): Map[String, ExpectedFix] =
    bodies.flatMap(b => fixes(b).getOrElse(Nil))
      .groupBy(_.id).map { case (id, fs) => id -> fs.maxBy(_.timeMs) }
}
