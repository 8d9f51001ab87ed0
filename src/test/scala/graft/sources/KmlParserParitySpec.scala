package graft.sources

import graft.model.RawPlacemark
import org.scalatest.funsuite.AnyFunSuite

import scala.util.{Random, Try}
import scala.xml.{Elem, Node, XML}

/** The DOM extraction the streaming parser replaced, kept here only as
  * the reference the parity spec compares against: scala-xml builds
  * the whole tree, then `\` walks it. */
object ScalaXmlKml {
  def parse(body: String, shareId: String, callSign: String): Seq[RawPlacemark] = {
    if (body == null || body.trim.isEmpty) return Seq.empty
    val root: Elem = XML.loadString(body)
    val doc: Node =
      if (root.label == "kml")
        (root \ "Document").headOption.getOrElse(throw new KmlParser.KmlDocumentNotFound)
      else if (root.label == "Document") root
      else throw new KmlParser.KmlDocumentNotFound
    val folder = (doc \ "Folder").headOption match {
      case None    => return Seq.empty
      case Some(f) => f
    }
    (folder \ "Placemark").map { pm =>
      val point = (pm \ "Point").headOption
      val coords = point.flatMap(p => (p \ "coordinates").headOption).map(_.text)
      val when = (pm \ "TimeStamp").headOption
        .flatMap(ts => (ts \ "when").headOption).map(_.text)
      val extended: Map[String, String] = (pm \ "ExtendedData").headOption match {
        case None => Map.empty
        case Some(ed) =>
          (ed \ "Data").flatMap { d =>
            d.attribute("name").map(_.text).map { k =>
              k -> (d \ "value").headOption.map(_.text).getOrElse("")
            }
          }.toMap
      }
      RawPlacemark(shareId, callSign,
        coordinatesRaw = if (point.isDefined) coords.orElse(Some("")) else None,
        whenRaw = when, extended = extended)
    }
  }
}

/** The StAX parser against the scala-xml extraction it replaced: equal
  * placemarks, or both throw, on hand-written edge cases and on a
  * seeded set of generated bodies. Pure — no Spark session. */
class KmlParserParitySpec extends AnyFunSuite {

  private def same(body: String): Unit = {
    val want = Try(ScalaXmlKml.parse(body, "s", "c"))
    val got = Try(KmlParser.parse(body, "s", "c"))
    assert(want.isFailure == got.isFailure,
      s"one parser threw:\n  scala-xml: $want\n  StAX: $got\nbody:\n$body")
    if (want.isSuccess) assert(got.get == want.get, s"\nbody:\n$body")
  }

  private def kml(folder: String, prefix: String = ""): String =
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<${prefix}kml xmlns="http://www.opengis.net/kml/2.2" xmlns:kml="http://www.opengis.net/kml/2.2">
       |<${prefix}Document><${prefix}name>feed</${prefix}name>$folder</${prefix}Document>
       |</${prefix}kml>""".stripMargin

  private val fix =
    """<Placemark><TimeStamp><when>2026-08-12T05:00:00Z</when></TimeStamp>
      |<Point><coordinates>-105.1,39.4,1650.0</coordinates></Point>
      |<ExtendedData><Data name="IMEI"><value>300434030000000</value></Data></ExtendedData>
      |</Placemark>""".stripMargin

  private val edgeCases: Seq[(String, String)] = Seq(
    "CDATA, entities and comments in text" -> kml(
      """<Folder><Placemark>
        |<TimeStamp><when><![CDATA[2026-08-12]]>T05:00:00Z<!-- utc --></when></TimeStamp>
        |<Point><coordinates>-105.1,<!-- lat -->39.4</coordinates></Point>
        |<ExtendedData>
        |  <Data name="Name"><value>Smith &amp; Sons &lt;HQ&gt; &#233;</value></Data>
        |  <Data name="Text"><value><![CDATA[a < b & c]]></value></Data>
        |  <Data name="A&amp;B"><value>x</value></Data>
        |</ExtendedData></Placemark></Folder>""".stripMargin),
    "kml:-prefixed elements" -> kml(
      s"<kml:Folder>${fix.replaceAll("<(/?)(\\w)", "<$1kml:$2")}</kml:Folder>", prefix = "kml:"),
    "undeclared prefix" ->
      """<k:kml><k:Document><k:Folder><k:Placemark><k:Point><k:coordinates>1,2</k:coordinates></k:Point></k:Placemark></k:Folder></k:Document></k:kml>""",
    "whitespace and newlines around coordinates" -> kml(
      "<Folder><Placemark><Point>\n  <coordinates>\n\t  -105.1,39.4,0  \n</coordinates>\n</Point></Placemark></Folder>"),
    "Point without coordinates" -> kml(
      "<Folder><Placemark><Point><altitudeMode>absolute</altitudeMode></Point></Placemark></Folder>"),
    "Placemark without Point" -> kml(
      "<Folder><Placemark><LineString><coordinates>1,2 3,4</coordinates></LineString></Placemark></Folder>"),
    "missing when" -> kml(
      "<Folder><Placemark><TimeStamp/><Point><coordinates>1,2</coordinates></Point></Placemark></Folder>"),
    "empty value and value-less Data" -> kml(
      """<Folder><Placemark><ExtendedData><Data name="Incident Id"><value/></Data>
        |<Data name="Empty"><value></value></Data><Data name="NoValue"/><Data><value>nameless</value></Data>
        |<Data kml:name="Prefixed"><value>p</value></Data>
        |</ExtendedData></Placemark></Folder>""".stripMargin),
    "duplicate Data name: the later wins" -> kml(
      """<Folder><Placemark><ExtendedData><Data name="IMEI"><value>1</value></Data>
        |<Data name="IMEI"><value>2</value></Data></ExtendedData></Placemark></Folder>""".stripMargin),
    "second Point, TimeStamp and ExtendedData are ignored" -> kml(
      """<Folder><Placemark><Point/><Point><coordinates>9,9</coordinates></Point>
        |<TimeStamp><other/></TimeStamp><TimeStamp><when>late</when></TimeStamp>
        |<ExtendedData/><ExtendedData><Data name="k"><value>v</value></Data></ExtendedData>
        |</Placemark></Folder>""".stripMargin),
    "second Folder is not read" -> kml(
      s"<Folder>$fix</Folder><Folder>${fix.replace("300434030000000", "2")}</Folder>"),
    "non-Placemark siblings and nested Folders" -> kml(
      s"""<Folder><name>Track</name><Style id="s"><IconStyle><scale>1</scale></IconStyle></Style>
         |$fix<Folder>$fix</Folder><open>1</open>$fix</Folder>""".stripMargin),
    "nested markup inside text elements" -> kml(
      "<Folder><Placemark><Point><coordinates>1,<b>2</b>,3</coordinates></Point></Placemark></Folder>"),
    "bare Document root" -> s"<Document><Folder>$fix</Folder></Document>",
    "Document without Folder" -> kml("<name>nothing</name>"),
    "no Document" -> "<kml><NotDocument/></kml>",
    "unknown root" -> s"<Feed><Document><Folder>$fix</Folder></Document></Feed>",
    "no Document and a malformed tail" -> "<kml><NotDocument/></kml><",
    "processing instruction and comment in the prolog" ->
      s"<?xml version='1.0'?><!-- feed --><?pi data?><kml><Document><Folder>$fix</Folder></Document></kml>",
    "blank" -> " \n\t ",
    "truncated" -> kml(s"<Folder>$fix</Folder>").dropRight(12),
    "trailing garbage" -> (kml(s"<Folder>$fix</Folder>") + "garbage"),
    "second root" -> (kml(s"<Folder>$fix</Folder>") + "<kml/>"),
    "DOCTYPE" -> ("<!DOCTYPE kml>" + kml(s"<Folder>$fix</Folder>").dropWhile(_ != '\n')))

  edgeCases.foreach { case (name, body) =>
    test(s"parity: $name")(same(body))
  }

  test("the edge cases extract what they should") {
    def one(name: String) = KmlParser.parse(edgeCases.toMap.apply(name), "s", "c")
    val cdata = one("CDATA, entities and comments in text").head
    assert(cdata.whenRaw.contains("2026-08-12T05:00:00Z"))
    assert(cdata.coordinatesRaw.contains("-105.1,39.4"))
    assert(cdata.extended == Map("Name" -> "Smith & Sons <HQ> é",
      "Text" -> "a < b & c", "A&B" -> "x"))
    assert(one("kml:-prefixed elements").map(_.extended("IMEI")) == Seq("300434030000000"))
    assert(one("Point without coordinates").head.coordinatesRaw.contains(""))
    assert(one("Placemark without Point").head.coordinatesRaw.isEmpty)
    assert(one("duplicate Data name: the later wins").head.extended == Map("IMEI" -> "2"))
    val dup = one("second Point, TimeStamp and ExtendedData are ignored").head
    assert(dup.coordinatesRaw.contains("") && dup.whenRaw.isEmpty && dup.extended.isEmpty)
    assert(one("non-Placemark siblings and nested Folders").size == 2)
  }

  /** A random KML-like body: the elements the parser reads, in random
    * order, count and nesting, with random prefixes, text forms and
    * unread siblings; some bodies are then cut short or given a tail. */
  private def generated(rnd: Random): String = {
    def pick[A](xs: A*): A = xs(rnd.nextInt(xs.size))
    val p = pick("", "", "", "kml:")
    def el(name: String, inner: String): String =
      if (inner.isEmpty && rnd.nextInt(4) == 0) s"<$p$name/>" else s"<$p$name>$inner</$p$name>"
    def ws: String = pick("", "", " ", "\n  ", "\t\n")
    def text(plain: String): String = pick(
      plain, plain, ws + plain + ws, s"<![CDATA[$plain]]>",
      plain.replace(",", "&#44;"), plain + "<!-- c -->", plain + " &amp; &lt;x&gt;", "")
    def some(n: Int)(f: => String): String = Seq.fill(rnd.nextInt(n + 1))(f).mkString(ws)
    def data: String = {
      val name = pick("IMEI", "Name", "Velocity", "Course", "Id", "Text")
      val attr = pick(s""" name="$name"""", s""" name="$name"""", s""" name='$name' id="x"""",
        s""" kml:name="$name"""", "")
      val value = pick(el("value", text(s"${rnd.nextInt(1000)}")), el("value", ""), "",
        el("value", text("a")) + el("value", text("b")), el("other", "o"))
      s"<${p}Data$attr>$value</${p}Data>"
    }
    def placemark: String = {
      val parts = Seq(
        () => some(2)(el("Point", pick(el("coordinates", text(s"-105.${rnd.nextInt(999)},39.4,0")),
          "", el("altitudeMode", "x") + el("coordinates", text("1,2"))))),
        () => some(2)(el("TimeStamp", pick(el("when", text("2026-08-12T05:00:00Z")), "",
          el("begin", "b")))),
        () => some(2)(el("ExtendedData", some(4)(data))),
        () => some(1)(el("name", text("pm"))),
        () => some(1)(el("Style", el("IconStyle", el("scale", "1")))))
      el("Placemark", rnd.shuffle(parts).map(_()).mkString(ws))
    }
    def folder: String = el("Folder",
      some(5)(pick(placemark, placemark, placemark, el("name", "f"), el("Folder", placemark))))
    val doc = el("Document", some(2)(pick(folder, folder, el("name", "d"))))
    val root = pick(
      s"""<${p}kml xmlns="http://www.opengis.net/kml/2.2" xmlns:kml="x">$ws$doc$ws</${p}kml>""",
      s"""<${p}kml xmlns:kml="x">$ws$doc$ws</${p}kml>""",
      doc.replace(s"<${p}Document>", s"""<${p}Document xmlns:kml="x">"""),
      s"<${p}kml xmlns:kml='x'><${p}NetworkLink/></${p}kml>")
    val body = pick("", """<?xml version="1.0" encoding="utf-8"?>""" + "\n") + root
    rnd.nextInt(10) match {
      case 0 => body.take(rnd.nextInt(body.length))
      case 1 => body + pick("x", "<", "</kml>", "<!-- ok -->", "\n")
      case _ => body
    }
  }

  test("parity on 400 generated bodies (seed 20261017)") {
    val rnd = new Random(20261017L)
    var parsed = 0
    (1 to 400).foreach { _ =>
      val body = generated(rnd)
      same(body)
      if (Try(KmlParser.parse(body, "s", "c")).toOption.exists(_.nonEmpty)) parsed += 1
    }
    assert(parsed > 100, s"only $parsed generated bodies yielded placemarks")
  }
}
