package graft.sources

import graft.model.RawPlacemark

import java.io.StringReader
import javax.xml.stream.XMLStreamConstants._
import javax.xml.stream.{XMLInputFactory, XMLStreamException, XMLStreamReader}

/** Pure KML → RawPlacemark extraction. No Spark dependency — this is
  * the partition-level parse function of the inReach source
  * (SURVEY.md §2.1 S6–S8) and is unit-testable without a session.
  *
  * Guard semantics pinned to the reference:
  *  - blank body  → empty result          (reference `task.ts:95`)
  *  - no Document → throw                  (`task.ts:98`; caught per
  *    feed by the source's failure isolation, `task.ts:165-168`)
  *  - no Folder   → empty result           (`task.ts:99`)
  *  - placemark without Point → skipped    (`task.ts:103`)
  *
  * One forward pass over the JDK's StAX cursor: no tree is built, and
  * every subtree the extraction does not read is skipped. Elements
  * match by local name with any prefix ignored. xml2js wraps every
  * element in an array (`Folder[0].Placemark`); here "first child of
  * that name" plays `[0]` — normalization note in SURVEY.md §7.4. The
  * reference reads only Document[0].Folder[0] (first folder).
  *
  * Hostile input fails the body: a DOCTYPE of any kind is rejected
  * (so no entity expansion and no external entity is ever resolved),
  * and the whole document is read to its end, so a truncated body or
  * trailing garbage throws even after the Folder was read.
  */
object KmlParser {

  final class KmlDocumentNotFound
      extends RuntimeException("XML Parse Error: Document not found")

  // XMLInputFactory is not promised to be thread-safe: one per thread.
  // Namespace processing is off, as in a plain SAX parse: an undeclared
  // prefix is not an error and names are matched on their local part.
  private val factory: ThreadLocal[XMLInputFactory] = ThreadLocal.withInitial { () =>
    val f = XMLInputFactory.newDefaultFactory()
    f.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f
  }

  def parse(body: String, shareId: String, callSign: String): Seq[RawPlacemark] = {
    if (body == null || body.trim.isEmpty) return Seq.empty

    val r = factory.get.createXMLStreamReader(new StringReader(body))
    try {
      val found = document(r)
      val placemarks =
        if (found && child(r, "Folder")) folder(r, shareId, callSign)
        else Seq.empty // task.ts:99 — no Folder is a silent empty
      while (r.hasNext) advance(r)
      // the Document guard is applied only once the body is known to be
      // well-formed, so malformed XML fails as a parse error
      if (!found) throw new KmlDocumentNotFound
      placemarks
    } finally r.close()
  }

  /** Moves `r` to the Document start tag: the first `Document` child of
    * a `kml` root, or a bare `Document` root (task.ts:98). False if
    * there is none. */
  private def document(r: XMLStreamReader): Boolean = {
    while (advance(r) != START_ELEMENT) {}
    localName(r) match {
      case "kml"      => child(r, "Document")
      case "Document" => true
      case _          => false
    }
  }

  /** The direct `Placemark` children of the current (Folder) element. */
  private def folder(r: XMLStreamReader, shareId: String,
                     callSign: String): Seq[RawPlacemark] = {
    val out = Seq.newBuilder[RawPlacemark]
    children(r) {
      case "Placemark" => out += placemark(r, shareId, callSign)
      case _           => skip(r)
    }
    out.result()
  }

  private def placemark(r: XMLStreamReader, shareId: String,
                        callSign: String): RawPlacemark = {
    var point = false
    var coords: Option[String] = None
    var when: Option[String] = None
    var timeStamp = false
    var extended: Option[Map[String, String]] = None
    children(r) {
      case "Point" if !point =>
        point = true
        coords = firstChildText(r, "coordinates")
      case "TimeStamp" if !timeStamp =>
        timeStamp = true
        when = firstChildText(r, "when")
      case "ExtendedData" if extended.isEmpty =>
        // <Data name=k><value>v</value></Data> → string map
        // (task.ts:109-112); a later duplicate name wins. Missing
        // <value> → empty string (xml2js yields '' for an empty element).
        val data = Map.newBuilder[String, String]
        children(r) {
          case "Data" =>
            val name = attribute(r, "name")
            val value = firstChildText(r, "value").getOrElse("")
            name.foreach(data += _ -> value)
          case _ => skip(r)
        }
        extended = Some(data.result())
      case _ => skip(r)
    }
    RawPlacemark(
      shareId = shareId,
      callSign = callSign,
      coordinatesRaw = if (point) coords.orElse(Some("")) else None,
      whenRaw = when,
      extended = extended.getOrElse(Map.empty))
  }

  /** Next event; a DOCTYPE is refused outright — it is the only way to
    * declare the entities that expansion and XXE attacks need. */
  private def advance(r: XMLStreamReader): Int = {
    val event = r.next()
    if (event == DTD) throw new XMLStreamException("DOCTYPE is not allowed in KML")
    event
  }

  /** Element name without its prefix, as scala-xml's `label`. */
  private def localName(r: XMLStreamReader): String = {
    val name = r.getLocalName
    name.substring(name.indexOf(':') + 1)
  }

  /** An unprefixed attribute, as scala-xml's `attribute(name)`. */
  private def attribute(r: XMLStreamReader, name: String): Option[String] =
    (0 until r.getAttributeCount).find { i =>
      r.getAttributeLocalName(i) == name && Option(r.getAttributePrefix(i)).forall(_.isEmpty)
    }.map(i => r.getAttributeValue(i))

  /** Calls `f` with `r` on each child start tag of the current element;
    * `f` must consume the child through its end tag. Returns on the
    * current element's end tag. */
  private def children(r: XMLStreamReader)(f: String => Unit): Unit = {
    var event = advance(r)
    while (event != END_ELEMENT) {
      if (event == START_ELEMENT) f(localName(r))
      event = advance(r)
    }
  }

  /** Skips children until the first one named `name` and returns true
    * with `r` on its start tag; false, on the parent's end tag, if
    * there is none. */
  private def child(r: XMLStreamReader, name: String): Boolean = {
    var event = advance(r)
    while (event != END_ELEMENT) {
      if (event == START_ELEMENT) {
        if (localName(r) == name) return true
        skip(r)
      }
      event = advance(r)
    }
    false
  }

  /** Text of the first child named `name`; consumes the current element. */
  private def firstChildText(r: XMLStreamReader, name: String): Option[String] = {
    var text: Option[String] = None
    children(r) {
      case `name` if text.isEmpty => text = Some(elementText(r))
      case _                      => skip(r)
    }
    text
  }

  /** All descendant character data (text, CDATA, resolved entities) of
    * the current element, which it consumes. */
  private def elementText(r: XMLStreamReader): String = {
    val sb = new java.lang.StringBuilder
    var depth = 1
    while (depth > 0) advance(r) match {
      case START_ELEMENT => depth += 1
      case END_ELEMENT   => depth -= 1
      case CHARACTERS | CDATA | SPACE =>
        sb.append(r.getTextCharacters, r.getTextStart, r.getTextLength)
      case _ =>
    }
    sb.toString
  }

  /** Consumes the current element through its end tag. */
  private def skip(r: XMLStreamReader): Unit = {
    var depth = 1
    while (depth > 0) advance(r) match {
      case START_ELEMENT => depth += 1
      case END_ELEMENT   => depth -= 1
      case _             =>
    }
  }
}
