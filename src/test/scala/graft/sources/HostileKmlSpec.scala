package graft.sources

import graft.model.Share
import graft.{PipelineFixtures, SparkSpec}
import org.apache.spark.sql.functions.col

import java.nio.file.Files

/** Hostile bodies: each holds a well-formed placemark, so a share that
  * yields 0 rows failed; it did not just come back empty. Kept in an
  * object so the fetcher closure does not capture the spec. */
object HostileKml extends Serializable {
  import PipelineFixtures.{doc, placemark}

  private val good = placemark("999", "2026-08-12T05:15:00Z")

  /** A local file an XXE entity would read; never a network URL. */
  lazy val secret: java.io.File = {
    val f = Files.createTempFile("kml-xxe", ".txt").toFile
    Files.writeString(f.toPath, "SECRET-42")
    f.deleteOnExit()
    f
  }

  lazy val bodies: Map[String, String] = Map(
    "internal-entity" ->
      ("""<!DOCTYPE kml [<!ENTITY who "Jane">]>""" + doc(good.replace("Jane", "&who;"))),
    "xxe" ->
      (s"""<!DOCTYPE kml [<!ENTITY xxe SYSTEM "${secret.toURI}">]>""" +
        doc(good.replace("Jane", "&xxe;"))),
    "billion-laughs" -> {
      val lols = (1 to 9).map(i =>
        s"""<!ENTITY lol$i "${Seq.fill(10)(s"&lol${i - 1};").mkString}">""").mkString
      s"""<!DOCTYPE kml [<!ENTITY lol0 "lol">$lols]>""" + doc(good.replace("Jane", "&lol9;"))
    },
    "truncated" -> doc(good + good).dropRight("</Folder></Document></kml>".length + 3),
    "trailing-garbage" -> (doc(good) + "<Placemark>garbage"))

  val fetcher: InReachSource.Fetcher = (url, _) => {
    val shareId = PipelineFixtures.shareIdOf(url)
    PipelineFixtures.feeds.getOrElse(shareId, bodies(shareId))
  }
}

/** Hostile KML fails its own share, in the parser and through both
  * source surfaces, while the other shares still produce their rows. */
class HostileKmlSpec extends SparkSpec {
  import HostileKml._
  import PipelineFixtures.feeds

  bodies.foreach { case (name, body) =>
    test(s"KmlParser.parse throws on a hostile body: $name") {
      val err = intercept[Exception](KmlParser.parse(body, "s", "c"))
      assert(!String.valueOf(err.getMessage).contains("SECRET-42"))
    }
  }

  test("a DOCTYPE is rejected even without entities") {
    intercept[javax.xml.stream.XMLStreamException] {
      KmlParser.parse("<!DOCTYPE kml>" + PipelineFixtures.doc(""), "s", "c")
    }
  }

  private val expected = Map("alpha" -> 3L, "beta" -> 1L)

  test("InReachSource.read: each hostile share gives 0 rows, the others theirs") {
    val shares = (feeds.keys ++ bodies.keys).toSeq.sorted.map(Share(_))
    val counts = InReachSource.read(spark, shares, fetcher, PipelineFixtures.now)
      .groupBy("shareId").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == expected)
  }

  test("format(inreach) with fixtureDir: each hostile share gives 0 rows, the others theirs") {
    val dir = Files.createTempDirectory("inreach-hostile").toFile
    (feeds ++ bodies).foreach { case (id, kml) =>
      Files.writeString(new java.io.File(dir, s"$id.kml").toPath, kml)
    }
    val counts = spark.read.format("inreach")
      .option("shares", (feeds.keys ++ bodies.keys).mkString(","))
      .option("now", "2026-08-12T05:30:00Z")
      .option("fixtureDir", dir.getAbsolutePath)
      .load()
      .groupBy(col("shareId")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == expected)
  }
}
