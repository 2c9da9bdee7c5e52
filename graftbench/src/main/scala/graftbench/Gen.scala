package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** The reference narrative: 9 fixture batches (65 events about 16
  * tributes) in their documented send order, plus the tribute dimension.
  */
final case class Fixture(
    batches: IndexedSeq[(String, IndexedSeq[ObjectNode])],
    tributeHeader: String,
    tributeRows: IndexedSeq[(String, String)]) { // (tributeId, rest of the CSV line)
  def eventsPerCopy: Int = batches.map(_._2.size).sum
}

object Fixture {
  val SendOrder: IndexedSeq[String] = IndexedSeq(
    "preCornucopia", "postCornucopia", "aFewDaysAfterCornucopia",
    "katnissEdgeOfMap", "katnissInjured", "afterSponsorHelpsKatniss",
    "afterRue", "almostTheEnd", "theEnd")

  private[graftbench] val mapper = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)

  /** Loads the fixtures under `dir` (`streamingData/`, `staticData/`). */
  def load(dir: Path): Fixture = {
    val batches = SendOrder.map { name =>
      val arr = mapper.readTree(dir.resolve(s"streamingData/$name.json").toFile)
      name -> arr.elements().asScala.map(_.asInstanceOf[ObjectNode]).toIndexedSeq
    }
    val lines = Files.readAllLines(dir.resolve("staticData/tributeData.csv"), UTF_8)
      .asScala.map(_.trim).filter(_.nonEmpty).toIndexedSeq
    val rows = lines.tail.map { l =>
      val i = l.indexOf(',')
      (l.substring(0, i).stripPrefix("\"").stripSuffix("\""), l.substring(i))
    }
    Fixture(batches, lines.head, rows)
  }
}

/** Deterministic amplification of the fixture narrative. Copy `c` is the
  * whole narrative with every `tributeid` and `streamingeventid` remapped
  * to ids unique to (seed, copy); measures stay the fixture's, so every
  * copy converges to the narrative's final state under its own ids.
  */
final class Amplifier(val fixture: Fixture, val seed: Long) {
  private val base: Long = 100000L + (new java.util.Random(seed).nextLong() >>> 1) % 900000000L

  def tributeId(copy: Int, fixtureId: String): String =
    (base + copy.toLong * 100L + fixtureId.toLong).toString

  def eventId(copy: Int, fixtureEventId: String): String =
    s"s${seed}c${copy}-$fixtureEventId"

  /** The events of fixture batch `b` for each of `copies`, in copy order. */
  def events(b: Int, copies: Seq[Int]): IndexedSeq[ObjectNode] =
    for (c <- copies.toIndexedSeq; e <- fixture.batches(b)._2) yield {
      val o = e.deepCopy()
      o.put("tributeid", tributeId(c, e.get("tributeid").asText()))
      o.put("streamingeventid", eventId(c, e.get("streamingeventid").asText()))
      o
    }

  /** Event id -> tribute id for every event of `copies`. */
  def eventTributes(copies: Seq[Int]): Map[String, String] =
    (for (c <- copies; (_, evs) <- fixture.batches; e <- evs) yield
      eventId(c, e.get("streamingeventid").asText()) -> tributeId(c, e.get("tributeid").asText())).toMap

  /** A JSON array file body, one event object per line. */
  def render(events: Seq[ObjectNode]): Array[Byte] =
    events.map(e => Fixture.mapper.writeValueAsString(e)).mkString("[\n", ",\n", "\n]\n")
      .getBytes(UTF_8)

  /** The tribute dimension for `copies`: every fixture row once per copy. */
  def tributeCsv(copies: Seq[Int]): Array[Byte] = {
    val sb = new StringBuilder(fixture.tributeHeader).append('\n')
    for (c <- copies; (id, rest) <- fixture.tributeRows)
      sb.append('"').append(tributeId(c, id)).append('"').append(rest).append('\n')
    sb.toString.getBytes(UTF_8)
  }
}

/** One input file of a stream workload. */
final case class StreamFile(name: String, body: Array[Byte], eventIds: IndexedSeq[String],
    tributes: Int)

object StreamFile {
  /** Whole narratives of `copies`: the 9 fixture batches in send order,
    * each for every copy. A file is read as one partition, so its order is
    * the arrival order. */
  def narratives(amp: Amplifier, name: String, copies: Seq[Int]): StreamFile = {
    val evs = amp.fixture.batches.indices.flatMap(b => amp.events(b, copies))
    StreamFile(name, amp.render(evs), evs.map(_.get("streamingeventid").asText()),
      evs.map(_.get("tributeid").asText()).distinct.size)
  }

  /** Publishes `f` into `dir` by an atomic rename from `staging` (same
    * file system), stamping `mtimeMs` so the file source orders files by
    * publication. */
  def publish(f: StreamFile, staging: Path, dir: Path, mtimeMs: Long): Unit = {
    val tmp = staging.resolve(f.name + ".tmp")
    Files.write(tmp, f.body)
    tmp.toFile.setLastModified(mtimeMs)
    Files.move(tmp, dir.resolve(f.name), StandardCopyOption.ATOMIC_MOVE)
    ()
  }
}
