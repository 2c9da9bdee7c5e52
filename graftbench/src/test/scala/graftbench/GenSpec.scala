package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val fixture = Fixture.load(Paths.get("..", "src", "test", "resources", "fixtures"))

  private def render(seed: Long) = {
    val amp = new Amplifier(fixture, seed)
    (StreamFile.narratives(amp, "f.json", 0 until 5).body.toSeq, amp.tributeCsv(0 until 5).toSeq)
  }

  test("the fixture narrative is 65 events about 16 tributes in 9 batches") {
    assert(fixture.batches.map(_._1) === Fixture.SendOrder)
    assert(fixture.eventsPerCopy === 65)
    assert(fixture.tributeRows.map(_._1).toSet === (1 to 16).map(_.toString).toSet)
  }

  test("the same seed gives the same bytes; another seed gives other ids") {
    assert(render(7) === render(7))
    assert(render(7)._1 !== render(8)._1)
    assert(render(7)._2 !== render(8)._2)
  }

  test("every generated id resolves in the generated dimension and is unique") {
    val amp = new Amplifier(fixture, 3)
    val copies = 0 until 40
    val csv = new String(amp.tributeCsv(copies).toArray, "UTF-8").split("\n").toSeq
    assert(csv.head === fixture.tributeHeader)
    val dim = csv.tail.map(_.split(",", 2)(0).stripPrefix("\"").stripSuffix("\""))
    assert(dim.distinct.size === dim.size)
    val events = copies.grouped(8).zipWithIndex.flatMap { case (cs, i) =>
      Fixture.mapper.readTree(StreamFile.narratives(amp, s"f$i.json", cs).body).elements().asScala
    }.toSeq
    assert(events.size === 40 * 65)
    assert(events.map(_.get("tributeid").asText()).toSet === dim.toSet)
    assert(events.map(_.get("streamingeventid").asText()).distinct.size === events.size)
    assert(amp.eventTributes(copies).size === events.size)
  }

  test("measures stay the fixture's, in send order within each copy") {
    val amp = new Amplifier(fixture, 5)
    val evs = Fixture.mapper.readTree(StreamFile.narratives(amp, "f.json", Seq(2)).body)
      .elements().asScala.toSeq
    val original = fixture.batches.flatMap(_._2)
    assert(evs.map(_.get("heartrate")) === original.map(_.get("heartrate")))
    assert(evs.map(_.get("xcoordinate")) === original.map(_.get("xcoordinate")))
    assert(evs.map(_.get("streamingeventid").asText()) ===
      original.map(e => amp.eventId(2, e.get("streamingeventid").asText())))
  }

  test("publish moves a complete file into place") {
    val dir = Files.createTempDirectory("graftbench-gen")
    val staging = Files.createDirectory(dir.resolve("staging"))
    val stream = Files.createDirectory(dir.resolve("stream"))
    val f = StreamFile.narratives(new Amplifier(fixture, 1), "f.json", Seq(0))
    StreamFile.publish(f, staging, stream, 1000000L)
    assert(Files.readAllBytes(stream.resolve("f.json")).toSeq === f.body.toSeq)
    assert(Files.list(staging).count() === 0)
  }
}

/** The pinned final state against the golden facts FlagshipBatchSpec and
  * StreamingReplaySpec assert, and the checks that use it. */
class GoldenSpec extends AnyFunSuite {
  private val st = Golden.FinalState

  test("the pinned state holds the documented ending") {
    assert(st.size === 16)
    assert(st.values.forall(_.keySet === Golden.Fields.toSet))
    assert(Golden.Fields === graft.model.Schemas.stateItemSchema.fieldNames.toSeq)
    assert(st("3")("status") === "DEAD")
    assert(st("8")("status") === "ALIVE")
    assert(st("9")("status") === "ALIVE")
    assert(st("9")("locationStatus") === "IN BOUNDS")
    assert(st.values.count(_("status") == "ALIVE") === 2)
    assert(st.forall { case (id, row) => row("tributeId") === id })
  }

  test("checkState names the first differing key of a wrong copy, and stray keys") {
    val amp = new Amplifier(Fixture.load(Paths.get("..", "src", "test", "resources", "fixtures")), 9)
    def rows(c: Int) = st.map { case (t, row) => amp.tributeId(c, t) -> (row + ("tributeId" -> amp.tributeId(c, t))) }
    val good = rows(0) ++ rows(1)
    assert(Golden.checkState(amp, Seq(0, 1), good).isEmpty)
    val id = amp.tributeId(1, "9")
    val wrong = good.updated(id, good(id).updated("status", "DEAD"))
    assert(Golden.checkState(amp, Seq(0, 1), wrong).map(_.firstKey) === Seq(id))
    assert(Golden.checkState(amp, Seq(0), good).map(_.what) === Seq("state"))
  }

  test("checkLog wants one scale-2 object per event and nothing else") {
    val dir = Files.createTempDirectory("graftbench-log")
    Files.write(dir.resolve("e1.json"),
      """{"streamingeventid":"e1","tributeid":"7","heartrate":"70.00","painlevel":"0.00","hydrationlevel":"10.00","hungerlevel":"0.00","xcoordinate":"50.00","ycoordinate":"51.00"}""".getBytes)
    assert(Golden.checkLog(dir, Map("e1" -> "7")) === None)
    assert(Golden.logObjects(dir) === 1)
    assert(Golden.checkLog(dir, Map("e1" -> "8")).map(_.firstKey) === Some("e1"))
    assert(Golden.checkLog(dir, Map("e1" -> "7", "e2" -> "7")).map(_.firstKey) === Some("e2"))
    assert(Golden.checkLog(dir, Map.empty).map(_.firstKey) === Some("e1"))
    Files.write(dir.resolve("e1.json"), """{"tributeid":"7","heartrate":70}""".getBytes)
    assert(Golden.checkLog(dir, Map("e1" -> "7")).map(_.firstKey) === Some("e1"))
  }
}
