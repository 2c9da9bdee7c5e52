package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Expected outputs, fixed independently of the code under test.
  *
  * `FinalState` is the narrative's converged 16-row state table, pinned
  * once from the fixtures by a plain model of the reference semantics
  * (last event per tribute in send order, the five ordered CASE bands,
  * decimals at scale 2). GoldenSpec checks it against the golden facts
  * that FlagshipBatchSpec and StreamingReplaySpec assert.
  */
object Golden {
  val Fields: Seq[String] = Seq("tributeId", "name", "district", "age", "status",
    "heartRate", "painStatus", "hydrationStatus", "hungerStatus",
    "xCoordinate", "yCoordinate", "locationStatus")

  val FinalState: Map[String, Map[String, String]] = Seq(
    "1" -> Seq("Marvel", "1", "17", "DEAD", "0.00", "INJURED", "OK", "OK", "60.00", "50.00", "IN BOUNDS"),
    "2" -> Seq("Glimmer", "1", "17", "DEAD", "0.00", "INJURED", "OK", "OK", "38.00", "48.00", "IN BOUNDS"),
    "3" -> Seq("Cato", "2", "18", "DEAD", "0.00", "INJURED", "OK", "OK", "50.00", "51.00", "IN BOUNDS"),
    "4" -> Seq("Clove", "2", "15", "DEAD", "0.00", "INJURED", "OK", "OK", "61.00", "51.00", "IN BOUNDS"),
    "5" -> Seq("Foxface", "5", "14", "DEAD", "0.00", "INJURED", "DEHYDRATED", "HUNGRY", "80.00", "75.00", "IN BOUNDS"),
    "6" -> Seq("Thresh", "11", "18", "DEAD", "0.00", "INJURED", "OK", "HUNGRY", "50.00", "51.00", "IN BOUNDS"),
    "7" -> Seq("Rue", "11", "12", "DEAD", "0.00", "INJURED", "OK", "OK", "60.00", "50.10", "IN BOUNDS"),
    "8" -> Seq("Peeta", "12", "16", "ALIVE", "130.00", "OK", "OK", "OK", "50.00", "50.00", "IN BOUNDS"),
    "9" -> Seq("Katniss", "12", "16", "ALIVE", "120.00", "OK", "OK", "OK", "50.00", "50.10", "IN BOUNDS"),
    "10" -> Seq("District 5 Male", "5", "15", "DEAD", "0.00", "INJURED", "OK", "OK", "50.50", "49.20", "IN BOUNDS"),
    "11" -> Seq("District 4 Male", "4", "12", "DEAD", "0.00", "INJURED", "OK", "OK", "49.60", "49.10", "IN BOUNDS"),
    "12" -> Seq("District 4 Female", "4", "16", "DEAD", "0.00", "INJURED", "DEHYDRATED", "HUNGRY", "78.10", "89.60", "IN BOUNDS"),
    "13" -> Seq("District 6 Male", "6", "16", "DEAD", "0.00", "INJURED", "OK", "OK", "50.90", "50.40", "IN BOUNDS"),
    "14" -> Seq("District 6 Female", "6", "15", "DEAD", "0.00", "INJURED", "OK", "OK", "49.10", "50.40", "IN BOUNDS"),
    "15" -> Seq("District 7 Male", "7", "17", "DEAD", "0.00", "INJURED", "DEHYDRATED", "HUNGRY", "40.70", "49.04", "IN BOUNDS"),
    "16" -> Seq("District 7 Female", "7", "16", "DEAD", "0.00", "INJURED", "OK", "OK", "59.10", "59.10", "IN BOUNDS"),
  ).map { case (id, rest) => id -> Fields.zip(id +: rest).toMap }.toMap

  /** A failed check: what was compared, and the first differing key. */
  final case class Mismatch(what: String, firstKey: String, detail: String)

  /** Every copy in `copies` must hold exactly the narrative's final state
    * under its own ids; no other key may exist. Returns one mismatch per
    * wrong copy (plus one for stray keys). */
  def checkState(amp: Amplifier, copies: Seq[Int],
      state: Map[String, Map[String, String]]): Seq[Mismatch] = {
    val expected = (for (c <- copies; (t, row) <- FinalState) yield {
      val id = amp.tributeId(c, t)
      id -> (row + ("tributeId" -> id))
    }).toMap
    val perCopy = copies.flatMap { c =>
      FinalState.keys.toSeq.sortBy(_.toInt).map(t => amp.tributeId(c, t)).collectFirst {
        case id if state.get(id) != expected.get(id) =>
          Mismatch(s"state of copy $c", id, s"expected ${expected(id)}, got ${state.get(id)}")
      }
    }
    val stray = (state.keySet -- expected.keySet).toSeq.sorted.headOption.map(k =>
      Mismatch("state", k, s"unexpected key (${(state.keySet -- expected.keySet).size} in all)"))
    perCopy ++ stray
  }

  private val Decimals = Seq("heartrate", "painlevel", "hydrationlevel", "hungerlevel",
    "xcoordinate", "ycoordinate")
  private val Scale2 = "-?\\d+\\.\\d\\d".r

  private def logNames(logDir: Path): IndexedSeq[String] = {
    val files = Files.list(logDir)
    try files.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".json")).toIndexedSeq
    finally files.close()
  }

  /** Objects in the event log at `logDir`. */
  def logObjects(logDir: Path): Int = logNames(logDir).size

  /** The event log must hold exactly one object per id in `expected`
    * (id -> tributeid), each carrying its tributeid and every decimal as a
    * scale-2 JSON string. Returns the first mismatch. */
  def checkLog(logDir: Path, expected: Map[String, String]): Option[Mismatch] = {
    val ids = logNames(logDir).map(_.stripSuffix(".json")).toSet
    val missing = (expected.keySet -- ids).toSeq.sorted.headOption
      .map(k => Mismatch("event log", k, "no log object"))
    val extra = (ids -- expected.keySet).toSeq.sorted.headOption
      .map(k => Mismatch("event log", k, "log object for no expected event"))
    missing.orElse(extra).orElse {
      expected.keys.toSeq.sorted.iterator.map { id =>
        val node = Fixture.mapper.readTree(
          new String(Files.readAllBytes(logDir.resolve(id + ".json")), UTF_8))
        val tid = Option(node.get("tributeid")).map(_.asText()).orNull
        val bad = Decimals.find { f =>
          val v = node.get(f)
          v == null || !v.isTextual || !Scale2.pattern.matcher(v.asText()).matches()
        }
        if (tid != expected(id)) Some(Mismatch("event log", id, s"tributeid $tid, expected ${expected(id)}"))
        else bad.map(f => Mismatch("event log", id, s"field $f is ${node.get(f)}, not a scale-2 string"))
      }.collectFirst { case Some(m) => m }
    }
  }
}
