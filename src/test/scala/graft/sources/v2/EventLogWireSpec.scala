package graft.sources.v2

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The `.gel` data wire, pinned byte for byte: one encoder writes the
  * base wire (GRAFTEL1) when a file carries no added-column lanes and
  * the extended wire (GRAFTEL3) when it does. The hashes below are the
  * bytes the encoder wrote when the two wires still had separate
  * encoders, so a codec change that moves a single byte fails here. */
class EventLogWireSpec extends AnyFunSuite {

  private val rows = Seq(
    (11L, 1000L, 7L, "click", 150L),
    (12L, 1500L, 3L, "view", -20L),
    (13L, 2000L, 9L, "click", 0L),
    (14L, 2500L, 3L, "buy", 99999L),
    (15L, 3000L, 5L, "view", 1L))

  private val lanes = Seq(
    EventLog.ExtraCol("qty", EventLog.ExtraBigint),
    EventLog.ExtraCol("score", EventLog.ExtraDouble),
    EventLog.ExtraCol("region", EventLog.ExtraString))

  private val laneVals: Seq[Array[AnyRef]] = Seq(
    Array(java.lang.Long.valueOf(4L), java.lang.Double.valueOf(0.5), "north"),
    Array(null, java.lang.Double.valueOf(-1.25), "south"),
    Array(java.lang.Long.valueOf(-7L), null, null),
    Array(java.lang.Long.valueOf(0L), java.lang.Double.valueOf(3.0), "north"),
    Array(null, null, "east"))

  private val stats = EventLog.ManifestEntry("day_00000-wire.gel", 5, 1000L,
    3000L, Seq("buy", "click", "view"), Seq(1L, 2L, 2L),
    Some(Seq(99999L, 150L, -19L)), Some((3L, 9L)), Some((11L, 15L)))

  private def sha256(f: java.io.File): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(f.toPath)).map("%02x".format(_)).mkString

  private def encode(ext: Boolean): (java.io.File, EventLog.ManifestEntry) = {
    val tmp = Files.createTempFile("gelwire", ".gel").toFile
    tmp.deleteOnExit()
    val e =
      if (ext) EventLog.writeGelFile(tmp, stats.file, rows, lanes, laneVals)
      else EventLog.writeGelFile(tmp, stats.file, rows)
    (tmp, e)
  }

  test("no lanes: the base wire GRAFTEL1, bytes and entry pinned") {
    val (f, e) = encode(ext = false)
    assert(new String(Files.readAllBytes(f.toPath).take(8), "US-ASCII") ==
      "GRAFTEL1")
    assert(sha256(f) ==
      "1a4caed2a504882c643133e4ba27748915cb3a5b405bb578038bfdcd3f380086")
    assert(e == stats)
  }

  test("BIGINT, DOUBLE and STRING lanes with nulls: the extended wire GRAFTEL3, bytes and entry pinned") {
    val (f, e) = encode(ext = true)
    assert(new String(Files.readAllBytes(f.toPath).take(8), "US-ASCII") ==
      "GRAFTEL3")
    assert(sha256(f) ==
      "fbc01c2054c9d75c0b4173287ead48b41275f042a625d49c0ab9fc8a6761b568")
    assert(e == stats)
    // and the one decoder reads back what was written, lanes aligned
    // to the asked order (an absent lane reads null)
    val back = EventLog.readRecords(f, Seq("region", "missing", "qty"))
    assert(back.map(_._1) == rows)
    assert(back.map(_._2.toSeq) == laneVals.map(v => Seq(v(2), null, v(0))))
  }
}
