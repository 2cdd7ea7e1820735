package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's per-op regression tripwire over in-memory FULLBENCH texts:
  * it compares only like with like, and names an op only on a real
  * growth. No Spark session is involved. */
class BenchTripwireSpec extends AnyFunSuite {

  private val sf = "/data/sf0.1"
  private val boot = "boot-a"

  private def prev(sfDir: String = sf, bootId: Option[String] = Some(boot),
                   cpus: Option[Int] = Some(8)): String =
    Seq(Some(s""""sf": "$sfDir""""), bootId.map(b => s""""boot_id": "$b""""),
        Some(""""tripwire": "compared""""), cpus.map(c => s""""cpus": $c"""),
        Some(""""plan_fp": {"grew": "bhj=1,smj=0", "flat": ""}"""),
        Some(""""times_sec": {"grew": 0.2000, "tiny": 0.1000, "flat": 0.2000, "gone": 0.2000, "broke": 0.5000}"""))
      .flatten.mkString("{\n  ", ",\n  ", "\n}\n")

  private val now = Map(
    "grew" -> Some(0.31),  // > 1.5 x 0.2: named
    "tiny" -> Some(1.0),   // prior time under 0.15 s: never named
    "flat" -> Some(0.3),   // exactly 1.5 x: not named
    "broke" -> None,       // failed now: not a timing regression
    "fresh" -> Some(9.0))  // no prior time

  test("same sf, boot and cpus: compares and names only real growths") {
    val t = Bench.tripwire(Some(prev()), sf, boot, 8, now)
    assert(t.status == "compared")
    assert(t.regressions == Seq(("grew", 0.2, 0.31)))
    assert(t.prevFps == Map("grew" -> "bhj=1,smj=0", "flat" -> ""))
  }

  test("every mismatch skips the comparison under its own status") {
    def status(txt: Option[String], cpus: Int = 8) = {
      val t = Bench.tripwire(txt, sf, boot, cpus, now)
      assert(t.regressions.isEmpty && t.prevFps.isEmpty)
      t.status
    }
    assert(status(None) == "no_prev")
    assert(status(Some(prev(sfDir = "/data/sf0.01"))) == "skipped_sf_changed")
    assert(status(Some(prev(bootId = Some("boot-b")))) == "skipped_boot_changed")
    assert(status(Some(prev()), cpus = 32) == "skipped_cpus_changed")
    assert(status(Some(prev(bootId = None))) == "skipped_prev_unstamped")
    assert(status(Some(prev(cpus = None))) == "skipped_prev_unstamped")
    assert(status(Some(prev().replace("times_sec", "times"))) == "prev_unreadable")
  }
}
