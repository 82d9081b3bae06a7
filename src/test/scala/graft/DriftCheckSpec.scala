package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the drift gate's band arithmetic and the isolated-triple
  * adjudication protocol (r20 verdict item 3): a synthetic forced
  * drift must flag, and the triple's median — not a single lucky or
  * unlucky re-run — must decide whether the flag clears in-band. */
class DriftCheckSpec extends AnyFunSuite {

  test("check flags only past-band growth above the jitter floor") {
    val prev = Map("a" -> 0.5, "b" -> 0.5, "c" -> 0.2, "d" -> 2.0)
    val cur = Map(
      "a" -> 1.9, // 3.8x, > 1 s         -> flagged
      "b" -> 1.4, // 2.8x, inside band    -> not flagged
      "c" -> 0.8, // 4.0x but under floor -> not flagged
      "d" -> 1.9, // faster               -> not flagged
      "e" -> 9.9) // no previous number   -> not flagged
    val flags = DriftCheck.check(prev, cur)
    assert(flags.map(_._1) == Seq("a"))
    val (_, p, c, r) = flags.head
    assert(p == 0.5 && c == 1.9 && math.abs(r - 3.8) < 1e-9)
  }

  test("adjudicate clears only near the previous value (split " +
      "thresholds: flag at DriftBand, clear at the tighter ClearBand)") {
    // r21 verdict item 8: the flag band (3x) stays, but clearing needs
    // the isolated median back within ClearBand (1.5x) of prev — a
    // sustained 2.5x plan regression must NOT self-clear
    assert(DriftCheck.DriftBand == 3.0 && DriftCheck.ClearBand == 1.5)
    // environmental flag: isolated triple lands back at prev — cleared
    val (m1, c1) = DriftCheck.adjudicate(2.0, Seq(2.9, 2.1, 1.9))
    assert(m1 == 2.1 && c1, "median near prev must clear")
    // median AT the clear band clears (boundary inclusive)
    val (m1b, c1b) = DriftCheck.adjudicate(2.0, Seq(3.0, 3.0, 2.0))
    assert(m1b == 3.0 && c1b)
    // a sustained 2.5x regression past the floor: flagged at 3.8x,
    // isolated median 2.5x — inside the FLAG band but past the CLEAR
    // band — must sustain (the r21 verdict's leniency hole)
    val (m2, c2) = DriftCheck.adjudicate(2.0, Seq(5.2, 5.0, 4.9))
    assert(m2 == 5.0 && !c2, "2.5x sustained median must not self-clear")
    // one lucky fast run must NOT clear a reproducing regression
    val (m3, c3) = DriftCheck.adjudicate(2.0, Seq(1.6, 8.0, 8.2))
    assert(m3 == 8.0 && !c3)
    // one loaded run must NOT sustain an environmental flag
    val (m4, c4) = DriftCheck.adjudicate(2.0, Seq(2.4, 16.0, 2.1))
    assert(m4 == 2.4 && c4)
    // under the absolute jitter floor, always cleared (the gate's own
    // "can't meaningfully drift" rule)
    val (m5, c5) = DriftCheck.adjudicate(0.1, Seq(0.9, 0.95, 0.9))
    assert(m5 == 0.9 && c5)
    // crashed re-runs (-1) are excluded; all-crashed never clears
    val (m6, c6) = DriftCheck.adjudicate(0.5, Seq(-1.0, 0.6, -1.0))
    assert(m6 == 0.6 && c6)
    val (m7, c7) = DriftCheck.adjudicate(0.5, Seq(-1.0, -1.0, -1.0))
    assert(m7 == -1.0 && !c7)
  }

  // —— parser pins (restored per r21 ADVICE: the r21 spec rewrite
  // dropped them while the parsers are still in production use — the
  // r17 failure class was a silent parse crash collapsing into an
  // empty "clean" drift map) ——

  private def tmpFile(content: String): String = {
    val f = java.nio.file.Files.createTempFile("driftspec", ".json")
    java.nio.file.Files.writeString(f, content)
    f.toFile.deleteOnExit()
    f.toString
  }

  test("readQueries parses scientific-notation values (raw " +
      "Double.toString goes 8.3E-4 below 1e-3)") {
    val p = tmpFile(
      """{"metric":"total","value":1.0,"queries":{"fast_op":8.3E-4,""" +
      """"neg_op":-1.0,"plain_op":2.125,"exp_op":1.2e+1},"sf":"x"}""")
    val q = DriftCheck.readQueries(p)
    assert(q("fast_op") == 8.3e-4)
    assert(q("neg_op") == -1.0)
    assert(q("plain_op") == 2.125)
    assert(q("exp_op") == 12.0)
  }

  test("readQueries on a truncated artifact returns empty, not a crash") {
    val p = tmpFile("""{"metric":"total","value":1.0,"queries":{"a":0.""")
    assert(DriftCheck.readQueries(p).isEmpty)
  }
}
