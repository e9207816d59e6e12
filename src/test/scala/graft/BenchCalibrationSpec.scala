package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's r17 self-calibration, pinned as pure logic: a uniform
  * machine slowdown must NOT flag rows (r16's +28% headline was noise
  * that cost a judge re-measurement), while a genuine regression must
  * be flagged even ON a slow machine — and near-miss escapes like
  * r16's q92/q104/q194 (2.3–3.2× band, under the old 2×+0.3 trigger)
  * must now fire. */
class BenchCalibrationSpec extends AnyFunSuite {
  private val sentinels = Set("q01", "q08", "q09", "q23", "q68", "q89")
  private val bands = Map(
    "q01" -> 0.5, "q08" -> 0.25, "q09" -> 0.8, "q23" -> 0.3,
    "q68" -> 1.0, "q89" -> 0.6, "q92" -> 0.3, "q104" -> 0.6)
  // shorthand: a measured solo with its band
  private def solo(sec: Double, band: Double) = Bench.SoloTime(sec, band)

  private def run(rows: (String, Double)*): (Double, Seq[String]) =
    Bench.calibrate(rows, Set.empty, bands, sentinels)

  test("an idle run reports factor 1.0 and flags nothing in-band") {
    val (f, out) = run(
      "q01_a" -> 0.5, "q08_b" -> 0.25, "q09_c" -> 0.8, "q23_d" -> 0.3,
      "q68_e" -> 1.0, "q89_f" -> 0.6, "q92_g" -> 0.3, "q104_h" -> 0.6)
    assert(f == 1.0 && out.isEmpty, s"($f, $out)")
  }

  test("a uniform 1.35x machine slowdown normalizes away: rows at " +
       "1.35x band are NOT out-of-band (the r16 false headline)") {
    val (f, out) = run(
      "q01_a" -> 0.675, "q08_b" -> 0.3375, "q09_c" -> 1.08,
      "q23_d" -> 0.405, "q68_e" -> 1.35, "q89_f" -> 0.81,
      "q92_g" -> 0.405, "q104_h" -> 0.81)
    assert(math.abs(f - 1.35) < 1e-9, s"factor must be the uniform ratio: $f")
    assert(out.isEmpty, s"uniformly-inflated rows must not flag: $out")
  }

  test("the r16 escapes fire even on a slow machine: q92 at 2.6x band " +
       "and q104 at 2.3x band flag under the 1.5x+0.2 trigger") {
    // sentinels at 1.35x (machine state), the two suspects genuinely hot
    val (f, out) = run(
      "q01_a" -> 0.675, "q08_b" -> 0.3375, "q09_c" -> 1.08,
      "q23_d" -> 0.405, "q68_e" -> 1.35, "q89_f" -> 0.81,
      "q92_g" -> 0.3 * 2.6 * 1.35, "q104_h" -> 0.6 * 2.3 * 1.35)
    assert(math.abs(f - 1.35) < 1e-9)
    assert(out.toSet == Set("q92_g", "q104_h"),
      s"both residual-hot rows must flag after normalization: $out")
  }

  test("a HALF-contended run takes the true middle-pair median, not " +
       "the upper-middle element — a residual-hot row still flags") {
    // three sentinels idle, three at 1.5x: true median 1.25 (the
    // upper-middle 1.5 would normalize 2.2x/1.5 = 1.47x under the
    // trigger and let the regression escape — the r16 class again)
    val rows = Seq(
      "q01_a" -> 0.5, "q08_b" -> 0.25, "q09_c" -> 0.8,
      "q23_d" -> 0.45, "q68_e" -> 1.5, "q89_f" -> 0.9,
      "q92_g" -> 0.3 * 2.9) // 2.9x band; 2.9/1.25 = 2.32 > 1.5 + 0.2/0.3
    val (f, out) = run(rows: _*)
    assert(math.abs(f - 1.25) < 1e-9, s"even-count median must average the middle pair: $f")
    assert(out == Seq("q92_g"), s"the residual-hot row must flag: $out")
  }

  test("no sentinel bands -> factor 1.0 (subset runs never divide by " +
       "a guess); failed queries never enter the factor or the flags") {
    val (f, out) = Bench.calibrate(
      Seq("q92_g" -> 5.0, "q104_h" -> 0.6), Set("q92_g"),
      bands, sentinels)
    assert(f == 1.0 && out.isEmpty, s"($f, $out)")
  }

  test("a query without a band is new and never flagged") {
    val (_, out) = run("q01_a" -> 0.5, "q260_new" -> 99.0)
    assert(out.isEmpty, s"band-less queries must not flag: $out")
  }

  test("factor corroboration (r18, re-ruled r19): a flat solo " +
       "sentinel says contention, an inflated one says the ENGINE " +
       "regressed; sub-threshold factors skip the check") {
    assert(Bench.factorVerdict(1.1, Bench.NoSentinel, Nil) == "not_needed",
      "a factor inside the threshold needs no corroboration")
    assert(Bench.factorVerdict(1.5, solo(1.02, 1.0), Nil) == "contention",
      "a flat isolated sentinel confirms machine state")
    assert(Bench.factorVerdict(1.5, solo(2.1, 1.0), Nil) == "engine_regression",
      "a solo past 1.5x band + 0.2 s means the engine itself slowed")
    assert(Bench.factorVerdict(1.5, Bench.SoloFailed, Nil) == "unverified",
      "a crashed solo run must be reported, never silently dropped")
    assert(Bench.factorVerdict(1.5, Bench.NoSentinel, Nil) == "no_sentinel",
      "no eligible sentinel is NOT the same record as a crashed solo " +
        "(the r18 advice: the BENCH json must distinguish the two)")
  }

  test("r19 absolute floor — r18's EXACT driver inputs report " +
       "contention, not engine_regression (the r18 verdict's one defect)") {
    // the r18 driver run: factor 1.498; pick q08, solo 0.34 s on a
    // 0.243 s band (1.41x by bare ratio — the old rule's false
    // positive). Under the trigger's own rule 0.34 <= 1.5*0.243 + 0.2:
    // in band, so the verdict is contention even with no isolated veto.
    assert(Bench.factorVerdict(1.498, solo(0.34, 0.243), Nil) == "contention",
      "a sub-second band's JIT floor must not read as regression")
    // and the same run's seven in-band isolated solo re-runs
    // (q128 10.4->1.25 on 1.414, q13 2.12->0.32 on 0.21, q124
    // 0.98->0.25 on 0.22, ...) veto regression INDEPENDENTLY: even a
    // genuinely out-of-band solo sentinel cannot stamp
    // engine_regression when every suspect row reached band speed in
    // isolation — a real regression forbids that.
    val sevenInBand = Seq(1.25 -> 1.414, 0.32 -> 0.21, 0.25 -> 0.22,
      0.31 -> 0.25, 1.9 -> 1.6, 0.8 -> 0.7, 0.5 -> 0.45)
    assert(Bench.factorVerdict(1.498, solo(2.5, 1.0), sevenInBand)
      == "contention", "unanimous in-band isolated re-runs must veto")
    // the veto needs unanimity: one isolated row still hot (or crashed,
    // reported as -1) keeps the regression verdict
    assert(Bench.factorVerdict(1.498, solo(2.5, 1.0),
        sevenInBand :+ (4.0 -> 1.0)) == "engine_regression",
      "a still-hot isolated row breaks the veto")
    assert(Bench.factorVerdict(1.498, solo(2.5, 1.0),
        sevenInBand :+ (-1.0 -> 1.0)) == "engine_regression",
      "a crashed isolated re-run is not in-band evidence")
  }

  test("r19 sentinel set mixes sub-second CPU rows with >1 s I/O rows " +
       "— the factor is the TRUE median over the mixed floors") {
    // the r18 finding: six CPU-bound sub-second sentinels saw spread
    // 1.04-2.19x while the only >1 s row sat flat — with q160/q183
    // (I/O-heavy, 2.17/2.33 s bands) in the set, a run whose CPU rows
    // are floor-inflated but whose I/O rows are flat reports the
    // middle ground, not the CPU floors
    val s8 = sentinels ++ Set("q160", "q183")
    val b8 = bands ++ Map("q160" -> 2.17, "q183" -> 2.33)
    val rows = Seq(
      "q01_a" -> 0.5 * 1.5, "q08_b" -> 0.25 * 1.8, "q09_c" -> 0.8 * 1.3,
      "q23_d" -> 0.3 * 1.6, "q68_e" -> 1.0 * 1.05, "q89_f" -> 0.6 * 1.4,
      "q160_g" -> 2.17 * 1.04, "q183_h" -> 2.33 * 1.06)
    val (f, _) = Bench.calibrate(rows, Set.empty, b8, s8)
    // sorted ratios 1.04 1.05 1.06 1.3 | 1.4 1.5 1.6 1.8 — the
    // even-count middle pair averages to 1.35
    assert(math.abs(f - 1.35) < 1e-9, s"mixed-floor even-count median: $f")
  }

  test("the corroboration sentinel is the LARGEST-BAND one (r19) — " +
       "the witness whose ~0.1 s absolute floor is the smallest " +
       "fraction of band, never a q08-class sub-second row") {
    val rows = Seq(
      "q01_a" -> 0.5 * 1.76, "q08_b" -> 0.25 * 1.2, "q09_c" -> 0.8 * 1.3,
      "q23_d" -> 0.3 * 1.4, "q68_e" -> 1.0 * 1.35, "q89_f" -> 0.6)
    val failed = Set("q89_f")
    val pick = Bench.corroborationPick(rows, failed, bands, sentinels)
    assert(pick.contains("q68_e"),
      s"the pick must be the largest-band sentinel: $pick")
    // failed sentinels are never picked; the fallback is the next band
    // down (q09 at 0.8), not a ratio-flavored choice
    val pick2 = Bench.corroborationPick(rows, failed + "q68_e", bands,
      sentinels)
    assert(pick2.contains("q09_c"),
      s"with q68 failed the next-largest band must be picked: $pick2")
  }

  test("query selection is exact: q14 selects q14_point_lookup, not q140_fn_catalog") {
    val picked = SparkEntry.queries.keys.filter(Bench.selects(Set("q14"), _)).toSet
    assert(picked == Set("q14_point_lookup"), s"$picked")
    assert(Bench.selects(Set("q140_fn_catalog"), "q140_fn_catalog"))
    assert(!Bench.selects(Set("q140_fn"), "q140_fn_catalog"))
  }
}
