package graft

import org.scalatest.funsuite.AnyFunSuite

/** VERDICT r12 #3 — structural headroom for the bench stdout line.
  *
  * The driver keeps only the last 2000 chars of Bench's stdout and parses
  * the final line as JSON; sbt's trailing "[success] ..." noise eats ~70
  * of those chars. `Bench.selfCheck` enforces ≤1900 at runtime, but a
  * runtime failure ZEROES a round's bench — this spec fails the BUILD
  * instead, by rendering the line for adversarial inputs (full-registry
  * query count and beyond, long names, failure markers that widen
  * `retimed` to its 15-entry cap) and asserting the cap plus JSON
  * framing. Every future field addition lands in `Bench.renderLine`, so
  * it cannot bypass this pin.
  */
class BenchSpec extends AnyFunSuite {

  private def render(ordered: Seq[(String, Double)],
      retimed: Seq[Double], drift: Seq[Int] = Seq.empty): String = {
    val execIdx = ordered.map(_._1).zipWithIndex.toMap
    Bench.renderLine(
      total = 99999.999,
      ordered = ordered,
      execIdx = execIdx,
      retimed = retimed,
      drift = if (drift.nonEmpty) drift else retimed.map(_ => -1),
      load1 = (999.99, 999.99), load1Mat = 999.99, stealPct = 999.99,
      matPairs = -1.0, matPs = 9999.999, matBpe = -1.0, matFrag = 9999.999,
      matLayout = 9999.999, gcSec = 9999.999,
      annRecall = -1.0, ivfRecall = -1.0, pqRecall = -1.0,
      shuffleMb = 99999.999,
      sfDir = "/root/testdata/sf0.1")
  }

  test("real registry at worst-case values stays within the driver tail") {
    // The REAL query names (the actual per-entry width driver runs see),
    // every timing at a 5-digit value, every retime slot filled with the
    // widest marker mix the contract allows (-1 failures first, then -2
    // succeeded-then-crashed re-runs) at the LOADED-WINDOW coverage cap
    // (32 slots, round 22) with every drift slot at its widest (-1).
    val names = SparkEntry.queries.keys.toSeq
    assert(names.size >= 180, s"registry shrank? ${names.size} queries")
    val ordered = names.map(_ -> 99999.999)
    val retimed = Seq.fill(5)(-1.0) ++ Seq.fill(27)(-2.0)
    val line = render(ordered, retimed, Seq.fill(32)(-1))
    Bench.selfCheck(line) // includes the ≤1900 cap
  }

  test("synthetic 400-query registry with 60-char names still fits") {
    // Adversarial width: more than double today's registry, names far
    // longer than any real Spec name (longest today is ~30 chars). The
    // query-map budget truncates the map, so total line length must stay
    // bounded no matter how the registry grows — worst-case retime/drift
    // coverage (32 loaded-window slots) included.
    val names = (0 until 400).map(i => f"q${i}%03d_" + "x" * 55)
    val ordered = names.map(_ -> 99999.999)
    val retimed = Seq.fill(32)(-2.0)
    val line = render(ordered, retimed, Seq.fill(32)(-1))
    Bench.selfCheck(line)
  }

  test("failure markers are listed first and survive the budget") {
    // Failures (-1) must appear in the kept query map (they sort first in
    // `ordered` by the main-loop contract) — the one diagnostic the
    // driver JSON must never truncate away.
    val names = (0 until 200).map(i => f"q${i}%03d_some_operator_name")
    val ordered = names.take(3).map(_ -> -1.0) ++
      names.drop(3).map(_ -> 99999.999)
    val line = render(ordered, Seq.fill(15)(-1.0))
    Bench.selfCheck(line)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    val qs = mapper.readTree(line).get("queries")
    names.take(3).foreach { n =>
      assert(qs.has(n) && qs.get(n).asDouble == -1.0,
        s"failure entry $n truncated out of the query map")
    }
  }

  test("query map is a strict PREFIX of ordered — a misfit stops it") {
    // ADVICE r13 #1: the budget loop must BREAK at the first entry that
    // does not fit, never skip it and keep later shorter ones — the
    // documented pos15[i]/retimed[i] correspondence with the i-th key of
    // the queries object only holds under prefix truncation. Adversarial
    // input: a 1400-char name in position 2 (wider than the whole
    // budget), short names after it.
    val ordered = Seq("first_query" -> -1.0, ("w" * 1400) -> 99999.999) ++
      (0 until 50).map(i => f"tail_$i%02d" -> 1.0)
    val line = render(ordered, Seq(1.0))
    Bench.selfCheck(line)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    val qs = mapper.readTree(line).get("queries")
    import scala.jdk.CollectionConverters._
    val kept = qs.fieldNames.asScala.toSeq
    assert(kept == Seq("first_query"),
      s"budget loop kept entries past the first misfit: $kept")
  }

  test("rendered line parses back to the values main computed") {
    // Round-trip sanity on the extraction. Round-16 map precision
    // (VERDICT r15 #7): queries-map values < 10 s render at 2 decimals
    // (10 ms — the 2.5× noise floor never read the third), ≥ 10 s keep
    // 3; the non-map fields keep fmt's full 3 decimals.
    val ordered = Seq("big_query" -> 12.3456, "a_query" -> 1.234,
      "b_query" -> 0.5)
    val line = render(ordered, Seq(1.2))
    val t = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(t.get("n_queries").asInt == 3)
    assert(t.get("omitted").asInt == 0)
    assert(t.get("queries").get("big_query").asDouble == 12.346)
    assert(t.get("queries").get("a_query").asDouble == 1.23)
    assert(t.get("retimed").get(0).asDouble == 1.2)
    assert(t.get("materialize_layout").asDouble == 9999.999)
    assert(t.get("load1_mat").asDouble == 999.99)
    assert(t.get("sf").asText == "/root/testdata/sf0.1")
  }

  test("sub-0.1s entries stop the queries map; failures never do") {
    // VERDICT r15 #7: noise-level entries must not crowd the stdout
    // budget as the registry grows — the map stops at the first
    // non-negative value under 0.1 s even with budget to spare, while
    // failure markers (-1, sorted first) always stay visible.
    val ordered = Seq("failed_q" -> -1.0, "slow_q" -> 2.0,
      "noise_q" -> 0.04, "later_q" -> 1.5)
    val line = render(ordered, Seq(-1.0, 2.0))
    Bench.selfCheck(line)
    val t = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    import scala.jdk.CollectionConverters._
    val kept = t.get("queries").fieldNames.asScala.toSeq
    assert(kept == Seq("failed_q", "slow_q"),
      s"expected the map to stop at the first sub-0.1s entry: $kept")
    assert(t.get("omitted").asInt == 2)
  }

  test("spike15 adjudicates each retimed entry by the 2.5x collapse rule") {
    // VERDICT r14 #3: spike15[i]=1 iff retimed[i] collapsed below the
    // i-th queries-entry's first sample / 2.5 (transient load window);
    // failures (-1) and crashed re-runs (-2) self-adjudicate as 0, a
    // genuine steady cost (re-time ≈ first sample) is 0.
    val ordered = Seq(
      "failed_q" -> -1.0,    // -1 retime marker → 0
      "spiked_q" -> 10.0,    // retimed 1.0 < 10/2.5 → 1
      "steady_q" -> 2.0,     // retimed 1.9 ≥ 2/2.5 → 0
      "crashed_q" -> 5.0,    // retime crashed (-2) → 0
      "boundary_q" -> 2.5)   // retimed 1.0 = 2.5/2.5 exactly → 0 (strict <)
    val line = render(ordered, Seq(-1.0, 1.0, 1.9, -2.0, 1.0))
    Bench.selfCheck(line)
    val t = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    val s = t.get("spike15")
    assert(s.size == 5, line)
    assert((0 until 5).map(s.get(_).asInt) == Seq(0, 1, 0, 0, 0),
      s"spike adjudication wrong: $line")
  }

  test("drift array aligns with retimed and round-trips its markers") {
    // VERDICT r21 #2a: drift[i] ∈ {-1, 0, 1} aligns with retimed[i]
    // exactly like spike15; selfCheck enforces the size match.
    val ordered = Seq("a_q" -> 9.0, "b_q" -> 5.0, "c_q" -> 2.0)
    val line = render(ordered, Seq(8.0, 1.0, -2.0), Seq(1, 0, -1))
    Bench.selfCheck(line)
    val t = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert((0 until 3).map(t.get("drift").get(_).asInt) == Seq(1, 0, -1),
      line)
    assert(t.get("steal_pct").asDouble == 999.99, line)
  }

  test("priorBestMap takes the minimum across saved BENCH wrappers") {
    // The drift reference must be the BEST historical figure — a
    // contaminated round's inflated numbers must never become the bar.
    // Wrapper shape mirrors the driver's BENCH_r<n>.json: the bench
    // stdout line embedded in a "tail" field, possibly with leading
    // noise before the JSON line.
    val dir = TestSpark.tempDir("benchspec_").toFile
    def write(name: String, tail: String): Unit = {
      val m = new com.fasterxml.jackson.databind.ObjectMapper
      val root = m.createObjectNode()
      root.put("n", 1); root.put("tail", tail)
      java.nio.file.Files.write(new java.io.File(dir, name).toPath,
        m.writeValueAsBytes(root))
    }
    write("BENCH_r01.json",
      """noise\n{"metric":"total","queries":{"q_a":2.50,"q_b":0.80}}""")
    write("BENCH_r02.json",
      """{"metric":"total","queries":{"q_a":1.25,"q_b":9.00,"q_f":-1.0}}""")
    write("BENCH_r02_c8.json", // non-canonical name: must be ignored
      """{"metric":"total","queries":{"q_a":0.01}}""")
    write("BENCH_r03.json", "no json line here")
    val best = Bench.priorBestMap(dir)
    assert(best.get("q_a").contains(1.25), best)
    assert(best.get("q_b").contains(0.80), best)
    assert(!best.contains("q_f"), s"failure markers must not enter: $best")
  }

  test("stealSample degrades to (-1,-1) or returns a plausible pair") {
    val (steal, total) = Bench.stealSample()
    assert((steal == -1L && total == -1L) || (steal >= 0L && total > 0L),
      s"($steal, $total)")
  }

  test("value_adjusted subtracts exactly the spike-convicted deltas") {
    // VERDICT r19 #1: value_adjusted = value − Σ over spike15==1 entries
    // of (first sample − retime). Failures, crashed re-runs, steady
    // entries, and uncovered entries contribute nothing. The fixture
    // reuses the spike15 test's five adjudication classes: only
    // "spiked_q" (10.0 → 1.0) is convicted, so adjusted = 99999.999 − 9.
    val ordered = Seq(
      "failed_q" -> -1.0,
      "spiked_q" -> 10.0,
      "steady_q" -> 2.0,
      "crashed_q" -> 5.0,
      "boundary_q" -> 2.5)
    val line = render(ordered, Seq(-1.0, 1.0, 1.9, -2.0, 1.0))
    Bench.selfCheck(line)
    val t = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(math.abs(t.get("value_adjusted").asDouble -
      (99999.999 - 9.0)) < 1e-6, s"wrong adjustment: $line")
    // No convictions ⇒ value_adjusted == value bit-for-bit.
    val clean = render(Seq("steady_q" -> 2.0), Seq(1.9))
    val ct = new com.fasterxml.jackson.databind.ObjectMapper().readTree(clean)
    assert(ct.get("value_adjusted").asDouble == ct.get("value").asDouble,
      s"unconvicted line must not adjust: $clean")
  }
}
