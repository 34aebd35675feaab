package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scale-probe harness's evidence is only as strong as the
  * amplifier's invariants — a broken offset or a similarity-preserving
  * salt silently turns the slope table into fiction (both happened in
  * round 16's first sweeps and were caught by hand; these tests make
  * the catches permanent). Pins, on a real 3× amplification of
  * sf0.001 into a temp dir:
  *  - key-space disjointness: every copy's keys land in its own
  *    stride window, so COUNT(DISTINCT key) scales exactly ×factor;
  *  - join fan-out constancy: the orders⋈customer hit count scales
  *    exactly ×factor (copy k's facts reference copy k's dims — an
  *    unshifted replication would scale it ×factor²);
  *  - text decoherence with exact-dup-rate preservation: within-copy
  *    duplicate text groups replicate per copy, while copies of one
  *    document are NOT byte-equal across copies;
  *  - embedding decoherence as an ORTHOGONAL transform: within-copy
  *    cosines are bit-preserved (±1 diagonal), cross-copy cosines of
  *    the same vector collapse below the 0.99 near-dup threshold;
  *  - events lands as a single FILE (the streaming file source cannot
  *    list a directory — TESTDATA gotcha), and its row count scales.
  */
class AmplifySpec extends AnyFunSuite {
  import TestSpark._

  private lazy val out: String = {
    val dir = TestSpark.tempDir("graft_amplify_test").toString
    Amplify.amplify(spark, SF001, dir, 3)
    dir
  }

  test("keys are stride-disjoint and cardinality scales exactly") {
    val src = spark.read.parquet(s"$SF001/orders.parquet")
    val amp = spark.read.parquet(s"$out/orders.parquet")
    val nSrc = src.agg(countDistinct(col("o_orderkey"))).collect()(0).getLong(0)
    val nAmp = amp.agg(countDistinct(col("o_orderkey"))).collect()(0).getLong(0)
    assert(nAmp == 3 * nSrc, s"distinct orderkeys $nAmp != 3*$nSrc")
    val windows = amp.select(
      floor(col("o_orderkey") / Amplify.Stride).as("w"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(windows == Set(0L, 1L, 2L), s"stride windows: $windows")
  }

  test("join fan-out is constant: hit count scales x3, not x9") {
    def hits(dir: String): Long =
      spark.read.parquet(s"$dir/orders.parquet")
        .join(spark.read.parquet(s"$dir/customer.parquet"),
          col("o_custkey") === col("c_custkey")).count()
    assert(hits(out) == 3 * hits(SF001),
      "amplified join fan-out is not x3 — key offsets broken (an " +
        "unshifted replication would square the hit count)")
  }

  test("text is decohered per copy but within-copy dup groups survive") {
    val amp = spark.read.parquet(s"$out/documents.parquet")
    val src = spark.read.parquet(s"$SF001/documents.parquet")
    // copy 1's version of doc d has doc_id d + Stride; byte-equal text
    // across copies would re-manufacture factor-way exact-dup clusters
    val crossEqual = amp.alias("a").join(amp.alias("b"),
        col("a.doc_id") + lit(Amplify.Stride) === col("b.doc_id")
          && col("a.text") === col("b.text")).count()
    assert(crossEqual == 0,
      s"$crossEqual documents byte-equal across copies — text salt broken")
    // within-copy exact-dup mass scales exactly: every dup GROUP in the
    // source appears once per copy (translation is a bijection on text)
    def dupGroups(df: org.apache.spark.sql.DataFrame): Long =
      df.filter(col("text").isNotNull).groupBy(col("text")).count()
        .filter(col("count") >= 2).count()
    assert(dupGroups(amp) == 3 * dupGroups(src),
      "within-copy duplicate groups did not replicate per copy")
  }

  test("embedding salt is orthogonal: within-copy cosines preserved, " +
      "cross-copy collapsed") {
    import graft.operators.LlmVector.cosine
    val src = spark.read.parquet(s"$SF001/embeddings.parquet")
      .orderBy(col("vec_id")).limit(8)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val amp = spark.read.parquet(s"$out/embeddings.parquet")
      .filter(col("vec_id") >= Amplify.Stride
        && col("vec_id") < Amplify.Stride + src.map(_._1).max + 1)
      .collect().map(r =>
        (r.getLong(0) - Amplify.Stride, r.getSeq[Float](1).toArray)).toMap
    for {
      (ia, va) <- src; (ib, vb) <- src if ia < ib
    } {
      val orig = cosine(va, vb)
      val flipped = cosine(amp(ia), amp(ib))
      assert(math.abs(orig - flipped) < 1e-6,
        s"within-copy cosine($ia,$ib) moved $orig -> $flipped — the " +
          "sign-flip is not the same orthogonal transform on both")
    }
    src.foreach { case (i, v) =>
      val c = cosine(v, amp(i))
      assert(math.abs(c) < 0.9,
        s"copy of vec $i still at cosine $c of its original — " +
          "manufactured near-dup cluster (the round-16 probe lesson)")
    }
  }

  test("events lands as a single file and scales") {
    val f = new java.io.File(s"$out/events.parquet")
    assert(f.isFile, "amplified events.parquet must be a FILE — the " +
      "streaming file source cannot list a directory")
    val n = spark.read.parquet(s"$out/events.parquet").count()
    val nSrc = spark.read.parquet(s"$SF001/events.parquet").count()
    assert(n == 3 * nSrc, s"events rows $n != 3*$nSrc")
  }

  test("factor > 124 fails loudly (affine text-salt map space exhausted)") {
    // ADVICE r16: at k = 124 the affine shift wraps mod 62 back onto the
    // k = 62 map — copies 62 and 124 would be byte-identical, silently
    // re-manufacturing exact-dup clusters in the slope evidence. The
    // amplifier must refuse rather than corrupt the witness.
    val e = intercept[IllegalArgumentException] {
      Amplify.amplify(spark, SF001, "/tmp/graft_amplify_overflow", 125)
    }
    assert(e.getMessage.contains("124"), s"wrong failure: ${e.getMessage}")
    assert(!new java.io.File("/tmp/graft_amplify_overflow").exists(),
      "refusal must happen before any output is written")
  }
}
