package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LlmVector

/** ADVICE r2 #1: the probabilistic candidate generators (MinHash banding,
  * hyperplane-LSH buckets) are graded against EXACT oracles, and their
  * parity is data-dependent — a true pair sitting just above the threshold
  * is the one most likely to be missed. These tests build synthetic corpora
  * whose pair similarities straddle the thresholds densely (jaccard around
  * 0.7, cosine around 0.99) and assert the candidate-generator + exact-
  * verify pipelines return EXACTLY the brute-force pair set, so the parity
  * claim is exercised where it is weakest, not just on the easy fixtures.
  * Everything is deterministic: fixed constructions, no RNG at test time.
  */
class BorderlineParitySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("minhash banding == exact pairs on jaccard straddling 0.7") {
    // Doc pairs (2i, 2i+1) share `common` words of a 60-word budget; with
    // all-distinct single-use words the 3-gram shingle sets overlap in a
    // controlled band. common sweeps so exact jaccard crosses 0.7 from
    // ~0.55 to ~0.85 — each pair's true jaccard is computed brute-force
    // below rather than assumed.
    def word(tag: String, i: Int) = s"$tag$i"
    // With 60-word docs and c shared prefix words, the 3-gram shingle sets
    // give jaccard (c-2)/(118-c): 0.57 at c=44 rising to 0.97 at c=59,
    // crossing 0.7 between c=49 (0.681) and c=50 (0.706).
    val docs = (0 until 16).flatMap { p =>
      val common = 44 + p // 44..59 shared words of 60
      val shared = (0 until common).map(word(s"c${p}_", _))
      val a = shared ++ (0 until (60 - common)).map(word(s"a${p}_", _))
      val b = shared ++ (0 until (60 - common)).map(word(s"b${p}_", _))
      Seq((2L * p, a.mkString(" ")), (2L * p + 1, b.mkString(" ")))
    }
    val df = docs.toDF("doc_id", "text")
    def shingles(t: String): Set[String] =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val exact = (for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      sa = shingles(ta); sb = shingles(tb)
      j = (sa & sb).size.toDouble / (sa | sb).size if j >= 0.7
    } yield (ia, ib)).toSet
    // Sanity: the construction actually produces pairs on BOTH sides of
    // the threshold, including within ±0.05 of it.
    val allJ = for {
      (ia, ta) <- docs if ia % 2 == 0
      (ib, tb) <- docs if ib == ia + 1
      sa = shingles(ta); sb = shingles(tb)
    } yield (sa & sb).size.toDouble / (sa | sb).size
    assert(allJ.exists(j => j >= 0.7 && j < 0.75), allJ.sorted.mkString(","))
    assert(allJ.exists(j => j >= 0.65 && j < 0.7), allJ.sorted.mkString(","))
    assert(exact.nonEmpty && exact.size < 16)
    val got = LlmVector.minhashPairs(df, 0.7)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exact,
      s"banding missed ${exact -- got} / phantom ${got -- exact}")
  }

  test("embed LSH+verify == exact pairs on cosine straddling 0.99") {
    // Pair 2i/2i+1: v and normalize(v + eps*w) with w ⊥ v, so
    // cos = 1/sqrt(1+eps²); eps sweeps cos from ~0.9985 down to ~0.976,
    // densely crossing 0.99 (cos >= 0.99 ⇔ eps <= ~0.1425).
    val dim = 16
    def base(p: Int): Array[Float] = {
      val v = new Array[Float](dim)
      v(p % dim) = 1f; v((p + 3) % dim) = 0.5f; v
    }
    def ortho(p: Int): Array[Float] = {
      val w = new Array[Float](dim)
      // orthogonal to base(p): weight +1 on a 0-coordinate axis
      w((p + 7) % dim) = 1f
      if ((p + 7) % dim == p % dim || (p + 7) % dim == (p + 3) % dim)
        { w((p + 7) % dim) = 0f; w((p + 9) % dim) = 1f }
      w
    }
    val vecs = (0 until 12).flatMap { p =>
      val eps = 0.055f + 0.015f * p // 0.055 .. 0.22
      val v = base(p)
      val w = ortho(p)
      val u = v.zip(w).map { case (x, y) => x + eps * y }
      Seq((2L * p, v.toSeq), (2L * p + 1, u.toSeq))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val exact = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs if ia < ib
      c = LlmVector.cosine(va.toArray, vb.toArray) if c >= 0.99
    } yield (ia, ib)).toSet
    val allC = vecs.grouped(2).map { case Seq((_, va), (_, vb)) =>
      LlmVector.cosine(va.toArray, vb.toArray) }.toSeq
    assert(allC.exists(c => c >= 0.99 && c < 0.995), allC.mkString(","))
    assert(allC.exists(c => c >= 0.985 && c < 0.99), allC.mkString(","))
    assert(exact.nonEmpty && exact.size < 12)
    val got = LlmVector.embedNearDupPairs(df, 0.99)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exact,
      s"LSH missed ${exact -- got} / phantom ${got -- exact}")
  }

  test("embed LSH radius 4 recovers a pair whose buckets differ by 3+ bits") {
    // VERDICT r4 #1: the probe radius moved 2 → 4. This constructs — not
    // hopes for — a qualifying pair (cos ≈ 0.9987 ≥ 0.99) whose 8-plane
    // sign buckets differ in 3-4 bits, i.e. a pair radius-2 multi-probe
    // CANNOT meet. Construction: support the vector on two coordinates
    // (d1, d2) with weights (1, 1∓ε); every plane whose signs at d1/d2
    // disagree has dot ±ε, so nudging the d2 weight across 1 flips exactly
    // those planes. hyperplaneSign is the production sign function, so the
    // plane count is computed, not assumed.
    val dim = 16
    val planes = 8
    def disagree(d1: Int, d2: Int): Int = (0 until planes).count(p =>
      LlmVector.hyperplaneSign(p, d1) != LlmVector.hyperplaneSign(p, d2))
    val picked = (for {
      d1 <- 0 until dim; d2 <- (d1 + 1) until dim
      c = disagree(d1, d2) if c == 3 || c == 4
    } yield (d1, d2, c)).headOption
    assert(picked.nonEmpty, "no coordinate pair with 3-4 disagreeing planes")
    val (d1, d2, flips) = picked.get
    val eps = 0.05f
    def vec(w2: Float): Seq[Float] = {
      val v = new Array[Float](dim); v(d1) = 1f; v(d2) = w2; v.toSeq
    }
    // Two isolated singletons prove no phantom pairs either.
    val vecs = Seq((0L, vec(1f - eps)), (1L, vec(1f + eps)),
      (2L, Seq.tabulate(dim)(i => if (i == (d1 + 5) % dim) 1f else 0f)),
      (3L, Seq.tabulate(dim)(i => if (i == (d1 + 11) % dim) 1f else 0f)))
    val cos01 = LlmVector.cosine(vecs(0)._2.toArray, vecs(1)._2.toArray)
    assert(cos01 >= 0.99, s"construction cos $cos01")
    // Recompute the buckets the production bucketing assigns and confirm
    // the pair really is ≥3 flips apart — the scenario under test.
    def bucket(v: Seq[Float]): Int = (0 until planes).foldLeft(0) { (b, p) =>
      val dot = v.indices.map(i => LlmVector.hyperplaneSign(p, i) * v(i)).sum
      if (dot > 0) b | (1 << p) else b
    }
    val hamming = Integer.bitCount(bucket(vecs(0)._2) ^ bucket(vecs(1)._2))
    assert(hamming == flips && hamming >= 3, s"bucket hamming $hamming")
    val got = LlmVector.embedNearDupPairs(vecs.toDF("vec_id", "embedding"), 0.99)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L)), s"radius-4 probe returned $got")
  }

  test("OR-of-tables dedup path == brute force on implanted tight pairs") {
    // Round 16: past occupancy ~32/bucket embedNearDupPairs dispatches
    // to the AND-OR tables construction (the multiprobe path's 256
    // buckets measured quadratic at the 32x amplified corpus). Forced
    // here via the package-private entry with a large claimed n (so
    // b/T take their large-corpus values) over a corpus of isolated
    // singletons plus implanted near-identical pairs. At cos ~ 0.9999
    // the per-pair miss bound is ~5e-8 — deterministic for test
    // purposes; phantoms are impossible (exact cosine verify).
    val dim = 32
    def unit(seed: Int): Array[Float] = {
      // deterministic pseudo-random unit vector (splitmix-style)
      val v = Array.tabulate(dim) { i =>
        var h = seed.toLong * 0x9E3779B97F4A7C15L +
          i.toLong * 0xC2B2AE3D27D4EB4FL
        h ^= (h >>> 33); h *= 0xff51afd7ed558ccdL; h ^= (h >>> 33)
        ((h & 0xffff) / 65535.0f) - 0.5f
      }
      val norm = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / norm)
    }
    val singles = (0 until 60).map(i => (100L + i, unit(i).toSeq))
    val pairs = (0 until 8).flatMap { p =>
      val v = unit(1000 + p)
      // tiny deterministic nudge on one coordinate: cos >= 0.9999
      val w = v.clone(); w(p % dim) = w(p % dim) + 0.005f
      Seq((2L * p, v.toSeq), (2L * p + 1, w.toSeq))
    }
    val all = singles ++ pairs
    val exact = (for {
      (ia, va) <- all; (ib, vb) <- all if ia < ib
      c = LlmVector.cosine(va.toArray, vb.toArray) if c >= 0.99
    } yield (ia, ib)).toSet
    assert(exact.size >= 8, s"construction lost pairs: $exact")
    val got = LlmVector.embedNearDupOrTables(
        all.toDF("vec_id", "embedding"), 0.99, n = 1000000L)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exact,
      s"OR-tables missed ${exact -- got} / phantom ${got -- exact}")
    // and the dispatcher itself: this corpus is far below the
    // occupancy threshold, so the registered row keeps the exact-bound
    // multiprobe path — both paths agree here
    val viaDispatch = LlmVector.embedNearDupPairs(
        all.toDF("vec_id", "embedding"), 0.99)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaDispatch == exact, "dispatcher path diverged")
  }

  test("OR-tables plane count is capped at the Int signature width") {
    // ADVICE r16: HyperplaneBucketImpl packs one sign bit per plane into
    // an Int (`sig |= (1 << p)`), so b > 31 would silently alias plane p
    // with p-32 via Java's shift-mod-32 — exactly at the n > ~1.7e10
    // regime the OR-tables path exists for. orTableParams must never
    // exceed the signature width, and the miss bound must compensate
    // with MORE tables (it is computed from the actual b).
    import graft.operators.LlmVector.orTableParams
    val atCliff = orTableParams(256L * 32 + 1, 0.99)
    for (n <- Seq(1L << 20, 1L << 34, 1L << 44, Long.MaxValue)) {
      val (b, t) = orTableParams(n, 0.99)
      assert(b >= 8 && b <= 31, s"n=$n: b=$b outside [8, 31]")
      assert(t >= 2, s"n=$n: tables=$t")
    }
    val capped = orTableParams(Long.MaxValue, 0.99)
    assert(capped._1 == 31, s"extreme n must pin b at the cap: $capped")
    assert(capped._2 > atCliff._2,
      s"capped b must be compensated by more tables: $capped vs $atCliff")
    // And the expression itself refuses an over-wide signature loudly.
    val e = intercept[IllegalArgumentException] {
      new org.apache.spark.sql.graft.HyperplaneBucketImpl(32, 0)
        .bucket(org.apache.spark.sql.catalyst.util.ArrayData
          .toArrayData(Array(1.0f)))
    }
    assert(e.getMessage.contains("31"), s"wrong failure: ${e.getMessage}")
  }

  test("multimodal decode treats NULL text as the empty document (oracle parity)") {
    // ADVICE r4 / VERDICT r4 #1: both the oracle SQL (COALESCE(text,''))
    // and the Spark-side codec (Pixels.encodePng null guard) must decode a
    // NULL text as the 4×3 zero image. This runs the REGISTERED query
    // end-to-end over a corpus containing NULL text — the exact fixture
    // shape a regeneration could introduce — and checks the features equal
    // the oracle's closed-form prediction for the empty document.
    import spark.implicits._
    val docs = Seq((1L, null: String), (2L, ""), (3L, "abc"))
    val tmp = TestSpark.tempDir("graft_nulltext")
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = SparkEntry.queries("llm_multimodal_decode")(spark, tmp.toString)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // Empty document: w=(0%32)+4=4, h=(0%24)+3=3, 12 zero pixels.
    assert(out(1L) == ((4L, 3L, 12L, 0L)), s"NULL text decoded ${out(1L)}")
    assert(out(2L) == out(1L), "NULL and '' must decode identically")
    // Non-degenerate row: pixel i = codepoint (i mod 3), w=7, h=6.
    val cps = "abc".codePoints().toArray
    val want = (0 until 42).map(i => (i + 1).toLong * (cps(i % 3) % 256)).sum
    assert(out(3L) == ((7L, 6L, 42L, want)), s"'abc' decoded ${out(3L)}")
  }
}
