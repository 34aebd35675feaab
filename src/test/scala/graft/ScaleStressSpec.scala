package graft

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LlmText, LlmVector}

/** Dedup family at 40× the sf0.1 corpus (20 000 docs): the banded-MinHash
  * path must still agree exactly with the inverted-index exact path, the
  * hot-shingle cap must not fire on an organic vocabulary, and clustering
  * must label every paired doc. This is the in-repo stand-in for the
  * next scale-up: the shapes that survive 40× without new code paths are
  * the ones that survive 1000×. Deterministic LCG corpus — no RNG APIs. */
class ScaleStressSpec extends AnyFunSuite {
  import TestSpark._

  private val nDocs = 20000
  private val vocab = (0 until 64).map(i => s"w$i")

  /** xorshift-ish deterministic stream; avoids java.util.Random so the
    * corpus is identical on every run and platform. */
  private def lcg(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(x => x * 6364136223846793005L + 1442695040888963407L)

  private lazy val dir: String = {
    import spark.implicits._
    val d = TestSpark.tempDir("graft_scale").toString
    val rng = lcg(42L)
    val docs = (0 until nDocs).map { i =>
      val words = (0 until 30).map { _ =>
        vocab(((rng.next() >>> 33) % vocab.length).toInt)
      }
      (i.toLong, words.mkString(" "))
    }
    // Inject near dups (guaranteed 1-word edit of doc id-2's FINAL text)
    // and exact dups (copy of doc id-1's FINAL text) sequentially, so each
    // injection references the corpus as it will actually be written —
    // id%100: 97 becomes a near dup of base doc 95, then 98 an exact dup
    // of that near dup, giving both jaccard≈0.9 and jaccard=1.0 pairs.
    val texts = scala.collection.mutable.ArrayBuffer(docs.map(_._2): _*)
    (0 until nDocs).foreach { id =>
      if (id % 100 == 97 && id > 1) {
        val w = texts(id - 2).split(" ")
        w(0) = if (w(0) == "zz") "zy" else "zz" // always a real edit
        texts(id) = w.mkString(" ")
      } else if (id % 100 == 98 && id > 0) {
        texts(id) = texts(id - 1)
      }
    }
    val finalDocs = (0 until nDocs).map(i => (i.toLong, texts(i)))
    finalDocs.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("src0"))
      .coalesce(4).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  // ------------------------------------------------------------------
  // Adversarial bucket skew (VERDICT r8 #4): a 500-doc near-dup CLIQUE
  // inside a 10k corpus — the one regime where "work ∝ co-bucketed
  // pairs" degrades toward all-pairs. The claim to bound: degradation is
  // local to the clique (≤ bands·C(clique,2) join work), never global
  // (C(n,2)). Clique docs share a disjoint h* vocabulary and differ only
  // in word 0, so every clique pair has jaccard 27/29 ≈ 0.931 and zero
  // overlap with the organic corpus.
  private val hotN = 500
  private val advN = 10000
  private lazy val advDir: String = {
    import spark.implicits._
    val d = TestSpark.tempDir("graft_skew").toString
    val rng = lcg(1234L)
    val hotBase = (1 until 30).map(i => s"h$i")
    val docs = (0 until advN).map { i =>
      val text =
        if (i < hotN) (s"u$i" +: hotBase).mkString(" ")
        else (0 until 30)
          .map(_ => vocab(((rng.next() >>> 33) % vocab.length).toInt))
          .mkString(" ")
      (i.toLong, text)
    }
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("src0"))
      .coalesce(4).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("minhash band fan-out under a 500-doc clique: local, not global") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, advDir)
      .select("doc_id", "text")
    val banded = LlmVector.minhashBanded(LlmVector.minhashShingles(docs))
      .persist()
    // Join work = Σ_(band,hash) C(bucket, 2) — the number of raw pair
    // meetings the band equi-join produces, i.e. the quantity the
    // "∝ co-bucketed pairs" comment claims scales with clique², not n².
    val joinWork = banded.groupBy("band_idx", "band_hash").count()
      .agg(sum(expr("count * (count - 1) DIV 2")).as("w"))
      .head().getLong(0)
    banded.unpersist()
    val cliquePairs = hotN.toLong * (hotN - 1) / 2 // 124 750
    val allPairs = advN.toLong * (advN - 1) / 2    // ~50 M
    assert(joinWork >= cliquePairs,
      s"clique must co-band at least once: $joinWork < $cliquePairs")
    // Each band can co-bucket the clique at most once ⇒ the adversarial
    // ceiling is bands·C(clique,2) plus organic band noise (the bound
    // references the PRODUCTION band count so a tuning change retightens
    // it automatically).
    assert(joinWork <= LlmVector.bands.toLong * cliquePairs + 20000L,
      s"join work $joinWork exceeds the bands×clique² ceiling")
    // The scale claim: even with 5 % of the corpus in ONE near-dup
    // clique, the banded join does < 5 % of the all-pairs work.
    assert(joinWork <= allPairs / 20,
      s"join work $joinWork is not << all-pairs $allPairs")
    info(s"minhash band join work $joinWork vs clique $cliquePairs, " +
      s"ceiling ${LlmVector.bands.toLong * cliquePairs}, all-pairs $allPairs")
    // And the pipeline's OUTPUT under this skew is exactly the clique.
    val got = LlmVector.minhashPairs(docs, 0.7)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = (for {
      a <- 0 until hotN; b <- a + 1 until hotN
    } yield (a.toLong, b.toLong)).toSet
    assert(got == expect,
      s"got ${got.size} pairs, expected ${expect.size} (the clique); " +
        s"missed=${(expect -- got).take(5)} extra=${(got -- expect).take(5)}")
  }

  test("simhash chunk fan-out under the clique: measured, bounded, exact") {
    val docs = graft.sources.Tables.documents(spark, advDir)
      .select("doc_id", "text")
    val rows = docs.collect()
      .map(r => (r.getLong(0),
        org.apache.spark.sql.graft.SimHashImpl.hash(r.getString(1))))
      .sortBy(_._1)
    // Candidate mass of the production chunk layout — the block keys that
    // feed blockedPairs: Σ_chunk Σ_value C(bucket, 2).
    val nChunks = LlmVector.simhashChunks
    val chunkWork = LlmVector.simhashBlocks(LlmVector.simhashSigs(docs), 3)
      .index.groupBy("chunk_idx", "chunk").count()
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.expr("count * (count - 1) DIV 2")))
      .head().getLong(0)
    val cliquePairs = hotN.toLong * (hotN - 1) / 2
    val allPairs = advN.toLong * (advN - 1) / 2
    assert(chunkWork <= nChunks.toLong * cliquePairs + 30000L,
      s"chunk candidate mass $chunkWork exceeds chunks×clique² + noise")
    assert(chunkWork <= allPairs / 20,
      s"chunk candidate mass $chunkWork is not << all-pairs $allPairs")
    info(s"simhash chunk candidate mass $chunkWork vs clique " +
      s"$cliquePairs, all-pairs $allPairs")
    // Exactness under skew: distributed chunk-LSH == local brute force.
    val got = LlmVector.simhashPairs(docs, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sigs = rows.map(_._2); val ids = rows.map(_._1)
    val expect = scala.collection.mutable.Set.empty[(Long, Long, Int)]
    var i = 0
    while (i < sigs.length) {
      var j = i + 1
      while (j < sigs.length) {
        val h = java.lang.Long.bitCount(sigs(i) ^ sigs(j))
        if (h <= 3) expect += ((ids(i), ids(j), h))
        j += 1
      }
      i += 1
    }
    assert(got == expect,
      s"chunk-LSH ${got.size} vs brute ${expect.size} under clique skew")
  }

  test("embedding LSH under an all-near-dup clique: complete and local") {
    import spark.implicits._
    // 800 near-identical vectors (the clique) + 7 200 spread organics.
    // Every clique pair is cosine ≥ 0.99 and must be FOUND (completeness
    // under maximal bucket skew); organic vectors are near-orthogonal so
    // no organic pair qualifies. Base components 1 + d/64 give every
    // hyperplane a decisive margin, so a 1e-5 perturbation cannot flip
    // sign buckets.
    val rng = lcg(99L)
    val hot = 800
    val vecs = (0 until 8000).map { i =>
      val arr =
        if (i < hot)
          Array.tabulate(64)(d =>
            (1.0f + d / 64.0f) + (if (d == i % 64) 1e-5f * (i / 64 + 1)
                                  else 0.0f))
        else
          Array.tabulate(64) { _ =>
            // organic: ±1-ish components from the LCG — near-orthogonal
            // to each other and to the all-positive clique direction
            if (((rng.next() >>> 33) & 1L) == 0L) -1.0f else 1.0f
          }
      (i.toLong, arr.toSeq)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val got = LlmVector.embedNearDupPairs(emb, 0.99)
    val cnt = got.count()
    val cliquePairs = hot.toLong * (hot - 1) / 2
    assert(cnt == cliquePairs,
      s"expected exactly the clique ($cliquePairs pairs), got $cnt")
    val minScore = got.agg(org.apache.spark.sql.functions.min("score"))
      .head().getDouble(0)
    assert(minScore >= 0.99, s"min score $minScore")
    // Locality measure: own-bucket co-residence mass of the production
    // bucket layout (the block keys that feed blockedPairs) — the clique
    // sits in ONE bucket (C(800,2) mass); organics spread. The measured
    // mass must stay ≪ all-pairs.
    val bucketMass = LlmVector.multiprobeBlocks(emb, 0.99).index
      .groupBy("bucket").count()
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.expr("count * (count - 1) DIV 2")))
      .head().getLong(0)
    val allPairs = 8000L * 7999 / 2
    assert(bucketMass >= cliquePairs, s"clique not co-bucketed: $bucketMass")
    assert(bucketMass <= allPairs / 20,
      s"bucket mass $bucketMass is not << all-pairs $allPairs")
    info(s"hyperplane own-bucket mass $bucketMass vs clique $cliquePairs, " +
      s"all-pairs $allPairs")
  }

  test("organic vocabulary stays under the hot-shingle cap") {
    val maxDf = LlmText.docShingles(spark, dir)
      .groupBy("sh").count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    assert(maxDf <= 1024,
      s"max shingle df $maxDf would trip the cap and skew the parity test")
  }

  test("banded MinHash equals the exact inverted-index join at 20k docs") {
    val exact = LlmText.ngramPairs(spark, dir)
      .filter(org.apache.spark.sql.functions.col("jaccard") >= 0.7)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val minhash = LlmVector.minhashPairs(
      graft.sources.Tables.documents(spark, dir)
        .select("doc_id", "text"), 0.7)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "stress corpus must contain injected dups")
    // the injections must actually be present: every (near-dup, its exact
    // copy) pair has jaccard 1.0, every (base, near-dup) pair ≈ 0.8
    (100 until nDocs by 100).foreach { c =>
      assert(exact.contains((c + 97L, c + 98L)), s"missing exact pair at $c")
      assert(exact.contains((c + 95L, c + 97L)), s"missing near pair at $c")
    }
    assert(minhash == exact,
      s"minhash ${minhash.size} vs exact ${exact.size}; " +
        s"missed=${(exact -- minhash).take(5)} extra=${(minhash -- exact).take(5)}")
  }

  test("clustering labels every paired doc with its component minimum") {
    val pairs = LlmText.ngramPairs(spark, dir)
      .select("doc_a", "doc_b")
    val labels = LlmText.clusterPairs(spark, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairRows = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairRows.nonEmpty)
    pairRows.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
      assert(labels(a) <= math.min(a, b))
    }
  }

  test("simhash chunk-LSH equals brute-force hamming<=3 at 20k docs") {
    // The llm_dedup_simhash oracle guarantee is the pigeonhole THEOREM
    // (hamming <= 3 ⇒ one of four 16-bit chunks equal ⇒ candidate), so
    // it cannot degrade with corpus size — but the claim deserves the
    // same 40×-scale witness the MinHash path has. Brute force: all
    // 2·10⁸ signature pairs via xor+popcount on a local array (~1 s),
    // against the bucketed chunk-join pipeline's output.
    val docs = graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "text")
    val got = LlmVector.simhashPairs(docs, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sigRows = docs.collect()
      .map(r => (r.getLong(0),
        org.apache.spark.sql.graft.SimHashImpl.hash(r.getString(1))))
      .sortBy(_._1)
    val ids = sigRows.map(_._1)
    val sigs = sigRows.map(_._2)
    val expect = scala.collection.mutable.Set.empty[(Long, Long, Int)]
    var i = 0
    while (i < sigs.length) {
      var j = i + 1
      while (j < sigs.length) {
        val h = java.lang.Long.bitCount(sigs(i) ^ sigs(j))
        if (h <= 3) expect += ((ids(i), ids(j), h))
        j += 1
      }
      i += 1
    }
    assert(expect.nonEmpty, "stress corpus produced no hamming<=3 pairs")
    assert(got == expect,
      s"chunk-LSH ${got.size} pairs vs brute force ${expect.size}; " +
        s"missed=${(expect -- got).take(5)} extra=${(got -- expect).take(5)}")
  }

  // ------------------------------------------------------------------
  // VERDICT r9 #6: the two remaining blocked/binned joins get the same
  // adversarial treatment as the dedup family above — a deterministic
  // worst-case corpus, a MEASURED candidate-mass bound proving the
  // degradation is local to the adversarial structure (never
  // corpus-global), and output exactness under that skew.

  test("fuzzy blocking under a 500-name same-length clique: local, exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Clique: 500 names of ONE length differing only in two fixed
    // positions — every pair is levenshtein ≤ 2 AND lands in the same
    // length block, the regime where blocking is quadratic within the
    // block. Organics: the id repeated in three LETTER-ANCHORED blocks
    // (a<id>b<id>c<id>) — two distinct ids differ in every block, an
    // edit is local to one block, so lev ≥ 3 always (the anchors defeat
    // the shift-alignment that makes plain-repetition encodings like
    // "0097"×3 vs "0970"×3 reachable in 2 edits); spread over 97 length
    // classes so the organic mass stays near-linear per class. Clique
    // length 10 vs organic minimum 18 ⇒ no clique/organic adjacency even
    // under the ±1 block fan-out.
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val cliqueN = 500
    val clique = (0 until cliqueN).map { i =>
      "fzcliqu" + alpha(i / alpha.length) + alpha(i % alpha.length) + "e"
    }
    val orgN = 4700
    val organics = (0 until orgN).map { i =>
      val id = f"$i%04d"
      s"a${id}b${id}c$id" + ("p" * (3 + i % 97))
    }
    val names = (clique ++ organics).toDF("p_name")

    // Candidate mass of the production blocking layout, measured the way
    // the minhash test measures band fan-out: Σ_blk nA(blk)·nB(blk) over
    // the exploded ±1 keys (ordered incl. self-meets); each unordered
    // pair meets exactly twice and each name meets itself once, so the
    // unordered candidate count is (mass − n) / 2.
    val aCnt = names
      .withColumn("blk", explode(sequence(
        length(col("p_name")) - 1, length(col("p_name")) + 1)))
      .groupBy("blk").agg(count(lit(1)).as("na"))
    val bCnt = names.groupBy(length(col("p_name")).as("blk"))
      .agg(count(lit(1)).as("nb"))
    val mass = aCnt.join(bCnt, "blk")
      .agg(sum(expr("na * nb"))).head().getLong(0)
    val n = cliqueN + orgN
    val candidates = (mass - n) / 2
    val cliquePairs = cliqueN.toLong * (cliqueN - 1) / 2 // 124 750
    val allPairs = n.toLong * (n - 1) / 2                // ~13.5 M
    assert(candidates >= cliquePairs,
      s"clique must co-block: $candidates < $cliquePairs")
    // Analytic ceiling from the organic length histogram: within-class
    // C(n_l, 2) plus adjacent-class n_l·n_{l+1} — the blocking theorem's
    // admission, nothing more. The clique adds exactly C(clique, 2).
    val byLen = organics.map(_.length).groupBy(identity)
      .map { case (l, g) => l -> g.size.toLong }
    val organicCeiling = byLen.map { case (l, c) =>
      c * (c - 1) / 2 + c * byLen.getOrElse(l + 1, 0L)
    }.sum
    assert(candidates <= cliquePairs + organicCeiling,
      s"candidates $candidates exceed clique + organic blocking ceiling " +
        s"${cliquePairs + organicCeiling}")
    // The scale claim: even with a 500-name clique, blocking does a small
    // fraction of the all-pairs levenshtein work.
    assert(candidates <= allPairs / 20,
      s"candidate mass $candidates is not << all-pairs $allPairs")
    info(s"fuzzy blocking candidates $candidates vs clique $cliquePairs, " +
      s"organic ceiling $organicCeiling, all-pairs $allPairs " +
      s"(classes ${byLen.size}, max class ${byLen.values.max})")

    // Output exactness under the skew: the production pipeline must
    // return EXACTLY the clique pairs, with dist = the number of
    // differing trailing positions (same-length strings differing in
    // k ≤ 2 positions have levenshtein exactly k).
    val got = graft.operators.Joins.fuzzyBlocked(names)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    val expect = (for {
      i <- 0 until cliqueN; j <- i + 1 until cliqueN
    } yield {
      val (x, y) = (clique(i), clique(j))
      val (a, b) = if (x < y) (x, y) else (y, x)
      val d = (if (a(7) != b(7)) 1L else 0L) + (if (a(8) != b(8)) 1L else 0L)
      (a, b, d)
    }).toSet
    assert(expect.forall(_._3 >= 1), "clique names must be distinct")
    assert(got == expect,
      s"got ${got.size} pairs vs expected clique ${expect.size}; " +
        s"missed=${(expect -- got).take(3)} extra=${(got -- expect).take(3)}")
  }

  test("range-bin join with every interval in ONE bin: local, exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 200 intervals all starting inside one 32-day bin (epoch days
    // 992..1013, bin 31) — the VERDICT r9 adversarial case — against
    // 20 000 points spread uniformly over 6 400 days (200 bins). The
    // claim: candidate mass collapses to the intervals × the points of
    // the ≤ 2 bins the intervals touch, never intervals × all points.
    def dt(day: Int) = java.sql.Date.valueOf(
      java.time.LocalDate.ofEpochDay(day.toLong))
    val nIv = 200; val nPt = 20000; val binDays = 32
    val ivDf = (0 until nIv)
      .map(i => (i.toLong, dt(992 + i % 22)))
      .toDF("o_orderkey", "o_orderdate")
    val ptDf = (0 until nPt)
      .map(i => (1.0 + i % 7, dt(i % 6400)))
      .toDF("l_extendedprice", "l_shipdate")

    // Measured candidate mass of the production bin layout:
    // Σ_bin nIntervalEmits(bin) · nPoints(bin).
    val ivBins = ivDf.select(explode(array_distinct(array(
        expr(s"datediff(o_orderdate, DATE'1970-01-01') div $binDays"),
        expr(s"(datediff(o_orderdate, DATE'1970-01-01') + 30)" +
          s" div $binDays")))).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("ni"))
    val ptBins = ptDf.select(
        expr(s"datediff(l_shipdate, DATE'1970-01-01') div $binDays")
          .as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("np"))
    val mass = ivBins.join(ptBins, "bin")
      .agg(sum(expr("ni * np"))).head().getLong(0)
    val allPairs = nIv.toLong * nPt
    // Every interval is width 30 < binDays ⇒ emits ≤ 2 bins; all starts
    // share one bin ⇒ the mass ceiling is intervals × (points of those
    // two bins). Points are ~uniform: ≤ 4 per day ⇒ ≤ 128 per bin.
    val hotCeiling = nIv.toLong * 2 * 128
    assert(mass <= hotCeiling,
      s"candidate mass $mass exceeds the two-hot-bin ceiling $hotCeiling")
    assert(mass <= allPairs / 20,
      s"candidate mass $mass is not << all-pairs $allPairs")
    info(s"range-bin candidate mass $mass vs two-hot-bin ceiling " +
      s"$hotCeiling, all-pairs $allPairs")

    // Exactness under the skew: the binned plan == the plain theta join
    // on the same frames (4 M-pair brute force — fine at test scale).
    val got = graft.operators.Joins.rangeBinAgg(ivDf, ptDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    val brute = ptDf.join(ivDf,
        col("l_shipdate") >= col("o_orderdate")
          && col("l_shipdate") < date_add(col("o_orderdate"), 30))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_shipped"),
        graft.functions.Det.dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("o_orderkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(brute.nonEmpty && brute.length == nIv,
      s"degenerate corpus: ${brute.length} of $nIv intervals matched")
    assert(got == brute,
      s"binned plan != theta join under one-bin skew: got ${got.length} " +
        s"rows vs ${brute.length}")
  }

  test("scaled semdedup under maximal centroid bucket-skew: exact, orphans surface") {
    import spark.implicits._
    // Adversarial shape for the LSH-assigned path: ALL k=64 centroids
    // sit in ONE bucket (near-identical all-positive vectors, decisive
    // hyperplane margins), organics spread. Consequences the test
    // pins: (a) a vector whose radius-1 probe set misses the hot
    // bucket finds NO centroid and must surface as an explicit
    // cluster −1 orphan — never a silent misassignment; (b) the
    // candidate mass degrades gracefully to ≤ n·k (each vector meets
    // the co-bucketed centroid set at most once), not n², because
    // candidates only arise through bucket equality; (c) the full
    // output still equals a bit-exact driver-side replay.
    val (k, p) = (64, 3)
    val rng = lcg(7L)
    val vecs = (0 until 4000).map { i =>
      val arr =
        if (i < k)
          Array.tabulate(64)(d =>
            (1.0f + d / 64.0f) + (if (d == i % 64) 1e-5f * (i / 64 + 1)
                                  else 0.0f))
        else
          Array.tabulate(64) { _ =>
            if (((rng.next() >>> 33) & 1L) == 0L) -1.0f else 1.0f
          }
      (i.toLong, arr.toSeq)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val got = LlmVector.semDedupFlagsScaled(emb, k, p, 0.4)
      .collect().map(r =>
        (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getBoolean(3))))
      .toMap
    // driver-side exact replay (the LlmSpec idiom, adversarial corpus)
    val all = vecs.map { case (id, s) => (id, s.toArray) }
    def bucket(e: Array[Float]): Int = (0 until p).foldLeft(0) { (b, pl) =>
      var dot = 0.0; var i = 0
      while (i < e.length) {
        dot += LlmVector.hyperplaneSign(pl, i) * e(i); i += 1
      }
      if (dot > 0) b | (1 << pl) else b
    }
    val cents = all.filter(_._1 < k).map { case (id, e) =>
      (id, e, bucket(e))
    }
    assert(cents.map(_._3).distinct.size == 1,
      "shape broken: centroids must share ONE bucket")
    val masks = 0 +: (0 until p).map(1 << _)
    var candMass = 0L
    val assign = all.map { case (id, e) =>
      val probed = masks.map(bucket(e) ^ _).toSet
      val cand = cents.filter(c => probed(c._3))
        .map { case (cid, ce, _) => (cid, LlmVector.cosine(e, ce)) }
      candMass += cand.length
      id -> (if (cand.isEmpty) (-1L, -1.0)
             else {
               val (cid, c) = cand.minBy { case (cid, c) => (-c, cid) }
               (cid, c)
             })
    }.toMap
    val byId = all.toMap
    val evicted = (for {
      (a, (ca, _)) <- assign.toSeq; (b, (cb, _)) <- assign.toSeq
      if ca >= 0 && ca == cb && a < b &&
        LlmVector.cosine(byId(a), byId(b)) >= 0.4
    } yield b).toSet
    got.foreach { case (id, (cl, cos, ev)) =>
      assert(assign(id)._1 == cl && assign(id)._2 == cos &&
        evicted.contains(id) == ev, s"replay mismatch for $id")
    }
    val orphans = got.values.count(_._1 == -1L)
    assert(orphans > 0, "adversarial shape must exercise the orphan path")
    assert(got.values.count(_._3) > 0, "hot cluster must evict")
    assert(candMass <= 4000L * k,
      s"candidate mass $candMass exceeds the n*k skew ceiling")
    info(s"orphans $orphans of 4000, candidate mass $candMass " +
      s"(n*k ceiling ${4000L * k}, all-pairs ${4000L * 3999 / 2})")
  }
}
