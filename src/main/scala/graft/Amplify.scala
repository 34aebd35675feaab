package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic fixture amplifier for the scale-probe harness
  * (VERDICT r15 #1): `runMain graft.Amplify <srcSfDir> <outDir> <factor>`
  * writes a `factor`×-amplified copy of the sf fixtures by replicating
  * rows with KEY-SPACE OFFSETS — copy k shifts every join/group key by
  * k·10⁹ — so the amplified corpus scales the way real data does:
  *
  *  - join fan-out per key stays CONSTANT (copy k's orders reference
  *    copy k's customers; an unshifted replication would multiply every
  *    key's match count by `factor` and measure join-explosion, not the
  *    operator);
  *  - group-by key cardinality scales with the data (the 100 TB
  *    behavior), while fixed-domain columns (status, priority, dates)
  *    keep their domains;
  *  - dimension tables (nation, region) stay verbatim — facts reference
  *    them unshifted, exactly like a production star schema;
  *  - document TEXT gets a per-copy affine alphanumeric BIJECTION
  *    (translate over [a-zA-Z0-9], map i → i·mult + shift mod 62) and
  *    embeddings a per-copy ±1 SIGN-FLIP pattern (a diagonal orthogonal
  *    transform), so within-copy duplicate/near-dup/ANN structure is
  *    preserved EXACTLY while no shingle or angle survives across
  *    copies — the duplicate/near-neighbor RATE stays constant instead
  *    of turning every row into a `factor`-way duplicate cluster. A
  *    slope witness must scale the problem, not manufacture a
  *    pathological one: round 16 retired a " zK" suffix salt, a vowel
  *    translation, and an additive +k·10⁻³ embedding shift after each
  *    manufactured fake super-linear slopes (details at the salt sites
  *    below; the adversarial hot-cluster path has its own
  *    bounded-candidate-mass coverage in ScaleStressSpec /
  *    HotShingleCapSpec).
  *
  * No oracle runs on amplified dirs — this is a SCALING witness
  * (tools/scale_probe.py measures per-row wall-time slopes across
  * 1× → 8× → 32×), not a correctness check; correctness is the driver's
  * sf0.01 gate. Timestamps are written back with their stored physical
  * type untouched (events.ts stays TIMESTAMP_NTZ µs, so
  * Tables.normalizeTs and the streaming schema pins behave identically
  * on amplified dirs). */
object Amplify {

  /** One stride for every BIGINT key column: far above any fixture key
    * (max ~6·10⁵ at sf0.1) and far below Long overflow at factor 32. */
  val Stride = 1000000000L

  private val keyCols: Map[String, Seq[String]] = Map(
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private def copyK(name: String, df: DataFrame, k: Int): DataFrame = {
    val shifted = keyCols(name).foldLeft(df) { (d, c) =>
      d.withColumn(c, col(c) + lit(k * Stride))
    }
    name match {
      case "documents" if k > 0 =>
        // Per-copy BIJECTIVE character rotation, not a suffix (round-16
        // probe lessons, twice over): SimHash/MinHash are
        // similarity-preserving, so a one-token salt left copies within
        // hamming ≤ 3 and manufactured factor-way near-dup clusters;
        // the second attempt (vowel translation) still let VOWEL-LESS
        // tokens (digits, codes) survive verbatim across copies — and a
        // doc whose MINIMUM-hash shingle is vowel-less hands all its
        // copies the same minhash, re-manufacturing cross-copy band
        // collisions (llm_dedup_near measured slope 1.62 at 64× from
        // exactly this). A full alphanumeric ROTATION per copy is a
        // bijection — within-copy duplicate/near-dup structure is
        // preserved exactly, text length and NULLs preserved — while
        // every letter and digit changes, so no shingle survives
        // across copies.
        // Affine map i -> i·mult + shift (mod 62): a pure rotation
        // gives only 61 distinct non-identity maps, so factor ≥ 63
        // would alias two copies back into exact duplicates of earlier
        // ones. mult ∈ {1, 3} (both coprime to 62) × shift gives 123
        // distinct non-identity maps — enough for any probe factor.
        val alpha =
          "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
        val n62 = alpha.length
        val (mult, shift) =
          if (k < n62) (1, k) else (3, k - n62 + 1)
        val target = alpha.indices
          .map(i => alpha((i * mult + shift) % n62)).mkString
        shifted.withColumn("text", translate(col("text"), alpha, target))
      case "embeddings" if k > 0 =>
        // Per-copy ±1 SIGN-FLIP pattern, not an additive shift (the
        // additive +k·1e-3 left copies at cosine ≈ 0.9999 of their
        // originals — manufactured near-dup clusters, same probe
        // lesson as the text salt): a diagonal ±1 matrix is
        // ORTHOGONAL, so within-copy angles — and therefore the
        // near-dup/ANN structure each copy carries — are preserved
        // EXACTLY, while cross-copy cosines collapse to ~0 (half the
        // components flip). hash(i, k) keeps the pattern deterministic.
        shifted.withColumn("embedding",
          transform(col("embedding"), (x, i) =>
            when(pmod(hash(i, lit(k)), lit(2)) === 0, x).otherwise(-x)))
      case _ => shifted
    }
  }

  def amplify(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int): Unit = {
    // The affine text salt has 124 distinct maps (mult ∈ {1,3} × shift,
    // identity included): at k = 124 the shift (k−61) wraps mod 62 back
    // onto the k = 62 map, so copies 62 and 124 would become
    // byte-identical translations of the source — silently
    // re-manufacturing the exact-dup clusters the salt exists to prevent
    // (ADVICE r16). Fail loudly instead of corrupting slope evidence.
    require(factor <= 124,
      s"amplify factor $factor exceeds the 124 distinct affine text " +
        "salts; a larger factor would alias copies back into exact " +
        "duplicates — widen the coprime-mult set first")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    keyCols.keys.toSeq.sorted.foreach { name =>
      val src = spark.read.parquet(s"$srcDir/$name.parquet")
      val out = (0 until factor).map(copyK(name, src, _))
        .reduce(_ unionAll _)
      if (name == "events") {
        // events must land as a single FILE, like the driver fixture:
        // the streaming file source's listing can't see a Spark-written
        // events.parquet/ DIRECTORY (TESTDATA gotcha), and the
        // streaming rows are probe targets too. coalesce(1) then lift
        // the lone part file out of the directory.
        val tmp = s"$outDir/_events_tmp"
        out.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-")
            && f.getName.endsWith(".parquet"))
          .getOrElse(sys.error("no part file written for events"))
        val dst = new java.io.File(s"$outDir/events.parquet")
        graft.operators.Scans.rmRecursive(dst)
        require(part.renameTo(dst), "events single-file rename failed")
        graft.operators.Scans.rmRecursive(new java.io.File(tmp))
      } else {
        out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      }
      println(s"[amplify] $name x$factor")
    }
    Seq("nation", "region").foreach { name =>
      spark.read.parquet(s"$srcDir/$name.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[amplify] $name verbatim")
    }
  }

  def main(args: Array[String]): Unit = {
    val (src, out, factor) = (args(0), args(1), args(2).toInt)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    amplify(spark, src, out, factor)
    spark.stop()
  }
}
