package graft

import org.apache.spark.sql.functions._
import graft.operators.{LlmText, LlmVector}
import graft.sources.Tables

/** Measurement harness for the simhash candidate generator: for the EXACT
  * Jaccard ≥ 0.7 near-dup pair set (the llm_dedup_near oracle relation),
  * print the distribution of 64-bit SimHash Hamming distances and whether
  * each pair shares a 16-bit signature chunk (the pigeonhole candidate
  * condition). This is how the verified-exact `llm_dedup_simhash` shipped
  * config was chosen — see the operator scaladoc for the numbers.
  *
  * Usage: runMain graft.SimhashTune [sfDir]
  */
object SimhashTune {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val sigs = docs.select(col("doc_id"),
      org.apache.spark.sql.graft.SimHash64(col("text")).as("sig"))

    val exact = LlmText.ngramPairs(spark, sfDir)
      .filter(col("jaccard") >= 0.7)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

    val withSigs = exact
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int"))
      .withColumn("chunk16_equal",
        (0 until 4).map(i =>
          shiftright(col("sig_a"), i * 16).bitwiseAND(lit(0xffffL)) ===
            shiftright(col("sig_b"), i * 16).bitwiseAND(lit(0xffffL)))
          .reduce(_ || _))
      .withColumn("chunk8_equal",
        (0 until 8).map(i =>
          shiftright(col("sig_a"), i * 8).bitwiseAND(lit(0xffL)) ===
            shiftright(col("sig_b"), i * 8).bitwiseAND(lit(0xffL)))
          .reduce(_ || _))
      .persist()

    val total = withSigs.count()
    println(s"== $sfDir: exact j>=0.7 pairs = $total ==")
    println("hamming distribution:")
    withSigs.groupBy("hamming").count().orderBy("hamming").show(70, false)
    val cov16 = withSigs.filter(col("chunk16_equal")).count()
    val cov8 = withSigs.filter(col("chunk8_equal")).count()
    println(s"covered by 4x16-bit chunks: $cov16 / $total; " +
      s"by 8x8-bit chunks: $cov8 / $total")
    withSigs.filter(!col("chunk8_equal"))
      .orderBy(col("hamming"))
      .show(30, false)
    // Candidate volume for both chunkings (scan/verify cost):
    val nDocs = docs.count()
    val sigsP = sigs.persist()
    for ((bits, nCh) <- Seq((16, 4), (8, 8))) {
      val mask = (1L << bits) - 1
      val chunked = sigsP.select(col("doc_id"),
        posexplode(array((0 until nCh).map(i =>
          shiftright(col("sig"), i * bits).bitwiseAND(lit(mask))): _*))
          .as(Seq("ci", "c")))
      val cands = chunked.alias("a").join(chunked.alias("b"),
          col("a.ci") === col("b.ci") && col("a.c") === col("b.c")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
      println(f"${nCh}x$bits-bit chunk-LSH candidates: $cands " +
        f"(all-pairs ${nDocs * (nDocs - 1) / 2}, " +
        f"frac ${cands.toDouble / (nDocs * (nDocs - 1) / 2)}%.4f)")
    }
    spark.stop()
  }
}
