package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LlmText

/** Hot shingles in the n-gram set-similarity join (LlmText.ngramPairs). A
  * shingle shared by k docs would contribute k(k-1)/2 meetings to a plain
  * shingle self-join, so ubiquitous shingles are the skew bomb at 100 TB.
  * The prefix filter defends against them by order (rare shingles first)
  * instead of by dropping postings, so a pair held together by hot
  * shingles must still come out, with exact counts.
  */
class HotShingleCapSpec extends AnyFunSuite {
  import TestSpark._

  private val hot = "the quick brown fox jumps over" // 6 words → 4 shingles

  private def write(dir: String, rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** Docs 1 and 2: the hot phrase plus one unique word each, so their only
    * overlap IS the hot phrase (4 shared of 6 distinct shingles, jaccard
    * 4/6 ≈ 0.67). */
  private val hotPair = Seq(1L -> s"$hot only1", 2L -> s"$hot only2")

  type Row = (Long, Long, Long, Long, Long, Double)

  private def pairsOf(dir: String): Set[Row] =
    LlmText.ngramPairs(spark, dir).collect().map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("n_inter"), r.getAs[Long]("n_a"),
        r.getAs[Long]("n_b"), r.getAs[Double]("jaccard"))).toSet

  /** Local brute force over the same `docShingles` rows: every pair with
    * jaccard ≥ 0.5, computed with the production formula. */
  private def bruteForce(dir: String): Set[Row] = {
    val sets = LlmText.docShingles(spark, dir).collect()
      .groupBy(_.getLong(0))
      .map { case (d, rs) => d -> rs.map(_.getLong(1)).toSet }
      .toSeq.sortBy(_._1)
    (for {
      Seq((a, sa), (b, sb)) <- sets.combinations(2).toSeq
      inter = (sa intersect sb).size.toLong
      (na, nb) = (sa.size.toLong, sb.size.toLong)
      jac = inter.toDouble / (na + nb - inter)
      if jac >= 0.5
    } yield (a, b, inter, na, nb, jac)).toSet
  }

  test("ngramPairs equals brute-force jaccard >= 0.5 on the hot corpus") {
    val dir = TestSpark.tempDir("graft_hotshingle").toString
    // 100, 101: the hot phrase + a 16-word rare tail differing in the last
    // word — a near-dup pair held together by df=2 shingles; 3..10: the
    // hot phrase + distinct tails, padding the hot shingles' df to 12.
    val rare = (1 to 15).map(i => s"r$i").mkString(" ")
    write(dir, hotPair ++ Seq(
      100L -> s"$hot $rare x100",
      101L -> s"$hot $rare x101") ++
      (3L to 10L).map(i => i -> s"$hot u${i}a u${i}b u${i}c u${i}d"))
    val got = pairsOf(dir)
    val expect = bruteForce(dir)
    assert(got == expect,
      s"missed=${expect -- got} extra=${got -- expect}")
    assert(got.exists(r => (r._1, r._2) == (1L, 2L)), s"pairs: $got")
    assert(got.exists(r => (r._1, r._2) == (100L, 101L)), s"pairs: $got")
  }

  test("a pair held together only by a shingle at df > 1024 is found") {
    val dir = TestSpark.tempDir("graft_hotshingle_df").toString
    // 1 100 more docs carry the hot phrase (df 1 102) and a 5-word unique
    // tail: their 9-shingle prefixes are their 5 unique shingles, so the
    // hot shingles' block holds only docs 1 and 2, whose 5-shingle sets
    // keep 2 hot shingles in a 3-shingle prefix.
    write(dir, hotPair ++ (3L until 1103L).map(i =>
      i -> (hot +: (1 to 5).map(w => s"t${i}w$w")).mkString(" ")))
    val hotDf = LlmText.docShingles(spark, dir).groupBy("sh").count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    assert(hotDf == 1102L)
    assert(pairsOf(dir) == Set((1L, 2L, 4L, 5L, 5L, 4.0 / 6)))
  }
}
