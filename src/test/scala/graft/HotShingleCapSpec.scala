package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LlmText

/** VERDICT r1 item 6 — the hot-shingle postings cap in the n-gram
  * set-similarity join (LlmText.ngramPairs maxDf). A shingle shared by k
  * docs contributes k(k-1)/2 join pairs, so ubiquitous shingles are the
  * skew bomb at 100 TB; the cap drops their postings while keeping set
  * sizes exact. The synthetic corpus here has a hot 6-word phrase in every
  * doc (df = 12 > cap = 8) plus rare per-doc tails (df = 2), so the capped
  * regime is actually exercised — the fixture corpora never reach the
  * default cap (max df 25 at sf0.1 vs default 1024).
  */
class HotShingleCapSpec extends AnyFunSuite {
  import TestSpark._

  private val hot = "the quick brown fox jumps over" // 6 words → 4 shingles

  /** 12 docs, all starting with the hot phrase:
    *  - 1, 2: hot + one unique word — their only overlap IS the hot phrase
    *    (jaccard 4/6 ≈ 0.67 uncapped, 0 once hot postings are dropped)
    *  - 100, 101: hot + a 16-word rare tail differing in the last word —
    *    a genuine near-dup pair held together by df=2 shingles
    *  - 3..10: hot + distinct tails, padding the hot shingles' df to 12
    */
  private def corpus(dir: String): Unit = {
    import spark.implicits._
    val rare = (1 to 15).map(i => s"r$i").mkString(" ")
    val rows = Seq(
      1L -> s"$hot only1",
      2L -> s"$hot only2",
      100L -> s"$hot $rare x100",
      101L -> s"$hot $rare x101") ++
      (3L to 10L).map(i => i -> s"$hot u${i}a u${i}b u${i}c u${i}d")
    rows.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def pairsAt(dir: String, maxDf: Int): Map[(Long, Long), Row] =
    LlmText.ngramPairs(spark, dir, maxDf)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r)
      .toMap

  type Row = org.apache.spark.sql.Row

  test("cap drops pairs glued only by hot shingles, keeps genuine near-dups") {
    val dir = TestSpark.tempDir("graft_hotshingle")
      .toString
    corpus(dir)
    val uncapped = pairsAt(dir, maxDf = 1024)
    val capped = pairsAt(dir, maxDf = 8)

    // Uncapped: the hot-only pair (1,2) qualifies — overlap 4 hot shingles
    // of 5 total each — and so does the rare-tail pair (100,101).
    assert(uncapped.contains((1L, 2L)), s"uncapped pairs: ${uncapped.keys}")
    assert(uncapped.contains((100L, 101L)))

    // Capped at 8 < df(hot)=12: hot postings are gone, so (1,2) has no
    // surviving intersection; (100,101) still shares its 14 df=2 shingles.
    assert(!capped.contains((1L, 2L)),
      s"hot-only pair must not survive the cap: ${capped.keys}")
    assert(capped.contains((100L, 101L)))

    // Set sizes stay exact under the cap (denominators from the uncapped
    // index): the surviving pair reports identical n_a/n_b either way, and
    // its capped intersection can only shrink.
    val (u, c) = (uncapped((100L, 101L)), capped((100L, 101L)))
    assert(u.getAs[Long]("n_a") == c.getAs[Long]("n_a"))
    assert(u.getAs[Long]("n_b") == c.getAs[Long]("n_b"))
    assert(c.getAs[Long]("n_inter") <= u.getAs[Long]("n_inter"))
  }

  test("default cap is output-identical on the sf0.001 fixture") {
    val a = LlmText.ngramPairs(spark, SF001).collect().map(_.toString).sorted
    val b = LlmText.ngramPairs(spark, SF001, maxDf = Int.MaxValue)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }
}
