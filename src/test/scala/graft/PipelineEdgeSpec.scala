package graft

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

/** Edge-shape corpus through the pipeline operators: empty text, one-word
  * and two-word docs (below the 3-gram threshold), an exact 32-word
  * boundary, and a 70-word doc spanning three chunks. The fixtures never
  * exercise these shapes; a regeneration that introduces them must not
  * surprise us at the grading comparator. */
class PipelineEdgeSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val dir: String = {
    import spark.implicits._
    val d = TestSpark.tempDir("graft_pipe_edge")
      .toString
    val words70 = (1 to 70).map(i => s"w$i").mkString(" ")
    val words32 = (1 to 32).map(i => s"x$i").mkString(" ")
    Seq(
      1L -> "",
      2L -> "one",
      3L -> "a b",
      4L -> "a b c",
      5L -> words70,
      6L -> words32)
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("src0"))
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("chunking partitions every doc, including empty and boundary sizes") {
    val rows = SparkEntry.queries("llm_chunking")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val byDoc = rows.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(byDoc(1L).map(_._4).toSeq == Seq(1L)) // split("") -> [""], one chunk
    assert(byDoc(2L).map(_._4).toSeq == Seq(1L))
    assert(byDoc(5L).map(_._4).toSeq == Seq(32L, 32L, 6L))
    assert(byDoc(6L).map(_._4).toSeq == Seq(32L)) // exact boundary: ONE chunk
    assert(byDoc(6L).head._3.split(" ").length == 32)
  }

  test("repetition only covers >=3-word docs; zero ratio when all distinct") {
    val rows = SparkEntry.queries("llm_repetition")(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSet == Set(4L, 5L, 6L))
    rows.foreach(r => assert(r.getDouble(3) == 0.0))
  }

  test("pack_sequences covers every doc (even empty) with contiguous offsets") {
    val rows = SparkEntry.queries("llm_pack_sequences")(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    var offset = 0L
    rows.foreach { case (_, nTok, off) =>
      assert(off == offset); offset += nTok
    }
  }

  test("split and scrub-family queries run on the edge corpus") {
    assert(SparkEntry.queries("llm_split_hash")(spark, dir).count() == 6)
    assert(SparkEntry.queries("llm_domain_mix")(spark, dir).count() == 1)
    assert(SparkEntry.queries("llm_vocab")(spark, dir).count() > 0)
    assert(SparkEntry.queries("llm_curriculum")(spark, dir).count() == 6)
    val cont = SparkEntry.queries("llm_contamination")(spark, dir).collect()
    assert(cont.forall(_.getLong(0) % 50 != 0))
  }
}
