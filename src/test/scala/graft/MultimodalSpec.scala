package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** llm_multimodal_decode — the PNG encode→decode round-trip must return
  * exactly the features computable from the source text (PNG is lossless
  * and the render arithmetic is deterministic). The DuckDB oracle asserts
  * the same at sf0.01; this pins it in-JVM at sf0.001 so a codec or
  * arithmetic regression fails fast in the suite. */
class MultimodalSpec extends AnyFunSuite {
  import TestSpark._

  test("decoded PNG features equal the from-text prediction for every doc") {
    val rows = SparkEntry.queries("llm_multimodal_decode")(spark, SF001)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val docs = graft.sources.Tables.documents(spark, SF001)
      .select(col("doc_id"), col("text")).collect()
    assert(docs.length == rows.size)
    docs.foreach { r =>
      val cps = r.getString(1).codePoints().toArray
      val n = cps.length
      val w = (n % 32) + 4
      val h = (n % 24) + 3
      var checksum = 0L
      var i = 0
      while (i < w * h) {
        val b = if (n == 0) 0 else cps(i % n) % 256
        checksum += (i + 1).toLong * b
        i += 1
      }
      assert(rows(r.getLong(0)) == ((w.toLong, h.toLong, w.toLong * h,
        checksum)), s"doc ${r.getLong(0)}")
    }
  }

  test("resized thumbnail features equal the from-text prediction") {
    val rows = SparkEntry.queries("llm_multimodal_resize")(spark, SF001)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val docs = graft.sources.Tables.documents(spark, SF001)
      .select(col("doc_id"), col("text")).collect()
    assert(docs.length == rows.size)
    docs.foreach { r =>
      val cps = r.getString(1).codePoints().toArray
      val n = cps.length
      val w = (n % 32) + 4
      val h = (n % 24) + 3
      var checksum = 0L
      var i = 0
      while (i < 48) {
        val sx = ((i % 8) * w) / 8
        val sy = ((i / 8) * h) / 6
        val src = sy * w + sx
        val b = if (n == 0) 0 else cps(src % n) % 256
        checksum += (i + 1).toLong * b
        i += 1
      }
      assert(rows(r.getLong(0)) == ((w.toLong, h.toLong, checksum)),
        s"doc ${r.getLong(0)}")
    }
  }

  test("frame sampling keeps every even frame exactly once, empty-doc safe") {
    import spark.implicits._
    // Synthetic corpus straddling the edge cases: empty text (2 frames,
    // one sampled, checksum 0), a short doc, and a doc whose frame count
    // is odd vs even.
    val docs = Seq((1L, ""), (2L, "abc"), (3L, "hello world of frames"),
      (4L, "a b c d e f g h i j k l m n o p"))
    val df = docs.toDF("doc_id", "text")
    val tmp = TestSpark.tempDir("graft_frames")
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = SparkEntry.queries("llm_multimodal_framesample")(
      spark, tmp.toString).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    docs.foreach { case (id, text) =>
      val cps = text.codePoints().toArray
      val n = cps.length
      val f = (n % 6) + 2
      var want = 0L
      var sampled = 0L
      (0 until f by 2).foreach { j =>
        sampled += 1
        val lo = (j * n) / f
        val hi = ((j + 1) * n) / f
        want += (j + 1).toLong * (lo until hi).map(cps(_).toLong).sum
      }
      assert(out(id) == ((f.toLong, sampled, want)), s"doc $id")
    }
  }

  test("audio features match an independent PCM recomputation bit-for-bit") {
    val out = SparkEntry.queries("llm_multimodal_audio")(spark, SF001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    val docIds = graft.sources.Tables.documents(spark, SF001)
      .select(col("doc_id")).collect().map(_.getLong(0))
    assert(out.size == docIds.length * 4, "4 frames per document")
    docIds.foreach { id =>
      val k = (id % 7) + 1
      val pcm = (0 until 256).map { t =>
        val phase = (k * t).toDouble / 64.0
        2.0 * (phase - math.floor(phase)) - 1.0
      }
      (0 until 4).foreach { f =>
        val fr = pcm.slice(f * 64, f * 64 + 64)
        val rms = math.sqrt(fr.foldLeft(0.0)((a, x) => a + x * x) / 64.0)
        val zcr = fr.sliding(2).count(p => p(0) * p(1) < 0).toLong
        val (gotRms, gotZcr) = out((id, f.toLong))
        assert(gotRms == rms, s"doc $id frame $f rms")
        assert(gotZcr == zcr, s"doc $id frame $f zcr")
        assert(gotRms > 0.0 && gotRms <= 1.0 && gotZcr <= 63L)
      }
    }
  }
}
