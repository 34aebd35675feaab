package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, count, lit, min}

/** The blocked self-join behind every near-dup operator: each row is
  * indexed under one or more block keys, two rows become a candidate pair
  * only if they share a key, and every candidate is verified exactly —
  * the filter-then-verify scheme of the distributed set-similarity and
  * trajectory similarity joins (PAPERS.md). Work is Σ_blocks C(|block|, 2),
  * never all-pairs; under skew a hot block (a near-dup clique) costs
  * keys-per-row × clique² meetings, the ceiling ScaleStressSpec measures
  * on each production key layout.
  *
  * Verification makes a scheme lossy in one direction only: the output is
  * the exact pair set minus the qualifying pairs that share no key. Each
  * scheme states that per-pair miss probability at the call's threshold,
  * and the build logs it once.
  */
object Blocking {

  /** One operator's block keys.
    *
    * @param scheme    the key scheme, as logged
    * @param missBound P[a pair at the threshold shares no key], computed
    *                  from the call's threshold
    * @param index     (id, key…) rows, one per (row, block)
    * @param probe     the probing side, same columns as `index`: the rows
    *                  expanded to neighbouring blocks, or `index` itself
    *                  when both sides block alike
    * @param meetsOnce the scheme lets a pair share at most one block, so
    *                  the candidates need no dedupe
    * @param admit     a test that every pair passing verify passes, on the
    *                  number of blocks the pair shares and each side's
    *                  least place over those blocks; when set, the last
    *                  column of `index` and `probe` is the row's place in
    *                  its block (any orderable value), not a key */
  final case class Blocks(scheme: String, missBound: String,
      index: DataFrame, probe: DataFrame, meetsOnce: Boolean,
      admit: Option[(Column, Column, Column) => Column] = None)

  /** A miss probability as logged. */
  def bound(p: Double): String = "%.1e".formatLocal(java.util.Locale.ROOT, p)

  /** The verified pairs `(ids._1, ids._2, verdict)` with `ids._1 < ids._2`,
    * each pair once, ordered by the two ids. `payload` is (id, value) with
    * one row per id; `verify` scores two values and `keep` is the
    * threshold on that score.
    *
    * Only (id, key) rows cross the block join, whatever the payload's
    * width. Without `admit` the payload joins each meeting after it, and
    * the verify runs before the dedupe, so the dedupe shuffles kept pairs,
    * not every meeting of a pair that shares several blocks. With `admit`
    * the meetings are grouped per pair first, and only the pairs it passes
    * fetch a payload. */
  def blockedPairs(op: String, blocks: Blocks, payload: DataFrame,
      ids: (String, String), verdict: String)(
      verify: (Column, Column) => Column, keep: Column => Column)
      : DataFrame = {
    System.err.println(s"[graft] $op blocking=${blocks.scheme} " +
      s"miss_bound=${blocks.missBound}")
    val (idA, idB) = ids
    val kept = candidates(blocks, ids).join(payload.toDF(idA, "value_a"), idA)
      .join(payload.toDF(idB, "value_b"), idB)
      .withColumn(verdict, verify(col("value_a"), col("value_b")))
      .filter(keep(col(verdict)))
      .select(col(idA), col(idB), col(verdict))
      // One exchange of the kept pairs before the sort, so the sort's
      // range sampling reads them back instead of re-running the verify.
      .repartition(col(idA), col(idB))
    (if (blocks.meetsOnce) kept else kept.distinct())
      .orderBy(col(idA), col(idB))
  }

  /** The candidates `(ids._1, ids._2)` with `ids._1 < ids._2`: one row per
    * block the two rows share or, with `admit`, one row per pair that
    * passes it. */
  private[graft] def candidates(blocks: Blocks, ids: (String, String))
      : DataFrame = {
    val id +: cols = blocks.index.columns.toSeq
    def of(side: String, c: String) = col(s"$side.$c")
    val met = blocks.probe.as("p")
      .join(blocks.index.as("i"), if (blocks.admit.isEmpty) cols else cols.init)
      .filter(of("p", id) < of("i", id))
    val pair = Seq(of("p", id).as(ids._1), of("i", id).as(ids._2))
    blocks.admit.fold(met.select(pair: _*)) { admit =>
      met.groupBy(pair: _*)
        .agg(count(lit(1)).as("meets"), min(of("p", cols.last)).as("place_a"),
          min(of("i", cols.last)).as("place_b"))
        .filter(admit(col("meets"), col("place_a"), col("place_b")))
        .select(ids._1, ids._2)
    }
  }
}
