package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

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
    *                  the candidates need no dedupe */
  final case class Blocks(scheme: String, missBound: String,
      index: DataFrame, probe: DataFrame, meetsOnce: Boolean)

  /** A miss probability as logged. */
  def bound(p: Double): String = "%.1e".formatLocal(java.util.Locale.ROOT, p)

  /** The verified pairs `(ids._1, ids._2, verdict)` with `ids._1 < ids._2`,
    * each pair once, ordered by the two ids. `payload` is (id, value) with
    * one row per id; `verify` scores two values and `keep` is the
    * threshold on that score.
    *
    * Only (id, key) rows cross the block join, whatever the payload's
    * width. The payload joins each meeting after it, and the verify runs
    * before the dedupe, so the dedupe shuffles kept pairs, not every
    * meeting of a pair that shares several blocks. */
  def blockedPairs(op: String, blocks: Blocks, payload: DataFrame,
      ids: (String, String), verdict: String)(
      verify: (Column, Column) => Column, keep: Column => Column)
      : DataFrame = {
    System.err.println(s"[graft] $op blocking=${blocks.scheme} " +
      s"miss_bound=${blocks.missBound}")
    val (idA, idB) = ids
    val id +: keys = blocks.index.columns.toSeq
    val met = blocks.probe.withColumnRenamed(id, idA)
      .join(blocks.index.withColumnRenamed(id, idB), keys)
      .filter(col(idA) < col(idB))
      .select(col(idA), col(idB))
    val Array(pid, value) = payload.columns
    def side(i: String, v: String) =
      payload.select(col(pid).as(i), col(value).as(v))
    val kept = met.join(side(idA, "value_a"), idA)
      .join(side(idB, "value_b"), idB)
      .withColumn(verdict, verify(col("value_a"), col("value_b")))
      .filter(keep(col(verdict)))
      .select(col(idA), col(idB), col(verdict))
    (if (blocks.meetsOnce) kept else kept.distinct())
      .orderBy(col(idA), col(idB))
  }
}
