package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Spec
import graft.sources.Tables

/** SURVEY.md §2.10 — vector-similarity and multimodal side of the LLM
  * pipeline: brute-force cosine top-k (the correctness baseline), LSH
  * bucketed ANN (the 100 TB path), embedding near-dup, MinHash+LSH and
  * SimHash near-dup, and the multimodal binary-column pipeline.
  *
  * Cross-engine float rule: cosine is computed as an explicit sequential
  * left-fold in DOUBLE (cast each float first) — Spark's `aggregate` HOF
  * and DuckDB's `list_reduce` then execute the identical IEEE op sequence,
  * so scores are bit-identical and even raw doubles hash-match.
  */
object LlmVector {
  def specs: Seq[Spec] = Seq(cosineTopk, dedupEmbed, orTablesSpec,
    annLsh, annIvf, annIvfPq, dedupMinhash, dedupSimhash, multimodalStruct,
    multimodalDecode, embedQuantize, semDedup, semDedupScaledSpec)

  /** Int8 embedding quantization — the 4× memory/bandwidth lever every
    * 100 TB vector store pulls: q = ⌊clip(x·127, ±127)⌋ per component,
    * entirely as codegen'd array expressions (transform + aggregate +
    * filter), no UDF, map-only (no shuffle; the per-vector checksum and
    * clip count stand in for the quantized payload so the oracle can
    * hash-match without array-typed output columns). floor and min/max are
    * exact in both engines (no libm); float→double widening is exact, so
    * parity is bit-for-bit. */
  private val embedQuantize = Spec(
    "llm_embed_quantize",
    """SELECT vec_id,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(embedding,
      |      x -> CAST(floor(least(greatest(CAST(x AS DOUBLE) * 127.0,
      |        -127.0), 127.0)) AS BIGINT))),
      |    (a, b) -> a + b) AS BIGINT) AS q_sum,
      |  CAST(len(list_filter(embedding,
      |    x -> abs(CAST(x AS DOUBLE) * 127.0) > 127.0)) AS BIGINT)
      |    AS n_clipped
      |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, d) =>
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        aggregate(
          transform(col("embedding"),
            x => floor(least(greatest(x.cast("double") * 127.0d, lit(-127.0d)),
              lit(127.0d))).cast("long")),
          lit(0L), (acc, q) => acc + q).as("q_sum"),
        size(filter(col("embedding"),
          x => abs(x.cast("double") * 127.0d) > 127.0d)).cast("long")
          .as("n_clipped"))
      .orderBy(col("vec_id"))
  }

  /** Sequential cosine between two float-array columns, in double, via the
    * native codegen'd Catalyst expression
    * [[org.apache.spark.sql.graft.CosineSimilarity]] (see its scaladoc for
    * why neither HOFs nor a UDF survive at scale). Accumulation is a strict
    * left fold, bit-identical to the DuckDB `list_reduce` oracle mirror
    * below. */
  def cosineCol(a: String, b: String): Column =
    org.apache.spark.sql.graft.CosineSimilarity(col(a), col(b))

  /** Same loop as the [[cosineCol]] expression over primitive arrays
    * (shared by the broadcast all-pairs path). */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length) // same truncation as the expression
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** DuckDB mirror of [[cosineCol]] (same fold order ⇒ same bits). */
  def cosineSql(a: String, b: String): String = {
    def fold(e: String) = s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $e), (x, y) -> x + y)"
    val dot = fold(s"list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))")
    val na = fold(s"list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))")
    val nb = fold(s"list_transform(generate_series(1, len($b)), i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))")
    s"($dot / (sqrt($na) * sqrt($nb)))"
  }

  /** Brute-force cosine top-5 per probe (probe set = vec_id < 10) — the
    * exact baseline every ANN variant is measured against. The crossJoin is
    * probe-bounded (10 × corpus), so at 100 TB it is a broadcast of the
    * probes over a single corpus scan — linear, not quadratic. */
  private val cosineTopk = Spec(
    "llm_cosine_topk",
    s"""WITH probes AS (
       |  SELECT vec_id AS probe_id, embedding AS pe FROM embeddings
       |  WHERE vec_id < 10),
       |scored AS (
       |  SELECT probe_id, vec_id AS neighbor_id,
       |    ${cosineSql("pe", "embedding")} AS score
       |  FROM probes CROSS JOIN embeddings
       |  WHERE vec_id <> probe_id),
       |ranked AS (
       |  SELECT probe_id, neighbor_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id
       |                       ORDER BY score DESC, neighbor_id) AS rk
       |  FROM scored)
       |SELECT probe_id, rk, neighbor_id, score FROM ranked WHERE rk <= 5
       |ORDER BY probe_id, rk""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val win = Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    broadcast(probes).crossJoin(
        emb.select(col("vec_id").as("neighbor_id"), col("embedding")))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .withColumn("score", cosineCol("pe", "embedding"))
      .withColumn("rk", row_number().over(win))
      .filter(col("rk") <= 5)
      .select(col("probe_id"), col("rk"), col("neighbor_id"), col("score"))
      .orderBy(col("probe_id"), col("rk"))
  }

  /** Embedding-cosine near-duplicate pairs (score ≥ 0.99): hyperplane-LSH
    * block keys, then the exact sequential-fold cosine on each candidate
    * ([[embedNearDupPairs]]). The oracle stays the brute-force SQL; the
    * registered row runs the multiprobe scheme at every fixture sf. */
  private val dedupEmbed = Spec(
    "llm_dedup_embed",
    s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ${cosineSql("a.embedding", "b.embedding")} AS score
       |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |WHERE ${cosineSql("a.embedding", "b.embedding")} >= 0.99
       |ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
    embedNearDupPairs(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")), 0.99)
  }

  /** Embedding near-dup pairs over (vec_id, embedding) rows, so tests can
    * run it on synthetic borderline corpora. Parity with the brute-force
    * oracle is probabilistic: a qualifying pair that shares no block is
    * missed, with the per-pair probability each scheme logs.
    *
    * Density dispatch: the 8-plane multiprobe has only 256 buckets, so its
    * candidate mass is ~163·n²/256 — quadratic once buckets fill, and more
    * planes cannot help (holding its miss bound forces the probe radius,
    * and its C(p, r) probe count, up as fast as the buckets shrink). Up to
    * 32 vectors per bucket it keeps its tighter bound and its
    * deterministic recovery of BorderlineParitySpec's adversarial pair;
    * past that the AND-OR tables take over, whose candidate mass is
    * linear in n and whose bound holds over the hyperplane randomness
    * only — checked by BorderlineParitySpec's brute-force parity and the
    * `llm_dedup_embed_ortables` oracle row. The count() is one cheap pass
    * on a job that is all-pairs-shaped anyway. */
  def embedNearDupPairs(vecs: DataFrame, threshold: Double): DataFrame = {
    val n = vecs.count()
    if (n <= 256L * 32) embedNearDupMultiprobe(vecs, threshold)
    else embedNearDupOrTables(vecs, threshold, n)
  }

  private def embedPairs(op: String, blocks: Blocking.Blocks,
      vecs: DataFrame, threshold: Double): DataFrame =
    Blocking.blockedPairs(op, blocks,
      vecs.select(col("vec_id"), col("embedding")), ("vec_a", "vec_b"),
      "score")(org.apache.spark.sql.graft.CosineSimilarity(_, _),
      _ >= threshold)

  private[graft] def embedNearDupMultiprobe(vecs: DataFrame,
      threshold: Double): DataFrame =
    embedPairs("embedNearDupMultiprobe", multiprobeBlocks(vecs, threshold),
      vecs, threshold)

  /** P[one random hyperplane separates two vectors at cosine θ]. */
  private def planeFlip(threshold: Double): Double =
    math.acos(threshold) / math.Pi

  /** The small-corpus scheme: one 8-plane table, and the probing side
    * expands to every bucket within `lshRadius` sign flips of its own. Each
    * probed bucket is the own bucket XOR one distinct mask, so two buckets
    * meet through at most one mask and a pair meets at most once. A
    * qualifying pair is missed only if more than `lshRadius` of the planes
    * separate it: ≈ 1e-5 at cos ≥ 0.99, the price of 163 probed buckets
    * per row. */
  private[graft] def multiprobeBlocks(vecs: DataFrame,
      threshold: Double): Blocking.Blocks = {
    val own = vecs.select(col("vec_id"),
      org.apache.spark.sql.graft.HyperplaneBucket(col("embedding"), nPlanes, 0)
        .as("bucket"))
    val probe = own.select(col("vec_id"),
      explode(array(probeBuckets(nPlanes, lshRadius)
        .map(f => f(col("bucket"))): _*)).as("bucket"))
    val eps = planeFlip(threshold)
    def choose(k: Int) =
      (1 to k).foldLeft(1.0)((c, i) => c * (nPlanes - k + i) / i)
    val miss = (lshRadius + 1 to nPlanes).map(k =>
      choose(k) * math.pow(eps, k) * math.pow(1 - eps, nPlanes - k)).sum
    Blocking.Blocks(s"multiprobe(planes=$nPlanes,radius=$lshRadius)",
      Blocking.bound(miss), own, probe, meetsOnce = true)
  }

  /** The large-corpus scheme: T independent tables of b planes each (AND
    * within a table, OR across tables — Indyk/Motwani), b and T from
    * [[orTableParams]]. Candidate mass stays ~T·8·n, linear in n at any
    * density. The miss bound (1−(1−ε)^b)^T holds over the hyperplane
    * randomness only — no deterministic recovery of adversarial geometry,
    * the standard trade of production-scale LSH dedup and the reason the
    * small-corpus scheme stays. A pair can share a bucket in several
    * tables. */
  private[graft] def embedNearDupOrTables(vecs: DataFrame,
      threshold: Double, n: Long): DataFrame = {
    val (b, tables) = orTableParams(n, threshold)
    val index = vecs.select(col("vec_id"),
      explode(array((0 until tables).map(t => struct(lit(t).as("t"),
        org.apache.spark.sql.graft.HyperplaneBucket(
          col("embedding"), b, t).as("bkt"))): _*)).as("tb"))
    val miss = math.pow(1 - math.pow(1 - planeFlip(threshold), b), tables)
    embedPairs("embedNearDupOrTables",
      Blocking.Blocks(s"or-tables(n=$n,b=$b,T=$tables)", Blocking.bound(miss),
        index, index, meetsOnce = false),
      vecs, threshold)
  }

  /** AND-OR table parameters for n vectors at `threshold`: b planes per
    * table (AND within a table) grown to hold per-bucket occupancy at
    * ~8, but CAPPED AT 31: [[org.apache.spark.sql.graft
    * .HyperplaneBucketImpl]] packs one sign bit per plane into an Int
    * with `sig |= (1 << p)`, and Java's shift-mod-32 would silently
    * alias plane p with plane p−32 past b = 31 — bucket bits become ORs
    * of two sign bits, voiding both the ~8/bucket occupancy claim and
    * the miss-bound derivation. Past the cap (n > 8·2³¹ ≈ 1.7e10
    * vectors) occupancy grows as n/2³¹ instead of holding — candidate
    * mass ~T·n·(n/2³¹), still effectively linear into the tens of
    * billions of vectors a single dedup job would ever hold before
    * sharding — while the miss bound self-adjusts: `tables` is computed
    * from the ACTUAL b, so a capped b gives a smaller per-table survive
    * probability and therefore MORE tables, keeping
    * (1−(1−ε)^b)^T ≤ 1e-4 exactly. BorderlineParitySpec pins b ≤ 31 at
    * extreme n and the T-compensation monotonicity. */
  private[graft] def orTableParams(n: Long, threshold: Double): (Int, Int) = {
    val b = math.min(31, math.max(nPlanes,
      math.ceil(math.log(n / 8.0) / math.log(2)).toInt))
    val survive = math.pow(1 - planeFlip(threshold), b)
    val tables = math.max(2,
      math.ceil(math.log(1e-4) / math.log1p(-survive)).toInt)
    (b, tables)
  }

  /** The forced density for [[orTablesSpec]]: 8·2¹² = 32768 vectors →
    * b = 12 planes, T = 11 tables by the production formula — chosen so
    * the registered row exercises the REAL large-corpus construction
    * (several tables, a wider-than-multiprobe signature) at every
    * fixture sf. */
  private val orTablesForcedN = 32768L

  /** Exact DuckDB replay of the AND-OR candidate generation: the density
    * dispatch routes the registered `llm_dedup_embed` through the
    * multiprobe scheme at every fixture sf, so without this row the
    * production-scale OR-tables scheme would be scalatest-only. This
    * oracle pins the construction itself, the way the annLsh replay
    * does: the literal ±1 sign matrix for all T·b planes as a VALUES
    * table, the bit-exact sequential dot fold (`list_reduce` over
    * `list(... ORDER BY dim)` prepended with 0.0 — the [[cosineSql]]
    * determinism contract; sign·float is an IEEE negation, never a
    * rounding), per-(vec, table) buckets via SUM(1 << p), candidates =
    * DISTINCT pairs sharing (table, bucket), then the exact-cosine ≥
    * threshold verify. Because the oracle replays candidate GENERATION,
    * parity is exact — no dependence on the probabilistic recall bound.
    * Domain restriction (same as the annLsh replay): the sign matrix
    * covers dims 0..63, the fixture embedding width. (b, T) come from
    * the same [[orTableParams]] call the engine makes, so the two
    * engines agree on the parameters by construction. */
  private def orTablesOracleSql: String = {
    val (b, tables) = orTableParams(orTablesForcedN, 0.99)
    def fold(l: String) =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $l), (x, y) -> x + y)"
    val signRows = (0 until tables * b).map { plane =>
      val ss = (0 until 64)
        .map(dm => if (hyperplaneSign(plane, dm) > 0) '+' else '-').mkString
      s"($plane, '$ss')"
    }.mkString(", ")
    s"""WITH dims AS (SELECT unnest(generate_series(0, 63)) AS dim),
       |sgns AS (SELECT * FROM (VALUES $signRows) sg(plane, ss)),
       |slong AS (
       |  SELECT plane, dim,
       |    CASE WHEN substring(ss, dim + 1, 1) = '+' THEN CAST(1.0 AS DOUBLE)
       |         ELSE CAST(-1.0 AS DOUBLE) END AS sgn
       |  FROM sgns, dims),
       |elong AS (
       |  SELECT vec_id, dim, CAST(embedding[dim + 1] AS DOUBLE) AS val
       |  FROM embeddings, dims WHERE dim < len(embedding)),
       |dots AS (
       |  SELECT vec_id, plane // $b AS tbl, plane % $b AS p,
       |    ${fold("list(sgn * val ORDER BY dim)")} AS dot
       |  FROM elong JOIN slong USING (dim)
       |  GROUP BY vec_id, plane),
       |buckets AS (
       |  SELECT vec_id, tbl,
       |    CAST(SUM(CASE WHEN dot > 0 THEN 1 << p ELSE 0 END) AS BIGINT)
       |      AS bucket
       |  FROM dots GROUP BY vec_id, tbl),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM buckets a JOIN buckets b USING (tbl, bucket)
       |  WHERE a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b,
       |  ${cosineSql("ea.embedding", "eb.embedding")} AS score
       |FROM cand JOIN embeddings ea ON ea.vec_id = vec_a
       |  JOIN embeddings eb ON eb.vec_id = vec_b
       |WHERE ${cosineSql("ea.embedding", "eb.embedding")} >= 0.99
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  private val orTablesSpec = Spec(
    "llm_dedup_embed_ortables", orTablesOracleSql) { (s, d) =>
    embedNearDupOrTables(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      0.99, orTablesForcedN)
  }

  /** Deterministic random-hyperplane signs for LSH: ±1 per (plane, dim).
    * Murmur-style avalanche, NOT a linear congruential form: a linear form
    * makes sign(p + k, d) a fixed transform of sign(p, d) for some strides
    * k (a linear form gave sign(p+8, d) == -sign(p, d), so a "second hash
    * table" partitioned space identically to the first — double the scan,
    * zero recall gained). */
  def hyperplaneSign(plane: Int, dim: Int): Int = {
    var h = plane.toLong * 0x9E3779B97F4A7C15L + dim.toLong * 0xC2B2AE3D27D4EB4FL
    h ^= (h >>> 33); h *= 0xff51afd7ed558ccdL; h ^= (h >>> 33)
    if ((h & 1L) == 0L) 1 else -1
  }

  private val nPlanes = 8
  private val lshRadius = 4 // dedup_embed's multiprobe radius

  /** llm_ann_lsh's config, chosen by the AnnTune sweep for query-directed
    * probing (see [[lshTopkDirected]]): 8 tables × the 12 margin-cheapest
    * flip sets measure recall@5 0.86 at a 43.3 % scan on sf0.1 — the
    * first LSH point with recall ≥ 0.85 under half the corpus (blind
    * radius-2 probing paid a 60 % scan for 0.88). Across
    * fixtures: 0.86 @ 41.5 % at sf0.01, and 0.80 floor-exact at sf0.001
    * (the IVF-documented small-N pattern: 10 probes × 5 neighbors over
    * 50 vectors leaves no statistical room; deterministic, so not
    * flaky). Neighboring sweep points: (np=14, t=8) 0.86 @ 50 %,
    * (np=28, t=4) 0.88 @ 47 % on sf0.1 but 0.74–0.78 on the small
    * fixtures. dedup_embed keeps its OWN blind radius-4 single-table
    * config above: its miss-probability argument is per-pair, not
    * top-k, and is not transferable. */
  private val annLshProbes = 12
  private val annLshTables = 8

  /** Multi-probe bucket set: the probe's own bucket plus every bucket
    * within `radius` sign-bit flips — the standard trick to recover recall
    * without rescanning the corpus. Each candidate bucket is the XOR with
    * one distinct mask, so a pair of buckets meets through at most one
    * flip. */
  private def probeBuckets(planes: Int, radius: Int): Seq[Column => Column] =
    (0 until (1 << planes))
      .filter(m => Integer.bitCount(m) <= radius)
      .map(f => (b: Column) => b.bitwiseXOR(lit(f)))

  /** QUERY-DIRECTED multi-probe (the Lv et al. multi-probe LSH idea,
    * margin-ordered perturbation sets): instead of probing EVERY bucket
    * within a Hamming radius — blind probing pays for C(planes, ≤r)
    * buckets, most of which the neighbor was never likely to be in — rank
    * each candidate flip-set by the summed |margin| of its flipped
    * planes. A plane only separates the query from a true neighbor when
    * the query sits close to it (small |dot|), so the neighbor's
    * flip-set mass concentrates on exactly the masks this ordering
    * probes first, and the same recall costs strictly fewer probed
    * buckets on every geometry.
    *
    * Per (probe, table): margins = plane·query dots, all 2^planes masks
    * scored by Σ|margin(flipped)|, keep the `nProbes` cheapest (mask 0 —
    * the query's own bucket — scores 0 and is always first). Computed on
    * the DRIVER for the fixed 10-probe set (bounded, like IVF's training
    * sample: 10 × 2^planes ops, data-size-independent) and broadcast
    * into the bucket equi-join, which stays the only distributed work.
    * Bucket bit p must mirror [[org.apache.spark.sql.graft
    * .HyperplaneBucketImpl]] exactly: plane index = table · planes + p,
    * sign from [[hyperplaneSign]] — IvfSpec/LlmSpec recall floors would
    * catch a drift as a recall collapse. */
  def lshTopkDirected(s: SparkSession, emb: DataFrame, planes: Int,
      nProbes: Int, tables: Int, rank: Boolean = true): DataFrame = {
    import s.implicits._
    val probeRows = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val probeBucketRows: Seq[(Long, Int, Int)] = for {
      (pid, e) <- probeRows.toSeq
      t <- 0 until tables
      margins = Array.tabulate(planes) { p =>
        var dot = 0.0; var i = 0
        while (i < e.length) {
          dot += hyperplaneSign(t * planes + p, i) * e(i); i += 1
        }
        dot
      }
      own = margins.zipWithIndex.foldLeft(0) { case (b, (m, p)) =>
        if (m > 0) b | (1 << p) else b
      }
      mask <- (0 until (1 << planes))
        .sortBy { m =>
          var c = 0.0; var p = 0
          while (p < planes) {
            if ((m & (1 << p)) != 0) c += math.abs(margins(p)); p += 1
          }
          c
        }
        .take(nProbes)
    } yield (pid, t, own ^ mask)
    val probes = probeBucketRows.toDF("probe_id", "tbl", "bucket")
    val bucketed = bucketedCorpus(emb, planes, tables)
    val pe = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val cands = broadcast(probes).join(bucketed, Seq("tbl", "bucket"))
      .join(broadcast(pe), Seq("probe_id"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .withColumn("score", cosineCol("pe", "embedding"))
    dedupAcrossTablesAndRank(cands, tables, rank)
  }

  /** The (tbl, bucket)-exploded corpus — ONE definition of the LSH bucket
    * layout, shared by the blind ([[lshTopk]]) and query-directed
    * ([[lshTopkDirected]]) probing paths so they cannot diverge. */
  private def bucketedCorpus(emb: DataFrame, planes: Int,
      tables: Int): DataFrame = {
    val tb = (0 until tables).map(t => struct(lit(t).as("t"),
      org.apache.spark.sql.graft.HyperplaneBucket(col("embedding"), planes, t)
        .as("b")))
    emb.select(col("vec_id").as("neighbor_id"), col("embedding"),
        explode(array(tb: _*)).as("tb"))
      .select(col("neighbor_id"), col("embedding"),
        col("tb.t").as("tbl"), col("tb.b").as("bucket"))
  }

  /** Shared candidate tail for both LSH paths: a pair can meet once per
    * table (within one table the probed buckets are distinct and a
    * neighbor occupies exactly one), so multi-table sets collapse on max
    * score before ranking; `rank = false` returns the raw scored set so
    * AnnTune can measure the scan fraction. */
  private def dedupAcrossTablesAndRank(cands: DataFrame, tables: Int,
      rank: Boolean): DataFrame = {
    if (!rank)
      return cands.select(col("probe_id"), col("neighbor_id"), col("score"))
    val deduped =
      if (tables == 1) cands
      else cands.groupBy(col("probe_id"), col("neighbor_id"))
        .agg(max(col("score")).as("score"))
    rankTop5(deduped, rank = true)
  }

  /** Parameterized LSH top-k search (shared by the registered query and the
    * AnnTune recall/scan-fraction sweep; `rank = false` returns the raw
    * scored candidates so the sweep can measure the scan fraction).
    * `tables` unions that many independent hyperplane sets: a true
    * neighbor is missed only if EVERY table separates the pair by more
    * than `radius` sign bits, so misses multiply while scan cost adds. */
  def lshTopk(emb: DataFrame, planes: Int, radius: Int,
      tables: Int = 1, rank: Boolean = true): DataFrame = {
    val bucketed = bucketedCorpus(emb, planes, tables)
    val probes = bucketed.filter(col("neighbor_id") < 10)
      .select(col("neighbor_id").as("probe_id"), col("embedding").as("pe"),
        col("tbl"),
        explode(array(probeBuckets(planes, radius)
          .map(f => f(col("bucket"))): _*)).as("bucket"))
    val cands = probes.join(bucketed, Seq("tbl", "bucket"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .withColumn("score", cosineCol("pe", "embedding"))
    dedupAcrossTablesAndRank(cands, tables, rank)
  }

  /** Shared per-probe top-5 ranking over scored candidates (package-open
    * so AnnTune can rank a persisted raw candidate set without re-running
    * candidate generation). */
  private[graft] def rankTop5(cands: DataFrame, rank: Boolean): DataFrame = {
    if (!rank)
      return cands.select(col("probe_id"), col("neighbor_id"), col("score"))
    val win = Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    cands
      .withColumn("rk", row_number().over(win))
      .filter(col("rk") <= 5)
      .select(col("probe_id"), col("rk"), col("neighbor_id"), col("score"))
      .orderBy(col("probe_id"), col("rk"))
  }

  /** ANN via random-hyperplane LSH: bucket every vector once (linear scan),
    * then search probes only in nearby buckets — the shuffle is an
    * equi-join on the bucket id instead of a crossJoin. Recall < 1 by
    * construction; the bench reports recall@5 (`ann_recall`) next to the
    * exact baseline and LlmSpec asserts the ≥ 0.8 floor.
    *
    * Shipped config (AnnTune sweep): 8 planes, EIGHT independent
    * hash tables, QUERY-DIRECTED probing of the 12 margin-cheapest flip
    * sets per (probe, table) — measured recall@5 0.86 at a 43.3 % scan
    * fraction on sf0.1; blind radius-2 probing paid a 60 % scan for
    * 0.88. The fixture geometry is near-orthogonal
    * (top-5 neighbors at cosine ≈ 0.37 over a ≈ 0 background), LSH's
    * worst case — the scan fraction for a given recall falls fast as
    * real embedding corpora cluster. The data-adaptive IVF below still
    * holds the better frontier on this geometry (0.90 at 40 %). */
  /** Exact DuckDB replay of [[lshTopkDirected]], so the row is
    * hash-checked rather than skipped as oracle-less. The pipeline is deterministic end to
    * end, so the oracle recomputes ALL of it rather than a weaker partial
    * check:
    *  - the hyperplane sign matrix is data-INdependent (a pure function of
    *    (plane, dim) — [[hyperplaneSign]]), so all tables·planes = 64
    *    sign rows ride in the SQL as '+'/'-' string literals;
    *  - every float accumulation (plane dots/margins, probe-mask costs,
    *    cosine) is a strict ascending left fold from 0.0 in the Scala and
    *    codegen paths, replayed bit-exactly with
    *    `list_reduce(list_prepend(0.0, list(t ORDER BY i)), +)` — the
    *    [[cosineSql]] determinism contract extended to the whole pipeline.
    *    The per-term products are exact by construction: sign·e_i is an
    *    IEEE negation, never a rounding;
    *  - the driver's margin-ordered flip-set selection (stable sortBy cost,
    *    take nProbes — ties keep mask order) is `ROW_NUMBER() OVER (ORDER
    *    BY cost, mask) <= nProbes`;
    *  - Spark's across-tables `max(score)` dedup collapses identical
    *    doubles, so `SELECT DISTINCT` on the pair is the same set.
    * Domain restriction (like the simhash BMP note): the literal sign
    * matrix covers dims 0..63 — the fixture's embedding width. */
  private def annLshOracleSql: String = {
    val planes = nPlanes; val tables = annLshTables; val nProbes = annLshProbes
    def fold(l: String) =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $l), (x, y) -> x + y)"
    val signRows = (0 until tables * planes).map { plane =>
      val ss = (0 until 64)
        .map(dm => if (hyperplaneSign(plane, dm) > 0) '+' else '-').mkString
      s"($plane, '$ss')"
    }.mkString(", ")
    s"""WITH dims AS (SELECT unnest(generate_series(0, 63)) AS dim),
       |sgns AS (SELECT * FROM (VALUES $signRows) sg(plane, ss)),
       |slong AS (
       |  SELECT plane, dim,
       |    CASE WHEN substring(ss, dim + 1, 1) = '+' THEN CAST(1.0 AS DOUBLE)
       |         ELSE CAST(-1.0 AS DOUBLE) END AS sgn
       |  FROM sgns, dims),
       |elong AS (
       |  SELECT vec_id, dim, CAST(embedding[dim + 1] AS DOUBLE) AS val
       |  FROM embeddings, dims WHERE dim < len(embedding)),
       |dots AS (
       |  SELECT vec_id, plane // $planes AS tbl, plane % $planes AS p,
       |    ${fold("list(sgn * val ORDER BY dim)")} AS dot
       |  FROM elong JOIN slong USING (dim)
       |  GROUP BY vec_id, plane),
       |buckets AS (
       |  SELECT vec_id AS neighbor_id, tbl,
       |    CAST(SUM(CASE WHEN dot > 0 THEN 1 << p ELSE 0 END) AS BIGINT)
       |      AS bucket
       |  FROM dots GROUP BY vec_id, tbl),
       |masks AS (SELECT unnest(generate_series(0, ${(1 << planes) - 1}))
       |            AS mask),
       |mcost AS (
       |  SELECT vec_id AS probe_id, tbl, mask,
       |    ${fold(s"list(CASE WHEN ((mask >> p) & 1) = 1 THEN abs(dot)" +
                 " ELSE CAST(0.0 AS DOUBLE) END ORDER BY p)")} AS cost
       |  FROM dots, masks WHERE vec_id < 10
       |  GROUP BY vec_id, tbl, mask),
       |sel AS (
       |  SELECT probe_id, tbl, mask FROM mcost
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY probe_id, tbl
       |                             ORDER BY cost, mask) <= $nProbes),
       |pbkt AS (
       |  SELECT s.probe_id, s.tbl, xor(b.bucket, CAST(s.mask AS BIGINT))
       |      AS bucket
       |  FROM sel s JOIN buckets b
       |    ON b.neighbor_id = s.probe_id AND b.tbl = s.tbl),
       |cand AS (
       |  SELECT DISTINCT p.probe_id, b.neighbor_id
       |  FROM pbkt p JOIN buckets b USING (tbl, bucket)
       |  WHERE b.neighbor_id <> p.probe_id),
       |pemb AS (SELECT vec_id AS probe_id, embedding AS pe
       |         FROM embeddings WHERE vec_id < 10),
       |scored AS (
       |  SELECT c.probe_id, c.neighbor_id,
       |    ${cosineSql("pe", "embedding")} AS score
       |  FROM cand c JOIN pemb USING (probe_id)
       |    JOIN embeddings e ON e.vec_id = c.neighbor_id),
       |ranked AS (
       |  SELECT probe_id, neighbor_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id
       |                       ORDER BY score DESC, neighbor_id) AS rk
       |  FROM scored)
       |SELECT probe_id, rk, neighbor_id, score FROM ranked WHERE rk <= 5
       |ORDER BY probe_id, rk""".stripMargin
  }

  private val annLsh = Spec("llm_ann_lsh", annLshOracleSql) { (s, d) =>
    lshTopkDirected(s, Tables.embeddings(s, d), nPlanes,
      annLshProbes, annLshTables)
  }

  // ---------------------------------------------------------------- IVF ANN

  private val ivfK = 48
  private val ivfNProbe = 19
  private val ivfSampleCap = 2048
  private val ivfIters = 8

  /** L2-normalize in place-free style; zero vectors pass through. */
  private def normalized(v: Array[Double]): Array[Double] = {
    var n = 0.0; var i = 0
    while (i < v.length) { n += v(i) * v(i); i += 1 }
    val s = math.sqrt(n)
    if (s == 0) v else v.map(_ / s)
  }

  private def dot(a: Array[Double], b: Seq[Float]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Cells of `e` ordered by centroid dot product (descending; ties to the
    * lower cell index — ascending scan with strict >). Centroids are unit
    * vectors, so the dot ranking equals the cosine ranking. */
  def topCells(cents: Array[Array[Double]], e: Seq[Float], n: Int): Seq[Int] = {
    val scored = cents.indices.map(j => (j, dot(cents(j), e)))
    scored.sortBy { case (j, s) => (-s, j) }.take(n).map(_._1)
  }

  /** Spherical k-means (Lloyd) coarse quantizer, trained on a DETERMINISTIC
    * BOUNDED sample: the `sampleCap` lowest vec_ids — independent of
    * partitioning, and a fixed O(sampleCap · k · dim) driver cost however
    * large the corpus (the standard IVF recipe: train the quantizer
    * centrally on a sample, broadcast it, assign distributed; at 100 TB the
    * training happens once offline, not per query). Init spreads k seeds
    * evenly across the sample; an emptied cell keeps its previous centroid;
    * centroids are re-normalized every round so dot == cosine. */
  def ivfCentroids(emb: DataFrame, k: Int = ivfK,
      sampleCap: Int = ivfSampleCap, iters: Int = ivfIters)
      : Array[Array[Double]] = {
    val xs = emb.orderBy(col("vec_id")).limit(sampleCap)
      .select(col("embedding")).collect()
      .map(r => normalized(r.getSeq[Float](0).toArray.map(_.toDouble)))
    require(xs.nonEmpty, "ivfCentroids: empty corpus")
    val kk = math.min(k, xs.length)
    val dim = xs.head.length
    var cents = Array.tabulate(kk)(j => xs(j * xs.length / kk).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Int](kk)
      xs.foreach { x =>
        var c = 0; var best = Double.NegativeInfinity; var j = 0
        while (j < kk) {
          var s = 0.0; var i = 0
          while (i < dim) { s += cents(j)(i) * x(i); i += 1 }
          if (s > best) { best = s; c = j }
          j += 1
        }
        counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += x(i); i += 1 }
      }
      cents = Array.tabulate(kk) { j =>
        if (counts(j) == 0) cents(j)
        else normalized(sums(j).map(_ / counts(j)))
      }
      it += 1
    }
    cents
  }

  /** Parameterized IVF top-k search (shared by the registered query and the
    * AnnTune recall/scan-fraction sweep; `rank = false` returns the raw
    * scored candidates so the sweep can measure the scan fraction). */
  def ivfTopk(s: SparkSession, emb: DataFrame, cells: Int, nProbe: Int,
      rank: Boolean = true): DataFrame = {
    val cents = ivfCentroids(emb, k = cells)
    import org.apache.spark.sql.graft.NearestCells
    val corpus = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding"),
      NearestCells(col("embedding"), cents, 1).getItem(0).as("cell"))
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
        explode(NearestCells(col("embedding"), cents, nProbe)).as("cell"))
    val cands = probes.join(corpus, Seq("cell"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .withColumn("score", cosineCol("pe", "embedding"))
    rankTop5(cands, rank)
  }

  /** ANN via IVF (inverted-file index): a k-cell coarse quantizer
    * partitions the corpus — each vector is assigned to its nearest
    * centroid once (one linear scan, broadcast centroids, no shuffle) —
    * and each probe searches only its `ivfNProbe` nearest cells, i.e. an
    * equi-join on the cell id scanning ~nProbe/k of the corpus. Cells adapt
    * to the data, so the recall/scan trade beats the data-oblivious
    * hyperplane LSH above; both are reported next to the exact baseline by
    * the bench (`ann_recall`, `ivf_recall`). Hash-exact oracle-checked
    * (the [[annIvfOracleSql]] Lloyd replay below); IvfSpec
    * asserts the ≥ 0.8 recall floor, determinism, and single-cell
    * assignment — the semantic quality the hash can't express.
    *
    * Shipped config (AnnTune sweep at larger cell counts): 48 cells,
    * nProbe 19 — measured recall@5 0.90 at a 39.7 % scan fraction on
    * sf0.1, strictly better than the 24/12 point (0.92 @ 49.4 %) on the
    * scan axis for the same ≥0.85 recall bar. The full sweep
    * frontier: (48,14) 0.78@29 %, (48,17) 0.82@35 %, (48,19) 0.90@40 %,
    * (64,26) 0.86@41 % — finer quantizers keep paying off until ~k=48,
    * then the 2048-row training sample's per-cell support (~40 vectors at
    * sf0.1) becomes the limit. At sf0.01 the same config measures exactly
    * 0.80 (floor-exact — IvfSpec documents the measured small-N fallback:
    * 64 cells / nProbe 26 = 0.94 @ 39.8 % there). The near-orthogonal
    * fixture geometry makes ~40 % scan the honest price of 0.9 recall
    * here; on clustered real-world embeddings the same design reaches it
    * at far smaller fractions. */
  /** Exact DuckDB replay of [[ivfTopk]] INCLUDING the driver-side Lloyd
    * training, so the row is hash-checked rather than skipped.
    * [[ivfCentroids]] is a deterministic sequence of double ops — sample =
    * the sampleCap lowest vec_ids, per-vector normalization, ivfIters
    * assignment/mean/renormalize rounds, every accumulation a strict
    * ascending left fold from 0.0 (dim-ascending for dots and norms,
    * sample-order for the per-cell mean sums), ties to the lower cell on
    * strict `>` — so the whole quantizer replays as ivfIters generated CTE
    * rounds using the same ordered-`list_reduce` idiom as [[cosineSql]]
    * (the bpeChainCtes precedent: training chain shared form, k unrolled
    * steps). Divisions and sqrt are single IEEE correctly-rounded ops, so
    * centroids match bit-for-bit; [[NearestCellsImpl]]'s bounded-insertion
    * top-n ("strictly-better first, equal keeps the lower cell") is
    * `ROW_NUMBER() OVER (ORDER BY s DESC, cell) <= n`. A corpus vector
    * lives in exactly one cell, so the candidate pair set needs no dedup —
    * identical to the Spark plan's plain equi-join.
    * Domain restriction (as for the LSH oracle): dims 0..63 and a corpus
    * of ≥ ivfK sampled vectors — the fixture geometry at every SF. */
  /** Shared fold helper for the generated quantizer replays. */
  private def ivfFold(l: String) =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $l), (x, y) -> x + y)"

  /** The coarse-quantizer replay pieces, shared verbatim by
    * [[annIvfOracleSql]] and [[annIvfPqOracleSql]] (the IVF-PQ row runs
    * the IDENTICAL coarse stage — same training, same cells). */
  private def ivfSqlRounds: String = {
    def fold(l: String) = ivfFold(l)
    (1 to ivfIters).map { t =>
      s""",
         |a$t AS MATERIALIZED (
         |  SELECT xid, cell FROM (
         |    SELECT x.xid, c.cell,
         |      ${fold("list(c.cv * x.v ORDER BY dim)")} AS s
         |    FROM x JOIN c${t - 1} c USING (dim)
         |    GROUP BY x.xid, c.cell)
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY xid
         |                             ORDER BY s DESC, cell) = 1),
         |m$t AS MATERIALIZED (
         |  SELECT a.cell, x.dim,
         |    ${fold("list(x.v ORDER BY x.xid)")} / COUNT(*) AS mv
         |  FROM a$t a JOIN x ON a.xid = x.xid
         |  GROUP BY a.cell, x.dim),
         |mn$t AS MATERIALIZED (SELECT cell, sqrt(${fold("list(mv * mv ORDER BY dim)")})
         |           AS nrm FROM m$t GROUP BY cell),
         |c$t AS MATERIALIZED (
         |  SELECT c.cell, c.dim,
         |    COALESCE(CASE WHEN mn.nrm = 0 THEN m.mv ELSE m.mv / mn.nrm END,
         |             c.cv) AS cv
         |  FROM c${t - 1} c
         |  LEFT JOIN m$t m ON m.cell = c.cell AND m.dim = c.dim
         |  LEFT JOIN mn$t mn ON mn.cell = c.cell)""".stripMargin
    }.mkString
  }

  private def ivfSqlHead: String = {
    val k = ivfK; val cap = ivfSampleCap
    def fold(l: String) = ivfFold(l)
    s"""WITH dims AS (SELECT unnest(generate_series(0, 63)) AS dim),
       |xs AS MATERIALIZED (
       |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS xid, embedding
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        ORDER BY vec_id LIMIT $cap)),
       |nx AS MATERIALIZED (SELECT COUNT(*) AS n FROM xs),
       |xraw AS MATERIALIZED (
       |  SELECT xid, dim, CAST(embedding[dim + 1] AS DOUBLE) AS v
       |  FROM xs, dims WHERE dim < len(embedding)),
       |xn AS MATERIALIZED (SELECT xid, sqrt(${fold("list(v * v ORDER BY dim)")}) AS nrm
       |       FROM xraw GROUP BY xid),
       |x AS MATERIALIZED (
       |  SELECT xraw.xid, dim, CASE WHEN nrm = 0 THEN v ELSE v / nrm END
       |    AS v
       |  FROM xraw JOIN xn ON xraw.xid = xn.xid),
       |cells AS (SELECT unnest(generate_series(0, ${k - 1})) AS cell),
       |c0 AS MATERIALIZED (
       |  SELECT cell, dim, v AS cv
       |  FROM cells JOIN x ON x.xid = (cell * (SELECT n FROM nx)) // $k)"""
      .stripMargin
  }

  /** Corpus/probe coarse assignment + candidate CTEs (corp, asgn, pcell,
    * pemb, cand) — identical candidate generation in both rows. */
  private def ivfSqlCandidates: String = {
    val np = ivfNProbe
    def fold(l: String) = ivfFold(l)
    s""",
       |corp AS MATERIALIZED (
       |  SELECT e.vec_id, dim, CAST(embedding[dim + 1] AS DOUBLE) AS v
       |  FROM embeddings e, dims WHERE dim < len(embedding)),
       |asgn AS MATERIALIZED (
       |  SELECT vec_id AS neighbor_id, cell FROM (
       |    SELECT corp.vec_id, c.cell,
       |      ${fold("list(c.cv * corp.v ORDER BY dim)")} AS s
       |    FROM corp JOIN c$ivfIters c USING (dim)
       |    GROUP BY corp.vec_id, c.cell)
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
       |                             ORDER BY s DESC, cell) = 1),
       |pcell AS MATERIALIZED (
       |  SELECT vec_id AS probe_id, cell FROM (
       |    SELECT corp.vec_id, c.cell,
       |      ${fold("list(c.cv * corp.v ORDER BY dim)")} AS s
       |    FROM corp JOIN c$ivfIters c USING (dim)
       |    WHERE corp.vec_id < 10
       |    GROUP BY corp.vec_id, c.cell)
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
       |                             ORDER BY s DESC, cell) <= $np),
       |pemb AS (SELECT vec_id AS probe_id, embedding AS pe
       |         FROM embeddings WHERE vec_id < 10),
       |cand AS (
       |  SELECT p.probe_id, a.neighbor_id
       |  FROM pcell p JOIN asgn a USING (cell)
       |  WHERE a.neighbor_id <> p.probe_id)""".stripMargin
  }

  private def annIvfOracleSql: String = {
    val tail =
      s""",
         |scored AS (
         |  SELECT c.probe_id, c.neighbor_id,
         |    ${cosineSql("pe", "embedding")} AS score
         |  FROM cand c JOIN pemb USING (probe_id)
         |    JOIN embeddings e ON e.vec_id = c.neighbor_id),
         |ranked AS (
         |  SELECT probe_id, neighbor_id, score,
         |    ROW_NUMBER() OVER (PARTITION BY probe_id
         |                       ORDER BY score DESC, neighbor_id) AS rk
         |  FROM scored)
         |SELECT probe_id, rk, neighbor_id, score FROM ranked WHERE rk <= 5
         |ORDER BY probe_id, rk""".stripMargin
    ivfSqlHead + ivfSqlRounds + ivfSqlCandidates + tail
  }

  private val annIvf = Spec("llm_ann_ivf", annIvfOracleSql) { (s, d) =>
    // The oracle above hardcodes ivfK cells and dims 0..63
    // while the Scala path adapts — pin the domain restriction as a named
    // runtime check so a future fixture outside it fails with a reason,
    // not as an opaque hash mismatch.
    val probe = Tables.embeddings(s, d)
      .agg(count(lit(1)), min(size(col("embedding"))),
        max(size(col("embedding")))).collect()(0)
    require(probe.getLong(0) >= ivfK && probe.getInt(1) == 64
        && probe.getInt(2) == 64,
      s"llm_ann_ivf oracle domain: needs >= $ivfK vectors of dim 64, " +
        s"fixture has ${probe.getLong(0)} vectors, dims " +
        s"${probe.getInt(1)}..${probe.getInt(2)} under $d")
    ivfTopk(s, Tables.embeddings(s, d), ivfK, ivfNProbe)
  }

  // ------------------------------------------------------------- IVF-PQ ANN

  private val pqM = 16 // subspaces (64 dims / 16 = 4-dim subvectors)
  private val pqKs = 32 // codes per sub-codebook (5 bits; 5 B/vector packed)
  private val pqSubDim = 4
  private val pqIters = 4
  private val pqShortlist = 64 // ADC shortlist re-ranked exactly

  /** Per-subspace PQ codebooks, trained driver-side on the SAME
    * deterministic sample as [[ivfCentroids]] (the sampleCap lowest
    * vec_ids, full-vector normalized) — standard IVF-PQ recipe: train
    * both quantizers once offline, broadcast, encode distributed. Lloyd
    * under SQUARED L2 on subvectors (PQ's objective; sub-centroids are
    * NOT re-normalized — they are means, not directions), ties to the
    * lower code on strict `<`, an emptied code keeps its previous
    * centroid, means accumulate in ascending sample order — every rule
    * chosen so [[annIvfPqOracleSql]] replays the training bit-for-bit
    * (the ivfCentroids discipline, subspace edition). */
  def pqCodebooks(emb: DataFrame, m: Int = pqM, subDim: Int = pqSubDim,
      ks: Int = pqKs, iters: Int = pqIters, sampleCap: Int = ivfSampleCap)
      : Array[Array[Array[Double]]] = {
    val xs = emb.orderBy(col("vec_id")).limit(sampleCap)
      .select(col("embedding")).collect()
      .map(r => normalized(r.getSeq[Float](0).toArray.map(_.toDouble)))
    require(xs.nonEmpty, "pqCodebooks: empty corpus")
    val n = xs.length
    val kk = math.min(ks, n)
    var books = Array.tabulate(m) { j =>
      Array.tabulate(kk) { c =>
        val x = xs(c * n / kk)
        Array.tabulate(subDim)(d =>
          if (j * subDim + d < x.length) x(j * subDim + d) else 0.0)
      }
    }
    var it = 0
    while (it < iters) {
      val acc = Array.tabulate(m, kk)((_, _) => new Array[Double](subDim))
      val counts = Array.ofDim[Int](m, kk)
      xs.foreach { x =>
        var j = 0
        while (j < m) {
          var best = Double.PositiveInfinity; var bc = 0; var c = 0
          while (c < kk) {
            var s = 0.0; var d = 0
            while (d < subDim && j * subDim + d < x.length) {
              val t = x(j * subDim + d) - books(j)(c)(d)
              s += t * t
              d += 1
            }
            if (s < best) { best = s; bc = c } // ties keep the lower code
            c += 1
          }
          counts(j)(bc) += 1
          var d = 0
          while (d < subDim && j * subDim + d < x.length) {
            acc(j)(bc)(d) += x(j * subDim + d)
            d += 1
          }
          j += 1
        }
      }
      books = Array.tabulate(m) { j =>
        Array.tabulate(kk) { c =>
          if (counts(j)(c) == 0) books(j)(c)
          else acc(j)(c).map(_ / counts(j)(c))
        }
      }
      it += 1
    }
    books
  }

  /** The two trained quantizers per (session, corpus): both trainings
    * are deterministic functions of the fixture's sampleCap lowest
    * vec_ids with a FIXED O(sampleCap·k·dim) driver cost, but fixed ≠
    * free (~100 ms), and the pay-once resident below must not retrain
    * per query. */
  private val pqModels = new graft.sources.SessionMemo[
    (Array[Array[Double]], Array[Array[Array[Double]]])]()

  private def pqModel(s: SparkSession, d: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) =
    pqModels(s, d) {
      val emb = Tables.embeddings(s, d)
      (ivfCentroids(emb), pqCodebooks(emb))
    }

  private val pqResident = Scans.stampedMemo()

  /** Pay-once (vec_id, cell, codes) resident layout: the compressed
    * relation a production vector store keeps RESIDENT — built once per
    * corpus, queried many times — so the query's steady time measures
    * what the production system pays per query: code scan + ADC +
    * re-rank. Staged through the shared-scratch publish path
    * (fingerprint = the embeddings fixture's mtime+size, as in
    * [[graft.streaming.StreamingOps.sjInput]];
    * [[org.apache.spark.sql.graft.PqEncode]] and
    * [[org.apache.spark.sql.graft.NearestCells]] are deterministic, so
    * any JVM's build is byte-equal); Bench pre-pays it in
    * materialize_layout. */
  private[graft] def ivfPqResidentDir(s: SparkSession, d: String): String =
    pqResident(s, d) {
      val (cents, books) = pqModel(s, d)
      val abs = graft.sources.SessionMemo.norm(d)
      val src = new java.io.File(abs, "embeddings.parquet")
      // Fingerprint covers the quantizer params too: the staged content
      // depends on pqM/pqKs/pqSubDim/ivfK (+ the iteration counts baked
      // into the trainings), not just the source fixture — without them
      // a param retune would serve a stale resident layout from a warm
      // box's shared scratch, a warm-box-only oracle mismatch.
      val fp = s"v1_m${pqM}k${pqKs}d${pqSubDim}c${ivfK}i${pqIters}" +
        s"j${ivfIters}_m${src.lastModified}_s${src.length}"
      Scans.ensureShared(Scans.sharedScratchDir("pq_resident", abs, fp),
          Scans.healthyStamped) { tmp =>
        import org.apache.spark.sql.graft.{NearestCells, PqEncode}
        Tables.embeddings(s, d).select(col("vec_id").as("neighbor_id"),
          NearestCells(col("embedding"), cents, 1).getItem(0).as("cell"),
          PqEncode(col("embedding"), books, pqSubDim).as("codes"))
          .write.parquet(tmp)
        Scans.stampExpected(tmp)
      }
    }

  /** Bench pre-pay hook: force the trainings + the resident layout so
    * llm_ann_ivfpq's timed line starts from the staged state. */
  private[graft] def materializeIvfPqLayout(s: SparkSession,
      d: String): Unit = {
    ivfPqResidentDir(s, d); ()
  }

  /** IVF-PQ top-5: the memory-bound ANN path a 100 TB vector store
    * actually ships. The coarse stage is [[ivfTopk]]'s verbatim (same
    * trained cells, same nProbe fan-out, same equi-join candidate
    * generation — nothing broadcast that grows with n); the difference
    * is WHAT the scan touches: the resident relation is
    * (vec_id, cell, codes) — 16 five-bit codes per vector instead of
    * the 256-byte embedding, the ~25× memory/bandwidth lever — READ
    * FROM THE PAY-ONCE [[ivfPqResidentDir]] LAYOUT (build visible in
    * materialize_layout, steady time = scan+ADC+re-rank),
    * scored by asymmetric distance (normalized probe · PQ
    * reconstruction, a codegen'd [[org.apache.spark.sql.graft.PqAdc]]
    * fold), and only the ADC top-[[pqShortlist]] per probe fetch their
    * raw vectors back (an equi-join on neighbor_id — the production
    * random read) for the exact cosine re-rank that orders the emitted
    * top-5. Both windows are per-probe row_numbers with full
    * tie-breaks, so the output is deterministic and the oracle replays
    * construction + ADC + re-rank exactly. */
  def ivfPqTopk(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val (cents, books) = pqModel(s, d)
    val resident = s.read.parquet(ivfPqResidentDir(s, d))
    import org.apache.spark.sql.graft.{NearestCells, PqAdc}
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
        explode(NearestCells(col("embedding"), cents, ivfNProbe)).as("cell"))
    val winAdc = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    val shortlist = probes.join(resident, Seq("cell"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .withColumn("adc", PqAdc(col("codes"), col("pe"), books, pqSubDim))
      .withColumn("ar", row_number().over(winAdc))
      .filter(col("ar") <= pqShortlist)
      .select(col("probe_id"), col("pe"), col("neighbor_id"))
    val reranked = shortlist.join(
        emb.select(col("vec_id").as("neighbor_id"), col("embedding")),
        Seq("neighbor_id"))
      .withColumn("score", cosineCol("pe", "embedding"))
    rankTop5(reranked, rank = true)
  }

  /** Exact DuckDB replay of [[ivfPqTopk]] INCLUDING both trainings: the
    * coarse Lloyd rounds are [[annIvfOracleSql]]'s shared CTEs verbatim
    * ([[ivfSqlHead]]/[[ivfSqlRounds]]/[[ivfSqlCandidates]]); the PQ
    * rounds replay [[pqCodebooks]] in (sub, code, dim) space — one CTE
    * round trains ALL subspaces at once because subspaces are
    * independent over disjoint dim ranges. Assignment is argmin of the
    * dim-ascending fold of (x − b)², ties to the lower code
    * (ROW_NUMBER ... ORDER BY s ASC, code); means fold in ascending
    * sample order; an emptied code COALESCEs to its previous value; NO
    * renormalization (means, not directions). Encoding/ADC replay the
    * [[org.apache.spark.sql.graft.PqImpl]] folds: full-vector-normalized
    * corpus, per-(vec, sub) argmin, then adc = Σ over global dims of
    * pn.v · b.bv — one row per dim after the (cenc → book → probe)
    * joins, folded ORDER BY dim, exactly the expression's loop. The ADC
    * shortlist and the exact re-rank are per-probe ROW_NUMBERs with the
    * same tie-breaks as the Spark windows. Domain: dims 0..63 and
    * ≥ pqKs sampled vectors (guarded in the Spec body, the llm_ann_ivf
    * idiom). */
  private def annIvfPqOracleSql: String = {
    def fold(l: String) = ivfFold(l)
    val pqRounds = (1 to pqIters).map { t =>
      s""",
         |pa$t AS MATERIALIZED (
         |  SELECT xid, sub, code FROM (
         |    SELECT x.xid, b.sub, b.code,
         |      ${fold("list((x.v - b.bv) * (x.v - b.bv) ORDER BY x.dim)")} AS s
         |    FROM x JOIN b${t - 1} b ON x.dim = b.dim
         |    GROUP BY x.xid, b.sub, b.code)
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY xid, sub
         |                             ORDER BY s ASC, code) = 1),
         |pm$t AS MATERIALIZED (
         |  SELECT a.sub, a.code, x.dim,
         |    ${fold("list(x.v ORDER BY x.xid)")} / COUNT(*) AS mv
         |  FROM pa$t a JOIN x ON a.xid = x.xid
         |    AND x.dim >= a.sub * $pqSubDim AND x.dim < (a.sub + 1) * $pqSubDim
         |  GROUP BY a.sub, a.code, x.dim),
         |b$t AS MATERIALIZED (
         |  SELECT b.sub, b.code, b.dim, COALESCE(m.mv, b.bv) AS bv
         |  FROM b${t - 1} b
         |  LEFT JOIN pm$t m ON m.sub = b.sub AND m.code = b.code
         |    AND m.dim = b.dim)""".stripMargin
    }.mkString
    val pqHead =
      s""",
         |subs AS (SELECT unnest(generate_series(0, ${pqM - 1})) AS sub),
         |pcodes AS (SELECT unnest(generate_series(0, ${pqKs - 1})) AS code),
         |b0 AS MATERIALIZED (
         |  SELECT s.sub, pc.code, x.dim, x.v AS bv
         |  FROM subs s CROSS JOIN pcodes pc
         |  JOIN x ON x.xid = (pc.code * (SELECT n FROM nx)) // $pqKs
         |    AND x.dim >= s.sub * $pqSubDim AND x.dim < (s.sub + 1) * $pqSubDim)"""
        .stripMargin
    val tail =
      s""",
         |corpnn AS MATERIALIZED (
         |  SELECT vec_id, sqrt(${fold("list(v * v ORDER BY dim)")}) AS nrm
         |  FROM corp GROUP BY vec_id),
         |corpn AS MATERIALIZED (
         |  SELECT corp.vec_id, dim,
         |    CASE WHEN nrm = 0 THEN v ELSE v / nrm END AS v
         |  FROM corp JOIN corpnn USING (vec_id)),
         |cenc AS MATERIALIZED (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT cn.vec_id, b.sub, b.code,
         |      ${fold("list((cn.v - b.bv) * (cn.v - b.bv) ORDER BY cn.dim)")} AS s
         |    FROM corpn cn JOIN b$pqIters b ON cn.dim = b.dim
         |    GROUP BY cn.vec_id, b.sub, b.code)
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub
         |                             ORDER BY s ASC, code) = 1),
         |pn AS MATERIALIZED (
         |  SELECT vec_id AS probe_id, dim, v FROM corpn WHERE vec_id < 10),
         |adc AS MATERIALIZED (
         |  SELECT c.probe_id, c.neighbor_id,
         |    ${fold("list(pn.v * b.bv ORDER BY pn.dim)")} AS adc
         |  FROM cand c
         |  JOIN cenc ce ON ce.vec_id = c.neighbor_id
         |  JOIN b$pqIters b ON b.sub = ce.sub AND b.code = ce.code
         |  JOIN pn ON pn.probe_id = c.probe_id AND pn.dim = b.dim
         |  GROUP BY c.probe_id, c.neighbor_id),
         |short AS (
         |  SELECT probe_id, neighbor_id FROM adc
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY probe_id
         |                             ORDER BY adc DESC, neighbor_id)
         |    <= $pqShortlist),
         |scored AS (
         |  SELECT s.probe_id, s.neighbor_id,
         |    ${cosineSql("pe", "embedding")} AS score
         |  FROM short s JOIN pemb USING (probe_id)
         |    JOIN embeddings e ON e.vec_id = s.neighbor_id),
         |ranked AS (
         |  SELECT probe_id, neighbor_id, score,
         |    ROW_NUMBER() OVER (PARTITION BY probe_id
         |                       ORDER BY score DESC, neighbor_id) AS rk
         |  FROM scored)
         |SELECT probe_id, rk, neighbor_id, score FROM ranked WHERE rk <= 5
         |ORDER BY probe_id, rk""".stripMargin
    ivfSqlHead + ivfSqlRounds + pqHead + pqRounds + ivfSqlCandidates + tail
  }

  private val annIvfPq = Spec("llm_ann_ivfpq", annIvfPqOracleSql) { (s, d) =>
    // same oracle-domain guard family as llm_ann_ivf: the generated SQL
    // hardcodes dims 0..63 and both quantizers' code counts
    val probe = Tables.embeddings(s, d)
      .agg(count(lit(1)), min(size(col("embedding"))),
        max(size(col("embedding")))).collect()(0)
    require(probe.getLong(0) >= math.max(ivfK, pqKs) && probe.getInt(1) == 64
        && probe.getInt(2) == 64,
      s"llm_ann_ivfpq oracle domain: needs >= ${math.max(ivfK, pqKs)} " +
        s"vectors of dim 64, fixture has ${probe.getLong(0)} vectors, " +
        s"dims ${probe.getInt(1)}..${probe.getInt(2)} under $d")
    ivfPqTopk(s, d)
  }

  /** MinHash signature params: k hash functions h_i(x) = (a_i·x + b_i) mod P
    * over xxhash64'd shingles. */
  private val P = 2038074743L
  private val K = 32
  private[graft] val bands = 16 // × 2 rows/band; ScaleStressSpec bounds fan-out by it

  /** MinHash + LSH banding near-dup detection over 3-word shingles:
    * signatures via k permutation-hash mins (one groupBy), candidates via
    * band-bucket equi-join (the LSH trick: only docs sharing a band hash
    * ever meet), then exact shingle-set Jaccard ≥ 0.7 verification.
    *
    * Oracle-checked against the exact Jaccard self-join: because every
    * candidate is verified exactly, the output differs from the exact pair
    * set only if LSH MISSES a true pair. With 16 bands × 2 rows the miss
    * probability per pair is (1 − j²)¹⁶ ≤ 7.6e-8 at j = 0.8 (the fixture
    * minimum — every qualifying pair at sf0.01/sf0.1 has j ≥ 0.8), so the
    * hash-match holds with certainty ~1 while the query still runs the
    * real banded-LSH plan, not the quadratic join. LlmSpec additionally
    * covers signature/banding properties on synthetic corpora. */
  private val dedupMinhash = Spec(
    "llm_dedup_near",
    s"""${LlmText.ngramPairsSqlCteAt("0.7")}
       |SELECT doc_a, doc_b, jaccard FROM pairs
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    minhashPairs(
      Tables.documents(s, d).select(col("doc_id"), col("text")), 0.7)
  }

  /** MinHash near-dup pairs over (doc_id, text) rows, so tests can run it
    * on synthetic corpora: band-hash block keys, then the exact
    * shingle-set Jaccard on each candidate.
    *
    * The static plan shows four scan+explode+aggregate subtrees of the
    * documents (block-join sides a/b, verify-join sides a/b), but the
    * executed plan runs exactly two runtime stages — the signature
    * shuffle and the collect_set shuffle each run once, with
    * `ReusedExchange` serving the b-sides (witness:
    * plans/r21/llm_dedup_near_runtime_reuse.txt). A merged
    * signatures+set aggregate is a no-op: column pruning splits it back
    * into the pruned pair. One scan instead of two would need a persisted
    * substrate ∝ corpus (~3 GB at the x124 probe scale) pinned for the
    * query's lifetime; recomputing is cheaper. */
  def minhashPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val sh = minhashShingles(docs)
    val sets = sh.groupBy(col("doc_id"))
      .agg(collect_set(col("h")).as("set"))
    val banded = minhashBanded(sh)
    val rowsPerBand = K / bands
    val miss = math.pow(1 - math.pow(threshold, rowsPerBand), bands)
    Blocking.blockedPairs("minhashPairs",
      Blocking.Blocks(s"minhash-bands(${bands}x$rowsPerBand)",
        Blocking.bound(miss), banded, banded, meetsOnce = false),
      sets, ("doc_a", "doc_b"), "jaccard")(
      (a, b) => size(array_intersect(a, b)).cast("double")
        / size(array_union(a, b)),
      _ >= threshold)
  }

  /** (doc_id, h) 64-bit-hashed distinct 3-shingles — stage 1 of
    * [[minhashPairs]], exposed so the skew stress can reuse the exact
    * production shingling. h is the full 64-bit shingle hash
    * (verification sets — collisions change Jaccard only at 2^-64 odds);
    * x = h mod P feeds the permutation hashes, where a collision merely
    * correlates two signature rows. */
  private[graft] def minhashShingles(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), split(col("text"), " ").as("words"))
    .filter(size(col("words")) >= 3)
    .select(col("doc_id"),
      explode(array_distinct(expr(
        """transform(sequence(0, size(words) - 3),
          |  i -> concat_ws(' ', words[i], words[i+1], words[i+2]))"""
          .stripMargin))).as("shingle"))
    .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
    .withColumn("x", pmod(col("h"), lit(P)))

  /** (doc_id, band_idx, band_hash) LSH band layout — stage 2 of
    * [[minhashPairs]], exposed so the skew stress (ScaleStressSpec) can
    * measure the candidate fan-out Σ_buckets C(size, 2) of the REAL band
    * layout under an adversarial near-dup clique, not a reimplementation
    * that could drift. */
  private[graft] def minhashBanded(sh: DataFrame): DataFrame = {
    val sigCols = (0 until K).map { i =>
      val a = 2L * i + 1
      val b = (i.toLong * 12582917L + 104729L) % P
      min(pmod(col("x") * a + b, lit(P))).as(s"s$i")
    }
    val sig = sh.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
    val rowsPerBand = K / bands
    val bandHashes = (0 until bands).map { bi =>
      xxhash64((bi * rowsPerBand until (bi + 1) * rowsPerBand)
        .map(i => col(s"s$i")): _*)
    }
    sig.select(col("doc_id"),
      posexplode(array(bandHashes: _*)).as(Seq("band_idx", "band_hash")))
  }

  /** 64-bit SimHash of a document (tf-weighted word-hash bit votes). */
  def simhash64(words: Seq[String]): Long = {
    val votes = new Array[Int](64)
    words.foreach { w =>
      // xxhash-free portable mix (FNV-1a over chars, then avalanche)
      var h = 0xcbf29ce484222325L
      w.foreach { c => h ^= c.toLong; h *= 0x100000001b3L }
      h ^= (h >>> 33); h *= 0xff51afd7ed558ccdL; h ^= (h >>> 33)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
    }
    (0 until 64).foldLeft(0L)((acc, j) =>
      if (votes(j) > 0) acc | (1L << j) else acc)
  }

  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** SQL text-macro: 64-bit XOR of two nonnegative HUGEINT expressions
    * < 2⁶⁴, via 32-bit halves (DuckDB's `xor` is BIGINT-only and BIGINT
    * would overflow at bit 63). Used by the simhash oracle below. */
  private def sqlXor64(x: String, y: String): String =
    s"(CAST(xor(CAST(($x) // 4294967296 AS BIGINT), " +
      s"CAST(($y) // 4294967296 AS BIGINT)) AS HUGEINT) * 4294967296 " +
      s"+ xor(CAST(($x) % 4294967296 AS BIGINT), " +
      s"CAST(($y) % 4294967296 AS BIGINT)))"

  /** SQL text-macro: (x · m) mod 2⁶⁴ for a nonnegative HUGEINT expression
    * x < 2⁶⁴ and a 64-bit constant m, with m split into 32-bit halves so
    * no intermediate exceeds HUGEINT's 2¹²⁷ range (x·m alone could reach
    * 2¹²⁸). (x·m) mod 2⁶⁴ = (x·m_lo + ((x mod 2³²)·m_hi mod 2³²)·2³²)
    * mod 2⁶⁴. */
  private def sqlMult64(x: String, m: java.math.BigInteger): String = {
    val mHi = m.shiftRight(32)
    val mLo = m.and(java.math.BigInteger.valueOf(0xffffffffL))
    s"((($x) * $mLo + ((($x) % 4294967296) * $mHi " +
      s"% 4294967296) * 4294967296) % 18446744073709551616)"
  }

  /** The simhash ORACLE: DuckDB recomputes the exact 64-bit signature —
    * FNV-1a over each word's UTF-16 code units, murmur-style avalanche,
    * tf-weighted bit votes (the [[simhash64]] /
    * [[org.apache.spark.sql.graft.SimHashImpl]] definition, step for step)
    * — in HUGEINT arithmetic with explicit mod-2⁶⁴ wraparound, because
    * DuckDB's BIGINT ops are overflow-checked. Word split mirrors Java's
    * `String.split(" ")`: interior empties vote, trailing empties don't
    * (rtrim), `""` yields one empty word, all-spaces yields none. The
    * signature leaves the CTE as a 64-char bitstring (MSB first; built via
    * `bin()` on the signed BIGINT reinterpretation) so the pair distance
    * is DuckDB's `hamming()` on equal-length strings. The fixture is BMP
    * text, where DuckDB's per-codepoint `unicode(w[i])` equals Java's
    * per-char `charAt` (astral codepoints would diverge — two UTF-16 units
    * vs one codepoint — and are out of the signature's documented domain).
    * Prototyped bit-exact against a reference port at sf0.01 AND sf0.1
    * before shipping. */
  private def simhashOracleSql(maxHamming: Int): String = {
    val fnvStep = sqlMult64(
      "(h - (h % 2097152)) + xor(CAST(h % 2097152 AS BIGINT), " +
        "CAST(c AS BIGINT))",
      java.math.BigInteger.valueOf(0x100000001b3L))
    val avalancheMul = new java.math.BigInteger("ff51afd7ed558ccd", 16)
    s"""WITH dw AS (
       |  SELECT doc_id,
       |    CASE WHEN text = '' THEN ['']
       |         WHEN rtrim(text, ' ') = '' THEN []
       |         ELSE string_split(rtrim(text, ' '), ' ') END AS words
       |  FROM documents),
       |w0 AS (SELECT doc_id, unnest(words) AS w FROM dw),
       |h0 AS (
       |  SELECT doc_id, list_reduce(
       |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |      list_transform(range(1, length(w) + 1),
       |        i -> CAST(unicode(w[i]) AS HUGEINT))),
       |    (h, c) -> $fnvStep) AS h
       |  FROM w0),
       |h1 AS (SELECT doc_id, ${sqlXor64("h", "h // 8589934592")} AS h FROM h0),
       |h2 AS (SELECT doc_id, ${sqlMult64("h", avalancheMul)} AS h FROM h1),
       |h3 AS (SELECT doc_id, ${sqlXor64("h", "h // 8589934592")} AS h FROM h2),
       |wbits AS (
       |  SELECT doc_id, lpad(bin(CAST(h - CASE WHEN h >= 9223372036854775808
       |    THEN 18446744073709551616 ELSE 0 END AS BIGINT)), 64, '0') AS bs
       |  FROM h3),
       |votes AS (
       |  SELECT doc_id, j.j,
       |    SUM(CASE WHEN substr(bs, 64 - j.j, 1) = '1' THEN 1 ELSE -1 END)
       |      AS vote
       |  FROM wbits CROSS JOIN (SELECT unnest(range(64)) AS j) AS j
       |  GROUP BY 1, 2),
       |sigs0 AS (
       |  SELECT doc_id,
       |    string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END, ''
       |               ORDER BY j DESC) AS sig
       |  FROM votes GROUP BY doc_id),
       |sigs AS (
       |  -- an all-spaces doc tokenizes to ZERO words (dw's [] branch) and
       |  -- so never reaches sigs0, but the Spark side still signs it: zero
       |  -- votes ⇒ sig = 0. Restore it here as the all-zero signature, or
       |  -- the query could emit pairs the oracle lacks.
       |  SELECT d.doc_id, COALESCE(s.sig, repeat('0', 64)) AS sig
       |  FROM documents d LEFT JOIN sigs0 s ON d.doc_id = s.doc_id)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(hamming(a.sig, b.sig) AS INTEGER) AS hamming
       |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
       |WHERE hamming(a.sig, b.sig) <= $maxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** SimHash near-dup: one 64-bit signature per doc, 16-bit-chunk block
    * keys, then hamming ≤ 3 verification. The output is EXACTLY the set of
    * pairs at signature hamming ≤ 3, by the pigeonhole theorem
    * ([[simhashBlocks]]) — deterministic completeness, not a probabilistic
    * bound like MinHash banding's — while the plan still runs the blocked
    * join (measured 3.4 % of all-pairs at sf0.01 AND sf0.1: 16-bit buckets
    * don't saturate), never the quadratic product. The oracle recomputes
    * the signature from scratch in SQL ([[simhashOracleSql]]), so the
    * hash-match certifies the full pipeline: tokenization, FNV-1a,
    * avalanche, votes, chunk recall, and the hamming verify. */
  private val dedupSimhash = Spec(
    "llm_dedup_simhash", simhashOracleSql(3)) { (s, d) =>
    simhashPairs(Tables.documents(s, d).select(col("doc_id"), col("text")), 3)
  }

  /** 64-bit signature split into this many equal chunks for the block
    * keys; pigeonhole completeness holds for maxHamming < simhashChunks. */
  private[graft] val simhashChunks = 4

  /** (doc_id, sig): the native codegen expression, not a UDF; LlmSpec pins
    * it bit-equal to [[simhash64]]. */
  private[graft] def simhashSigs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      org.apache.spark.sql.graft.SimHash64(col("text")).as("sig"))

  /** (doc_id, chunk_idx, chunk) block keys. Two signatures at hamming h
    * differ in at most h chunks, so for h < simhashChunks some chunk is
    * equal and the pair is always a candidate. Past that two signatures
    * can differ in every chunk (bits 0, 16, 32 and 48) and be silently
    * lost, so such a maxHamming is rejected. */
  private[graft] def simhashBlocks(sigs: DataFrame,
      maxHamming: Int): Blocking.Blocks = {
    require(maxHamming < simhashChunks,
      s"simhash maxHamming $maxHamming must be < simhashChunks = " +
        s"$simhashChunks: past it a pair can differ in every chunk and " +
        "the chunk blocking is no longer exact")
    val chunkBits = 64 / simhashChunks
    val chunkMask = (1L << chunkBits) - 1
    val index = sigs.select(col("doc_id"),
      posexplode(array((0 until simhashChunks).map(i =>
        shiftright(col("sig"), i * chunkBits).bitwiseAND(lit(chunkMask))): _*))
        .as(Seq("chunk_idx", "chunk")))
    Blocking.Blocks(s"chunks(${simhashChunks}x$chunkBits-bit)",
      "0 exact (pigeonhole)", index, index, meetsOnce = false)
  }

  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    val sigs = simhashSigs(docs)
    Blocking.blockedPairs("simhashPairs", simhashBlocks(sigs, maxHamming),
      sigs, ("doc_a", "doc_b"), "hamming")(
      // codegen'd built-in, not a UDF: popcount of the signature XOR
      (a, b) => bit_count(a.bitwiseXOR(b)).cast("int"), _ <= maxHamming)
  }

  /** Multimodal record assembly: documents ⟕ embeddings into one struct
    * column, then filter/project THROUGH the nested fields (the schema
    * shape a mixed text+vector+binary corpus table has; ArrayType survives
    * the shuffle). Left join: at sf0.1 only 2 000 of 5 000 docs have
    * vectors (FIXTURES.md). */
  private val multimodalStruct = Spec(
    "llm_multimodal_struct",
    """SELECT doc_id, lang, label, has_vec, dim, n_chars
      |FROM (
      |  SELECT d.doc_id, d.lang, e.label,
      |    e.vec_id IS NOT NULL AS has_vec,
      |    COALESCE(len(e.embedding), 0) AS dim,
      |    d.n_chars
      |  FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id)
      |WHERE lang IN ('en', 'de') OR has_vec
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val joined = Tables.documents(s, d)
      .join(Tables.embeddings(s, d),
        col("doc_id") === col("vec_id"), "left")
      .select(col("doc_id"),
        struct(col("text"), col("lang"), col("n_chars"), col("embedding"),
          col("label"), col("vec_id")).as("m"))
    joined
      .select(col("doc_id"),
        col("m.lang").as("lang"), col("m.label").as("label"),
        col("m.vec_id").isNotNull.as("has_vec"),
        coalesce(size(col("m.embedding")), lit(0)).as("dim"),
        col("m.n_chars").as("n_chars"))
      .filter(col("lang").isin("en", "de") || col("has_vec"))
      .orderBy(col("doc_id"))
  }

  /** Multimodal binary pipeline with a REAL codec: each document's
    * CODEPOINTS are rendered into a grayscale image, encoded to an actual
    * PNG (`javax.imageio`, in-JDK, headless) — that binary column is the
    * opaque blob a multimodal corpus table carries — then a second typed
    * `mapPartitions` stage DECODES the PNG and extracts features from the
    * decoded pixels (dimensions, position-weighted pixel checksum).
    *
    * Oracle strategy: PNG is lossless and the render arithmetic is
    * deterministic (pixel i = codepoint (i mod n) mod 256, width/height
    * fixed functions of the codepoint count), so DuckDB predicts the
    * decoded-pixel features from the source text — hash-parity proves the
    * full encode → PNG → decode round-trip, not a stub. Codepoints, NOT
    * UTF-8 bytes: Spark `length`/DuckDB `length` and `ascii(text[i])` all
    * speak codepoints, so the parity holds for non-ASCII text too (a
    * byte-based render would silently diverge on the first umlaut a
    * fixture regeneration introduces). The encoded PNG byte count is
    * zlib-dependent and deliberately NOT an output column. At 100 TB the
    * same two-stage plan shape holds with real camera/render payloads and
    * any JVM codec; per-partition iteration amortizes codec setup and the
    * blob column streams through the plan without touching the driver. */
  private val multimodalDecode = Spec(
    "llm_multimodal_decode",
    """SELECT doc_id,
      |  CAST((length(text) % 32) + 4 AS BIGINT) AS width,
      |  CAST((length(text) % 24) + 3 AS BIGINT) AS height,
      |  CAST(((length(text) % 32) + 4) * ((length(text) % 24) + 3)
      |    AS BIGINT) AS n_px,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(
      |      generate_series(1, ((length(text) % 32) + 4)
      |                         * ((length(text) % 24) + 3)),
      |      i -> CAST(i AS BIGINT) *
      |        CASE WHEN length(text) = 0 THEN 0
      |             ELSE ascii(text[((i - 1) % length(text)) + 1]) % 256
      |        END)),
      |    (x, y) -> x + y) AS BIGINT) AS px_checksum
      |FROM (SELECT doc_id, COALESCE(text, '') AS text FROM documents)
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    // The COALESCE above mirrors the Spark-side null guard below: both
    // engines must agree that a NULL text decodes as the empty
    // document (w=4, h=3, checksum=0), or a fixture regeneration that
    // introduces NULL text breaks parity silently.
    import s.implicits._
    val payloads = Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
    val pngs = payloads.mapPartitions { it =>
      it.map { case (id, text) => (id, Pixels.encodePng(text)) }
    }.toDF("doc_id", "png").as[(Long, Array[Byte])]
    pngs.mapPartitions { it =>
      Pixels.useMemCache // per-executor: no temp file per decoded image
      it.map { case (id, png) =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(png))
        val w = img.getWidth
        val h = img.getHeight
        var checksum = 0L
        var i = 0
        while (i < w * h) {
          checksum += (i + 1).toLong * (img.getRGB(i % w, i / w) & 0xff)
          i += 1
        }
        (id, w.toLong, h.toLong, w.toLong * h, checksum)
      }
    }.toDF("doc_id", "width", "height", "n_px", "px_checksum")
      .orderBy(col("doc_id"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    * clustering embeddings and comparing pairs ONLY within a cluster —
    * the third dedup family next to LSH near-dup ([[dedupEmbed]]) and the
    * ANN index ([[annIvf]]). One Lloyd's ASSIGNMENT step against k=16
    * deterministic seed centroids (the embeddings of vec_id < 16, so the
    * oracle can replay it; production iterates the same broadcast-assign
    * shuffle to convergence), then a within-cluster self-join marks every
    * vector that has a LOWER-id cluster-mate at cosine ≥ 0.4 as evicted.
    *
    * Scale shape: the assign pass is a broadcast map (k centroids × n
    * vectors, no shuffle of the corpus); the pair pass shuffles once on
    * cluster_id and compares ~n²/k pairs — with the IVF sizing rule
    * (k ∝ n, cluster size bounded) that candidate mass is LINEAR in n,
    * the same argument as [[annIvf]]'s probe fraction. Cosines are the
    * bit-exact sequential fold ([[cosineCol]]/[[cosineSql]]), so the
    * emitted cos_centroid double hash-matches the DuckDB replay. */
  private val semDedup = Spec(
    "llm_semdedup",
    s"""WITH cents AS (
       |  SELECT vec_id AS centroid_id, embedding AS cent
       |  FROM embeddings WHERE vec_id < 16),
       |scored AS (
       |  SELECT e.vec_id, e.embedding, c.centroid_id,
       |    ${cosineSql("e.embedding", "c.cent")} AS cos_centroid
       |  FROM embeddings e CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, embedding, centroid_id AS cluster_id, cos_centroid,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |                       ORDER BY cos_centroid DESC, centroid_id) AS rk
       |  FROM scored),
       |members AS (
       |  SELECT vec_id, embedding, cluster_id, cos_centroid
       |  FROM assigned WHERE rk = 1),
       |evicted AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM members a JOIN members b
       |    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
       |  WHERE ${cosineSql("a.embedding", "b.embedding")} >= 0.4)
       |SELECT m.vec_id, m.cluster_id, m.cos_centroid,
       |  (ev.vec_id IS NOT NULL) AS evicted
       |FROM members m LEFT JOIN evicted ev ON m.vec_id = ev.vec_id
       |ORDER BY m.vec_id""".stripMargin) { (s, d) =>
    // The llm_ann_ivf oracle-domain idiom: the oracle SQL
    // above replays the EXACT k=16 path, which the dispatch only takes at
    // n <= 8192. A fixture grown past that would flip the engine to the
    // production LSH-scaled path and surface as an opaque hash mismatch
    // that looks like an engine bug; fail with the reason instead. The
    // scale probe (TimeQ sets graft.scale.probe) runs amplified inputs
    // on purpose — there the dispatch divergence IS the measurement and
    // no oracle runs (scale_probe.py header).
    val n = embeddingsCount(s, d)
    require(n <= 8192 || System.getProperty("graft.scale.probe") == "1",
      s"llm_semdedup oracle domain: the registered oracle replays the " +
        s"exact k=16 path (valid at n <= 8192); fixture has $n " +
        s"embeddings under $d — re-pair the oracle, or this is a " +
        s"scale-witness run missing -Dgraft.scale.probe=1")
    semDedupDispatch(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      tau = 0.4, knownN = n)
  }

  /** Reusable SemDeDup pipeline over a (vec_id, embedding) frame — see
    * [[semDedup]]: one Lloyd's assignment against the `numSeeds`
    * lowest-id vectors as seed centroids, then every vector with a
    * LOWER-id cluster-mate at cosine ≥ tau is flagged evicted. Exposed
    * so tests can brute-force-verify the eviction set on constructed
    * corpora. */
  def semDedupFlags(vecs: DataFrame, numSeeds: Int, tau: Double)
      : DataFrame = {
    val cents = vecs.filter(col("vec_id") < numSeeds)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cent"))
    // Argmax as a max(struct) AGGREGATE, not a window: the crossJoin
    // emits the k centroid rows of a vector inside one partition, so
    // map-side combine collapses them to ONE row per vector before the
    // shuffle — a window would ship all k rows (each dragging the
    // 256-byte embedding) through the exchange just to keep rank 1.
    // Tie-break matches the oracle's (cos DESC, centroid_id ASC) via
    // the negated id as the second struct field; cos ties are broken
    // before the comparison ever reaches the embedding field.
    val scored = vecs.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("centroid_id"),
        cosineCol("embedding", "cent").as("cos_centroid"))
    val members = scored
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos_centroid"),
        (-col("centroid_id")).as("neg_cid"),
        col("centroid_id"), col("embedding"))).as("b"))
      .select(col("vec_id"), col("b.embedding").as("embedding"),
        col("b.centroid_id").as("cluster_id"),
        col("b.cos_centroid").as("cos_centroid"))
    val a = members.select(col("vec_id").as("a_id"),
      col("embedding").as("a_emb"), col("cluster_id").as("a_cl"))
    val b = members.select(col("vec_id").as("b_id"),
      col("embedding").as("b_emb"), col("cluster_id").as("b_cl"))
    val evicted = a.join(b,
        col("a_cl") === col("b_cl") && col("a_id") < col("b_id"))
      .filter(cosineCol("a_emb", "b_emb") >= tau)
      .select(col("b_id").as("ev_id")).distinct()
    members.join(evicted, col("vec_id") === col("ev_id"), "left")
      .select(col("vec_id"), col("cluster_id"), col("cos_centroid"),
        col("ev_id").isNotNull.as("evicted"))
      .orderBy(col("vec_id"))
  }

  /** Row count of the embeddings fixture per (session, corpus), so
    * [[semDedupDispatch]] picks its path without a full count() scan on
    * every invocation. Sound because the fixture at a path is immutable
    * for a session's lifetime. */
  private val embCounts = new graft.sources.SessionMemo[Long]()

  private[graft] def embeddingsCount(s: SparkSession, d: String): Long =
    embCounts(s, d)(Tables.embeddings(s, d).count())

  /** Density dispatch for [[semDedup]] (the [[embedNearDupPairs]]
    * pattern): at fixture densities (n ≤ 8192) the exact k=16 path —
    * every cluster small enough that the within-cluster pair pass is
    * trivially bounded and the DuckDB oracle replays the whole thing;
    * above it, the production sizing ([[semDedupParams]]: k ∝ n holds
    * mean cluster size ~256, p grows with k to hold ~8 centroids per
    * bucket) with LSH-bucketed centroid assignment
    * ([[semDedupFlagsScaled]]) — both passes LINEAR in n. Callers that
    * already know the count pass it via `knownN` (the registered row
    * uses the memoized [[embeddingsCount]]); otherwise one cheap
    * logged pass, like the near-dup dispatch. */
  def semDedupDispatch(vecs: DataFrame, tau: Double,
      knownN: Long = -1L): DataFrame = {
    val n = if (knownN >= 0) knownN else vecs.count()
    val small = n <= 8192
    System.err.println(s"[graft] semDedupDispatch n=$n path=" +
      (if (small) "exact-k16" else "lsh-scaled"))
    if (small) semDedupFlags(vecs, numSeeds = 16, tau = tau)
    else {
      val (k, p) = semDedupParams(n)
      semDedupFlagsScaled(vecs, k, p, tau)
    }
  }

  /** Production sizing: k = ⌈n/256⌉ centroids (mean cluster size ~256 ⇒
    * within-cluster pair mass ~256·n, linear) and p = ⌈log₂(k/8)⌉
    * hyperplanes (2^p buckets hold ~8 centroids each ⇒ assignment
    * candidate mass ~(1+p)·8·n, linear). p is capped at 12 — 4096
    * buckets carries k ≈ 32k centroids ≈ 8 M vectors per partition-set;
    * past that the growth belongs in more tables, the
    * [[orTableParams]] lesson (never widen a bitset past its width). */
  def semDedupParams(n: Long): (Int, Int) = {
    val k = math.max(16, math.ceil(n / 256.0).toInt)
    // ⌈log₂⌉ in integer arithmetic: the floating form
    // ⌈log(k/8)/log(2)⌉ can round log2 UP at exact powers of two
    // (4.000000000000001 → 5), silently picking one extra hyperplane.
    // ⌈log₂(x)⌉ == ⌈log₂(⌈x⌉)⌉ for x > 0 (both count the power-of-two
    // interval ⌈x⌉ lands in), so compute on c = ⌈k/8⌉ via
    // numberOfLeadingZeros: for c ≥ 2, ⌈log₂(c)⌉ = 64 − nlz(c − 1).
    val c = (k + 7) / 8
    val log2c = if (c <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(c - 1L)
    val p = math.max(2, math.min(12, log2c))
    (k, p)
  }

  /** SemDeDup's production-scale assignment: centroids are LSH-bucketed
    * once ([[org.apache.spark.sql.graft.HyperplaneBucket]], table 0, p
    * planes), each vector probes its own bucket plus every radius-1
    * flip (p+1 distinct buckets — a centroid can meet a vector at most
    * once, so the argmax needs no dedup), and the best candidate wins
    * the same max(struct) aggregate as the exact path. A vector whose
    * probed buckets hold NO centroid is an ORPHAN: cluster −1,
    * cos_centroid −1.0, a singleton that can never evict — the honest
    * residue of approximate assignment, mirrored exactly by the oracle
    * (COALESCE), not hidden. The centroid join is a plain equi-join on
    * the bucket id: candidate mass ≈ (1+p)·(k/2^p)·n stays linear under
    * [[semDedupParams]] and nothing is broadcast that grows with n. */
  def semDedupFlagsScaled(vecs: DataFrame, k: Int, p: Int, tau: Double)
      : DataFrame = {
    def bucketOf(c: Column): Column =
      org.apache.spark.sql.graft.HyperplaneBucket(c, p, 0)
    val cents = vecs.filter(col("vec_id") < k)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cent"),
        bucketOf(col("embedding")).as("cbucket"))
    val masks = 0 +: (0 until p).map(1 << _)
    val probed = vecs
      .select(col("vec_id"), col("embedding"),
        bucketOf(col("embedding")).as("vb"))
      .select(col("vec_id"), col("embedding"),
        explode(array(masks.map(m =>
          col("vb").bitwiseXOR(lit(m))): _*)).as("pb"))
    val best = probed.join(cents, col("pb") === col("cbucket"))
      .select(col("vec_id"), col("embedding"), col("centroid_id"),
        cosineCol("embedding", "cent").as("cos_centroid"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos_centroid"),
        (-col("centroid_id")).as("neg_cid"),
        col("centroid_id"), col("embedding"))).as("b"))
      .select(col("vec_id"), col("b.embedding").as("embedding"),
        col("b.centroid_id").as("cluster_id"),
        col("b.cos_centroid").as("cos_centroid"))
    val orphans = vecs
      .join(best.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("embedding"),
        lit(-1L).as("cluster_id"), lit(-1.0).as("cos_centroid"))
    val members = best.unionByName(orphans)
    val a = members.filter(col("cluster_id") >= 0)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        col("cluster_id").as("a_cl"))
    val b = members.filter(col("cluster_id") >= 0)
      .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        col("cluster_id").as("b_cl"))
    val evicted = a.join(b,
        col("a_cl") === col("b_cl") && col("a_id") < col("b_id"))
      .filter(cosineCol("a_emb", "b_emb") >= tau)
      .select(col("b_id").as("ev_id")).distinct()
    members.join(evicted, col("vec_id") === col("ev_id"), "left")
      .select(col("vec_id"), col("cluster_id"), col("cos_centroid"),
        col("ev_id").isNotNull.as("evicted"))
      .orderBy(col("vec_id"))
  }

  /** The scaled construction FORCED at the n=32768 production
    * parameters (k=128 centroids, p=4 planes) so its candidate
    * generation has an exact DuckDB replay — the [[orTablesSpec]]
    * idiom: literal ±1 sign matrix, bit-exact sequential dot folds,
    * bucket = Σ(dot>0)·2^p, radius-1 probe masks as a VALUES table,
    * argmax by (cos DESC, centroid ASC), orphans via COALESCE(−1),
    * within-cluster eviction at τ=0.4. Parity is exact because the
    * oracle replays the GENERATION — no dependence on assignment
    * quality. The registered [[semDedup]] row dispatches to this
    * construction above n=8192 with (k, p) re-derived from the real n
    * ([[semDedupDispatch]]); this row pins the pinned-parameter form
    * and is therefore excluded from the scale probe, the same
    * adjudication as llm_dedup_embed_ortables. */
  private val semDedupForcedN = 32768L

  private def semDedupScaledOracleSql: String = {
    val (k, p) = semDedupParams(semDedupForcedN)
    def fold(l: String) =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $l), (x, y) -> x + y)"
    val signRows = (0 until p).map { plane =>
      val ss = (0 until 64)
        .map(dm => if (hyperplaneSign(plane, dm) > 0) '+' else '-').mkString
      s"($plane, '$ss')"
    }.mkString(", ")
    val maskRows = (0 +: (0 until p).map(1 << _))
      .map(m => s"($m)").mkString(", ")
    s"""WITH dims AS (SELECT unnest(generate_series(0, 63)) AS dim),
       |sgns AS (SELECT * FROM (VALUES $signRows) sg(plane, ss)),
       |slong AS (
       |  SELECT plane, dim,
       |    CASE WHEN substring(ss, dim + 1, 1) = '+' THEN CAST(1.0 AS DOUBLE)
       |         ELSE CAST(-1.0 AS DOUBLE) END AS sgn
       |  FROM sgns, dims),
       |elong AS (
       |  SELECT vec_id, dim, CAST(embedding[dim + 1] AS DOUBLE) AS val
       |  FROM embeddings, dims WHERE dim < len(embedding)),
       |dots AS (
       |  SELECT vec_id, plane AS p,
       |    ${fold("list(sgn * val ORDER BY dim)")} AS dot
       |  FROM elong JOIN slong USING (dim)
       |  GROUP BY vec_id, plane),
       |buckets AS (
       |  SELECT vec_id,
       |    CAST(SUM(CASE WHEN dot > 0 THEN 1 << p ELSE 0 END) AS BIGINT)
       |      AS bucket
       |  FROM dots GROUP BY vec_id),
       |cents AS (
       |  SELECT e.vec_id AS centroid_id, e.embedding AS cent,
       |    b.bucket AS cbucket
       |  FROM embeddings e JOIN buckets b ON b.vec_id = e.vec_id
       |  WHERE e.vec_id < $k),
       |masks AS (SELECT * FROM (VALUES $maskRows) mk(mask)),
       |probed AS (
       |  SELECT e.vec_id, e.embedding,
       |    xor(b.bucket, CAST(mask AS BIGINT)) AS pb
       |  FROM embeddings e JOIN buckets b ON b.vec_id = e.vec_id
       |  CROSS JOIN masks),
       |cand AS (
       |  SELECT pr.vec_id, c.centroid_id,
       |    ${cosineSql("pr.embedding", "c.cent")} AS cos_centroid
       |  FROM probed pr JOIN cents c ON pr.pb = c.cbucket),
       |best AS (
       |  SELECT vec_id, centroid_id AS cluster_id, cos_centroid,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |                       ORDER BY cos_centroid DESC, centroid_id) AS rk
       |  FROM cand),
       |members AS (
       |  SELECT e.vec_id, e.embedding,
       |    COALESCE(b.cluster_id, CAST(-1 AS BIGINT)) AS cluster_id,
       |    COALESCE(b.cos_centroid, CAST(-1.0 AS DOUBLE)) AS cos_centroid
       |  FROM embeddings e
       |  LEFT JOIN (SELECT * FROM best WHERE rk = 1) b
       |    ON b.vec_id = e.vec_id),
       |evicted AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM members a JOIN members b
       |    ON a.cluster_id = b.cluster_id AND a.cluster_id >= 0
       |      AND a.vec_id < b.vec_id
       |  WHERE ${cosineSql("a.embedding", "b.embedding")} >= 0.4)
       |SELECT m.vec_id, m.cluster_id, m.cos_centroid,
       |  (ev.vec_id IS NOT NULL) AS evicted
       |FROM members m LEFT JOIN evicted ev ON m.vec_id = ev.vec_id
       |ORDER BY m.vec_id""".stripMargin
  }

  private val semDedupScaledSpec = Spec(
    "llm_semdedup_scaled", semDedupScaledOracleSql) { (s, d) =>
    val (k, p) = semDedupParams(semDedupForcedN)
    semDedupFlagsScaled(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      k, p, 0.4)
  }
}
