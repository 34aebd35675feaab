package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Spec
import graft.sources.Tables

/** SURVEY.md §2.10 — text side of the LLM-data-pipeline mandate:
  * exact + n-gram dedup, text stats, language ID, quality scoring, token
  * counting, fingerprinting, tf-idf.
  *
  * Everything here is shuffle-shaped for 100 TB: dedup is a groupBy on the
  * normalized text (at real scale: on xxhash64 of it, same plan shape);
  * n-gram similarity is an exploded equi-join on the shingle (inverted
  * index), never a crossJoin; stats/tf-idf are two-phase hash aggregates.
  * All arithmetic in oracle-checked outputs is integer or
  * identical-op-order double (no libm transcendentals except where
  * explicitly verified).
  */
object LlmText {
  def specs: Seq[Spec] = Seq(dedupExact, dedupNgram, dedupCluster, textStats,
    langId, quality, tokenCount, fingerprint, tfidf, ngramLm, cooccur,
    dedupIncremental, lmScore, urlCanonical, textNormalize, bm25, bm25Ln,
    dupSpan)

  /** Text normalization — the map-only pass that runs BEFORE every
    * dedup/fingerprint stage of a crawl pipeline (llm_dedup_*,
    * llm_fingerprint): casefold, strip punctuation, collapse runs of
    * whitespace, trim. Without it, `Hello,  World!` and `hello world`
    * land in different MinHash buckets and the dedup recall silently
    * drops — normalization is a correctness input to dedup, not
    * cosmetics. The fixture text is already clean, so each doc is first
    * deterministically DIRTIED (case flips, injected punctuation,
    * padded whitespace) and the row proves normalize(dirty) == the
    * clean normal form — i.e. the chain is idempotent-to-the-fixture,
    * witnessed per row with a boolean the oracle also computes. All
    * built-in regexp_replace (codegen'd, RE2-compatible patterns both
    * engines). */
  private val textNormalize = Spec(
    "llm_text_normalize",
    """WITH dirty AS (
      |  SELECT doc_id,
      |    '  ' || upper(substr(text, 1, 8)) || substr(text, 9)
      |      || '!!  ' AS raw, text
      |  FROM documents WHERE doc_id < 300),
      |norm AS (
      |  SELECT doc_id, text,
      |    trim(regexp_replace(regexp_replace(lower(raw),
      |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS cleaned
      |  FROM dirty)
      |SELECT doc_id, cleaned, cleaned = text AS matches_clean
      |FROM norm ORDER BY doc_id""".stripMargin) { (s, d) =>
    val raw = concat(lit("  "), upper(substring(col("text"), 1, 8)),
      substring(col("text"), 9, 1000000), lit("!!  "))
    val cleaned = trim(regexp_replace(regexp_replace(lower(raw),
      "[^a-z0-9 ]", ""), " +", " "))
    Tables.documents(s, d)
      .filter(col("doc_id") < 300)
      .select(col("doc_id"), cleaned.as("cleaned"),
        (cleaned === col("text")).as("matches_clean"))
      .orderBy(col("doc_id"))
  }

  /** Perplexity-proxy quality scoring — rank every document by how
    * typical its word transitions are under the corpus's own bigram LM
    * (the filter that catches boilerplate, gibberish, and wrong-language
    * strays before training). True perplexity exponentiates a log-prob
    * mean — libm, banned by the oracle's cross-engine float rule — so the
    * score is the arithmetic mean of the bigram conditional probabilities
    * P(w2|w1): same ordering intuition (low = atypical), zero
    * transcendentals. Each p is an exact int/int double division
    * (identical operands both engines), decimal-cast before the
    * order-independent sum (§7.4). Plan: one explode, LM counts by two
    * hash aggs, then the doc bigram stream joins the LM on the bigram key
    * and re-aggregates per doc — at 100 TB the LM table is pruned to
    * top-V and broadcast, making the scoring pass map-side. */
  private val lmScore = Spec(
    "llm_lm_score",
    """WITH bg AS (
      |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      |  FROM (SELECT doc_id, ws,
      |          unnest(generate_series(1, len(ws) - 1)) AS i
      |        FROM (SELECT doc_id, string_split(text, ' ') AS ws
      |              FROM documents)
      |        WHERE len(ws) >= 2)),
      |c12 AS (SELECT w1, w2, COUNT(*) AS n12 FROM bg GROUP BY w1, w2),
      |c1 AS (SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM c12
      |       GROUP BY w1)
      |SELECT b.doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(CAST(CAST(c12.n12 AS DOUBLE) / c1.n1 AS DECIMAL(28,6)))
      |    AS DOUBLE) / COUNT(*) AS avg_p
      |FROM bg b
      |JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
      |JOIN c1 ON c12.w1 = c1.w1
      |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin) { (s, d) =>
    val bg = docsWords(s, d)
      .filter(size(col("words")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(words) - 2),
          |  i -> struct(words[i] AS w1, words[i + 1] AS w2))"""
          .stripMargin)).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    // persist the LM table: it is vocab²-bounded (tiny next to the
    // corpus) and referenced twice (the scoring join and the prefix
    // rollup) — without it the bigram explode over documents runs three
    // times. Memoized per sfDir so evictSfDir can release it.
    val c12 = graft.sources.SessionMemo.persisted(s, d, "lm_c12") {
      bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n12")).persist()
    }
    val c1 = c12.groupBy(col("w1")).agg(sum(col("n12")).as("n1"))
    bg.join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .withColumn("p", col("n12").cast("double") / col("n1"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(graft.functions.Det.dec6(col("p"))).cast("double")
          / count(lit(1))).as("avg_p"))
      .orderBy(col("doc_id"))
  }

  /** Incremental ingest dedup — the production shape of [[dedupExact]]:
    * a NEW batch (keys ≡0 mod 5 stand in for today's crawl) is deduped
    * against the EXISTING corpus by fingerprint anti-join, then within
    * itself (first doc_id per fingerprint wins). The scale contract is
    * that ingest never re-reads the corpus: at 100 TB the right side is
    * the persisted fingerprint INDEX (md5 per doc — a few % of corpus
    * bytes), bucketed by fingerprint so the anti-join co-partitions; a
    * daily batch is small enough to broadcast, making the whole admission
    * decision map-side. Fingerprints are md5 of normalized text —
    * identical lowercase-hex in both engines. */
  private val dedupIncremental = Spec(
    "llm_dedup_incremental",
    """WITH f AS (
      |  SELECT doc_id, md5(lower(trim(text))) AS fp
      |  FROM documents WHERE text IS NOT NULL),
      |newb AS (SELECT doc_id, fp FROM f WHERE doc_id % 5 = 0),
      |old AS (SELECT DISTINCT fp FROM f WHERE doc_id % 5 <> 0)
      |SELECT doc_id, fp FROM (
      |  SELECT n.doc_id, n.fp,
      |    ROW_NUMBER() OVER (PARTITION BY n.fp ORDER BY n.doc_id) AS rn
      |  FROM newb n
      |  WHERE NOT EXISTS (SELECT 1 FROM old o WHERE o.fp = n.fp))
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val f = Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), md5(lower(trim(col("text")))).as("fp"))
    val newBatch = f.filter(col("doc_id") % 5 === 0)
    val oldIndex = f.filter(col("doc_id") % 5 =!= 0).select(col("fp")).distinct()
    newBatch.join(oldIndex, Seq("fp"), "left_anti")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }

  /** Skip-gram co-occurrence with lift: canonical unordered word pairs
    * within a ±2 token window, scored by
    * lift = n_pair · T / (n_a · n_b) — association strength against the
    * independence baseline, the embedding/PMI prestep (PMI itself is
    * ln(lift); ln is banned from oracle-checked outputs by the libm rule,
    * and lift is the same ranking). Top-50 under the (n_pair DESC, wa,
    * wb) total order. Plan: one nested-transform explode for the pair
    * stream, hash aggregates for pair/unigram/total counts, two
    * broadcast-sized joins on the 50-row top set — the heavy explode
    * shuffles only 8-byte-ish pair keys, and every division is a single
    * IEEE double op, identical across engines. */
  private val cooccur = Spec(
    "llm_cooccur",
    """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
      |toks AS (SELECT unnest(ws) AS t FROM w),
      |uni AS (SELECT t, COUNT(*) AS n FROM toks GROUP BY t),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM toks),
      |pr AS (SELECT unnest(flatten(list_transform(
      |         generate_series(1, len(ws) - 1), i ->
      |           list_transform(generate_series(i + 1, least(i + 2, len(ws))),
      |             j -> CASE WHEN ws[i] <= ws[j]
      |                    THEN ws[i] || ' ' || ws[j]
      |                    ELSE ws[j] || ' ' || ws[i] END)))) AS k
      |       FROM w WHERE len(ws) >= 2),
      |np AS (SELECT k, COUNT(*) AS n_pair FROM pr GROUP BY k)
      |SELECT string_split(k, ' ')[1] AS wa, string_split(k, ' ')[2] AS wb,
      |  n_pair, a.n AS n_a, b.n AS n_b,
      |  (CAST(n_pair AS DOUBLE) * CAST(total AS DOUBLE))
      |    / (CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE)) AS lift
      |FROM np
      |JOIN uni a ON string_split(k, ' ')[1] = a.t
      |JOIN uni b ON string_split(k, ' ')[2] = b.t
      |CROSS JOIN tot
      |ORDER BY n_pair DESC, wa, wb LIMIT 50""".stripMargin) { (s, d) =>
    val words = docsWords(s, d).select(col("words"))
    val toks = words.select(explode(col("words")).as("t"))
    val uni = toks.groupBy(col("t")).agg(count(lit(1)).as("n"))
    // Round 21 (guide §2.3 "aggregate before you shuffle" / §2.4): the
    // corpus token total is the sum of the per-token counts, so roll it
    // up from `uni` instead of running a FOURTH full explode+count pass
    // over documents (plans/r21/llm_cooccur_before.txt nodes 30-37 —
    // scan+Generate+two HashAggregates just for `total`). The rollup's
    // subtree canonicalizes to the same exchange as `uni`, so AQE
    // exchange reuse serves it from the already-built unigram stage.
    // Σ count(*) per group ≡ count(*) overall (every token is in exactly
    // one group), and sum(LongType) is LongType. One nullability nuance
    // (ADVICE r21 #4): sum() is NULL on an empty corpus where count(*)
    // was 0 — output is unaffected because `total` is consumed only in
    // the lift arithmetic after joins that are empty in that case anyway.
    val tot = uni.agg(sum(col("n")).as("total"))
    val np = words.filter(size(col("words")) >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(words) - 2), i ->
          |  transform(sequence(i + 1, least(i + 2, size(words) - 1)), j ->
          |    if(words[i] <= words[j],
          |       concat_ws(' ', words[i], words[j]),
          |       concat_ws(' ', words[j], words[i])))))""".stripMargin))
        .as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_pair"))
    // Top-50 BEFORE the unigram joins (same argument as llm_ngram_lm:
    // order keys are pre-join, joins are key-unique, so the enrich joins
    // land on 50 rows instead of the full distinct-pair set).
    np
      .select(element_at(split(col("k"), " "), 1).as("wa"),
        element_at(split(col("k"), " "), 2).as("wb"), col("n_pair"))
      .orderBy(col("n_pair").desc, col("wa"), col("wb")).limit(50)
      .join(uni.select(col("t").as("wa"), col("n").as("n_a")), "wa")
      .join(uni.select(col("t").as("wb"), col("n").as("n_b")), "wb")
      .crossJoin(broadcast(tot))
      .select(col("wa"), col("wb"), col("n_pair"), col("n_a"), col("n_b"),
        ((col("n_pair").cast("double") * col("total").cast("double"))
          / (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("lift"))
      .orderBy(col("n_pair").desc, col("wa"), col("wb"))
  }

  private def docsWords(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"),
        split(col("text"), " ").as("words"))

  /** Corpus bigram language-model counts: the 50 most frequent bigrams
    * with their conditional probability P(w2 | w1) = c(w1,w2) / c(w1,·) —
    * the classic n-gram-LM / data-mixing prestep. The prefix total
    * c(w1,·) is re-aggregated FROM the bigram counts (not a separate
    * unigram pass), so numerator and denominator share one explode and
    * boundary handling can never diverge. Plan: one generate+explode, two
    * two-phase hash aggregates, an equi-join on w1, and a
    * TakeOrderedAndProject top-50 under the (n12 DESC, w1, w2) total
    * order — no global sort, no window; conditional p is a single exact
    * IEEE int/int double division. */
  private val ngramLm = Spec(
    "llm_ngram_lm",
    """SELECT w1, w2, n12, n1, CAST(n12 AS DOUBLE) / n1 AS p
      |FROM (SELECT w1, w2, COUNT(*) AS n12
      |      FROM (SELECT ws[i] AS w1, ws[i + 1] AS w2
      |            FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1))
      |                    AS i
      |                  FROM (SELECT string_split(text, ' ') AS ws
      |                        FROM documents)
      |                  WHERE len(ws) >= 2))
      |      GROUP BY w1, w2) c12
      |JOIN (SELECT w1 AS w1b, CAST(SUM(n12b) AS BIGINT) AS n1
      |      FROM (SELECT w1, w2, COUNT(*) AS n12b
      |            FROM (SELECT ws[i] AS w1, ws[i + 1] AS w2
      |                  FROM (SELECT ws, unnest(generate_series(1,
      |                          len(ws) - 1)) AS i
      |                        FROM (SELECT string_split(text, ' ') AS ws
      |                              FROM documents)
      |                        WHERE len(ws) >= 2))
      |            GROUP BY w1, w2)
      |      GROUP BY w1) c1
      |  ON w1 = w1b
      |ORDER BY n12 DESC, w1, w2 LIMIT 50""".stripMargin) { (s, d) =>
    val bg = docsWords(s, d)
      .filter(size(col("words")) >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(words) - 2),
          |  i -> struct(words[i] AS w1, words[i + 1] AS w2))"""
          .stripMargin)).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("n12")).as("n1"))
    // Top-50 BEFORE the prefix-total join: the order keys are all computed
    // pre-join and the join is key-unique, so limiting first is
    // semantically identical — and the join input shrinks from |distinct
    // bigrams| to 50 rows (Spark does not push TakeOrdered through a
    // join on its own). n1 still aggregates over the FULL bigram table.
    c12.orderBy(col("n12").desc, col("w1"), col("w2")).limit(50)
      .join(c1, "w1")
      .select(col("w1"), col("w2"), col("n12"), col("n1"),
        (col("n12").cast("double") / col("n1")).as("p"))
      .orderBy(col("n12").desc, col("w1"), col("w2"))
  }

  /** Exact dedup by normalized text, keeping the smallest doc_id as the
    * canonical representative. The fixture has duplicates only at sf0.1
    * (FIXTURES.md) — at sf0.01 this must be (and is) an identity-cardinality
    * pass, which is itself a correctness property. */
  private val dedupExact = Spec(
    "llm_dedup_exact",
    """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies,
      |  MIN(n_chars) AS n_chars
      |FROM documents GROUP BY lower(trim(text))
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(lower(trim(col("text"))).as("norm"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"),
        min(col("n_chars")).as("n_chars"))
      .select(col("doc_id"), col("n_copies"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** The `sh(doc_id, shingle)` CTE fragment alone — THE one SQL definition
    * of a document's distinct 3-word shingles, shared by every oracle that
    * touches shingles (pairs/cluster here, contamination in
    * [[LlmPipeline]]) so the definition can never drift between them. It
    * must mirror [[docShingles]] exactly. */
  private[graft] val shingleSqlCte: String =
    """sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(string_split(text,' ')) - 2),
      |    i -> concat_ws(' ', string_split(text,' ')[i],
      |                   string_split(text,' ')[i+1],
      |                   string_split(text,' ')[i+2])))) AS shingle
      |  FROM documents WHERE len(string_split(text,' ')) >= 3)""".stripMargin

  /** DuckDB CTEs computing the Jaccard ≥ `threshold` shingle pairs (result
    * relation: `pairs(doc_a, doc_b, n_inter, n_a, n_b, jaccard)`) — shared
    * by the pair query, the clustering oracle, and (at 0.7) the MinHash
    * near-dup oracle in [[LlmVector]]. `threshold` is spliced verbatim, so
    * pass a literal like "0.5". */
  private[graft] def ngramPairsSqlCteAt(threshold: String): String =
    s"""WITH $shingleSqlCte,
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT doc_a, doc_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
      |    CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
      |  FROM inter
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter)
      |    >= $threshold)"""
      .stripMargin

  private val ngramPairsSqlCte = ngramPairsSqlCteAt("0.5")

  /** (doc_id, sh) inverted index of distinct 3-word shingles, hashed to 8
    * bytes — the shared substrate of the n-gram dedup family and the
    * contamination check in [[LlmPipeline]].
    *
    * Each shingle is hashed INSIDE the transform, so the per-document
    * `array_distinct` deduplicates 8-byte longs instead of ~20-char
    * strings and the generator emits longs directly (the shingle string
    * exists only transiently inside the lambda). Measured against
    * hashing after the dedup, on the build's cold pass — the pass every
    * bench/JVM pays once into the postings cache — 1.28 → 0.69 s, warm
    * 0.33 → 0.28 s (sf0.1 amplified ×32).
    * Distinctness therefore happens on the hash rather than on the
    * string: the two differ only if xxhash64 collides WITHIN one
    * document's shingle set (~w²/2⁶⁴ for a w-shingle doc), in which case
    * n_sh/n_inter could undercount by that one shingle — the same
    * vanishingly-unlikely collision class the hashed JOIN key already
    * accepted (a cross-document collision has always been able to
    * overcount one shared shingle). Oracle-verified identical on the
    * fixtures; consumers never see the string either way. */
  private[graft] def docShingles(s: SparkSession, d: String): DataFrame =
    docsWords(s, d)
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(expr(
          """transform(sequence(0, size(words) - 3),
            |  i -> xxhash64(concat_ws(' ',
            |    words[i], words[i+1], words[i+2])))"""
            .stripMargin))).as("sh"))

  /** Materialized near-dup pairs per (session, corpus, df cap): the
    * Jaccard self-join is the shared, expensive substrate of
    * llm_dedup_ngram AND llm_dedup_cluster, so its result (tiny: the
    * pairs, not the index) is computed once and persisted. Sound only
    * while the corpus at a path is immutable for the session's lifetime
    * — true of the driver fixtures and of every test (synthetic corpora
    * use fresh temp dirs). */
  private val pairs = new graft.sources.SessionMemo[DataFrame]()

  private val log = org.slf4j.LoggerFactory.getLogger("graft.LlmText")

  private[graft] def ngramPairs(s: SparkSession, d: String,
      maxDf: Int = 1024): DataFrame =
    pairs(s, d, maxDf.toString)(computeNgramPairs(s, d, maxDf))

  /** Spark form of the `pairs` relation above. The inverted index carries
    * xxhash64(shingle), not the string: the equi-join shuffles 8-byte keys
    * instead of ~20-char strings, and since round 22 the hash is applied
    * inside the shingle transform itself (see [[docShingles]] for the
    * collision accounting — a 64-bit collision can overcount one shared
    * shingle or, within a single document, undercount its set size by
    * one; both are ~2⁻⁶⁴-scale and oracle-excluded on the fixtures).
    *
    * `maxDf` is the standard skew defense for set-similarity joins: a
    * shingle appearing in k docs contributes k(k-1)/2 pairs to the
    * self-join, so one stopword 3-gram shared by 10⁶ docs makes a 10¹²-pair
    * group. Postings of shingles with document frequency > maxDf are
    * dropped before the join (set sizes stay exact — computed on the
    * uncapped index — so jaccard can only be underestimated for pairs whose
    * overlap is mostly ubiquitous shingles, which is exactly the evidence a
    * near-dup detector should discount). The default is far above the
    * fixture max df (25 at sf0.1), so fixture output is bit-identical to
    * the uncapped oracle; HotShingleCapSpec exercises the capped regime.
    * (A collect_list + pair-explode variant was measured equal at fixture
    * volume and rejected: it accumulates a hot shingle's full posting list
    * BEFORE any size filter can drop it, so the df-cap join is the form
    * whose skew bound actually holds at 100 TB.) */
  /** Recursive on-disk byte size of a fixture path (file or directory). */
  private def pathBytes(f: java.io.File): Long =
    if (f.isDirectory)
      Option(f.listFiles()).fold(0L)(_.map(pathBytes).sum)
    else if (f.isFile) f.length else 0L

  /** Shuffle width for the substrate BUILD, scaled with corpus bytes
    * (VERDICT r18 #5): the build's first pass at the 32× probe scale
    * spilled 7.2 GB — partial-aggregate overflow ∝ the self-join's
    * output volume over a FIXED reducer count — and the round-18
    * adjudication measured the rule that bounds it: doubling reducers
    * halves the spill (per-reducer build volume is what crosses the
    * execution-memory line). Encode the rule as a scoped width: one
    * reducer per ~64 KiB of compressed corpus, floored at the session
    * default (fixture scale stays on the default width — bench plans
    * unchanged) and capped at 1024 (task-launch overhead bound). At
    * 100 TB this is the standard practice the row models: shuffle
    * width follows input volume, not a global constant. */
  private[graft] def substrateShuffleWidth(s: SparkSession,
      d: String): Int = {
    val base = s.conf.get("spark.sql.shuffle.partitions").toInt
    val bytes = pathBytes(new java.io.File(
      java.nio.file.Paths.get(d).toAbsolutePath.normalize.toString,
      "documents.parquet"))
    math.max(base, math.min(1024, (bytes / (64L << 10)).toInt))
  }

  /** The build runs on a clone at [[substrateShuffleWidth]]; the frame it
    * returns (and memoizes) is bound to `s`, so consumers plan at the
    * session width and read the cache. When the build ran WIDER than
    * the session, the tiny filtered pair set is repartitioned back down
    * before persisting: the cached representation's partition count is
    * what every steady consumer pays per scan (measured: a 291-partition
    * cache at the 32× probe scale turned the 0.15 s steady read into
    * 1.6 s of task-launch overhead), while the extra shuffle moves only
    * the near-dup pairs — kilobytes. At equal widths the exchange is
    * skipped, so fixture-scale plans stay byte-identical. */
  private def computeNgramPairs(s: SparkSession, d: String,
      maxDf: Int): DataFrame = {
    val base = s.conf.get("spark.sql.shuffle.partitions").toInt
    val width = substrateShuffleWidth(s, d)
    val onBuildWidth = (df: DataFrame) => graft.Sessions.scoped(df,
      "spark.sql.shuffle.partitions" -> width.toString)
    // The postings index feeds three consumers below (sizes, the df cap,
    // and both sides of the self-join); persist it for the computation and
    // release it once the memoized pairs are materialized.
    val sh = docShingles(s, d).persist()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    // Posting lists after the document-frequency cap. The df aggregate and
    // the postings join share the hash partitioning on `sh` that the
    // self-join below needs anyway (exchange reuse), so the cap costs one
    // co-partitioned aggregate, not an extra shuffle shape.
    // Round-21 adjudication: persisting dfAgg (so the >maxDf diagnostic
    // below could read a cache instead of re-aggregating the postings)
    // was tried and REVERTED — the cache boundary breaks exactly the
    // exchange sharing this comment describes, and the cap join then
    // re-partitions the cached side: bench shuffle_mb rose 124.916 →
    // 131.889 (byte-stable at the new value, i.e. a deterministic plan
    // regression, not noise) while the diagnostic saved only ~0.6 s of
    // cached-scan time. The diagnostic's re-aggregation stays; its cost
    // is now logged (below) so future rounds can re-adjudicate.
    val dfAgg = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val capped = sh.join(
      dfAgg.filter(col("df") <= maxDf).select(col("sh")),
      "sh")
    val inter = capped.alias("a")
      .join(capped.alias("b"),
        col("a.sh") === col("b.sh")
          && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    val jac = (col("n_inter").cast("double")
      / (col("n_a") + col("n_b") - col("n_inter")))
    val filtered = inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")),
        "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")),
        "doc_b")
      .withColumn("jaccard", jac)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"),
        col("n_b"), col("jaccard"))
    val pairs = if (width == base) filtered else filtered.repartition(base)
    val built = onBuildWidth(pairs).persist()
    val t0 = System.nanoTime()
    // Materialize the pairs eagerly, then drop the (large) index. Since
    // round 8 the bench PRE-PAYS this cost (Bench times the forcing
    // count itself and reports it as "materialize_pairs"); outside the
    // bench it still bills to whichever consumer runs first, so log the
    // build-only time to keep that legible rather than looking like a
    // slow query. See BASELINE.md.
    //
    // Round 22 (guide §2.6 "overlap independent jobs"): the df-cap
    // diagnostic below is independent of the pair materialization —
    // both are read-only jobs over the persisted postings — so it runs
    // CONCURRENTLY with pairs.count() and back-fills the pair job's
    // stage tails instead of paying its own sequential job launch after
    // it (measured ~0.2-0.4 s per build at sf0.1 ×32). The r21 persist
    // adjudication (see the dfAgg comment above) is untouched: nothing
    // new is cached and neither plan changes — only the scheduling of
    // the two actions. The pool is drained in Overlap's finally, so no
    // detached job can outlive the build even on the exception path.
    //
    // Diagnosability (ADVICE r2): when the cap actually fires, jaccard
    // can undercount vs an uncapped oracle — say so loudly here instead
    // of letting it surface as an unexplained hash mismatch.
    val dropped = Overlap.overlapped(2) { implicit ec =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val pairsF = Future(built.count())
      val diagF = Future(onBuildWidth(dfAgg.filter(col("df") > maxDf)
        .agg(coalesce(sum(col("df")), lit(0L)).as("postings"),
          count(lit(1)).as("shingles"))).first())
      Await.result(pairsF, Duration.Inf)
      Await.result(diagF, Duration.Inf)
    }
    val buildSec = (System.nanoTime() - t0) / 1e9
    log.warn(f"materialized ngram near-dup pairs for $d (maxDf=$maxDf) in " +
      f"$buildSec%.1f s (df-cap diagnostic overlapped) — one-time cost " +
      "shared by llm_dedup_ngram / llm_dedup_cluster / llm_contamination")
    if (dropped.getLong(1) > 0)
      log.warn(s"ngram df-cap fired: dropped ${dropped.getLong(0)} postings " +
        s"of ${dropped.getLong(1)} hot shingles (df > $maxDf); pair jaccard " +
        "may undercount vs an uncapped exact oracle")
    sh.unpersist()
    pairs
  }

  /** Near-dup candidates by 3-word-shingle Jaccard ≥ 0.5, computed via an
    * inverted shingle index (explode + equi-join + count), the
    * set-similarity-join shape that scales: work is proportional to
    * co-occurring shingles, not to |docs|². */
  private val dedupNgram = Spec(
    "llm_dedup_ngram",
    s"""$ngramPairsSqlCte
       |SELECT doc_a, doc_b, n_inter, n_a, n_b, jaccard FROM pairs
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    ngramPairs(s, d).orderBy(col("doc_a"), col("doc_b"))
  }

  /** Duplicate-cluster assignment: connected components over the near-dup
    * pair graph, each doc labeled with the min doc_id of its component
    * (the canonical representative a training pipeline keeps). Spark side
    * is Pregel-style min-label propagation — one equi-join + min-aggregate
    * per round, O(component diameter) rounds, every round a plain shuffle
    * that scales (GraphX would give the same plan shape). The oracle walks
    * the same edges with a recursive CTE. Output restricted to docs that
    * appear in ≥1 pair (singletons are their own cluster trivially). */
  private val dedupCluster = Spec(
    "llm_dedup_cluster",
    s"""$ngramPairsSqlCte,
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT a AS node FROM edges),
       |reach AS (
       |  WITH RECURSIVE r(src, dst) AS (
       |    SELECT a, b FROM edges
       |    UNION
       |    SELECT r.src, e.b FROM r JOIN edges e ON r.dst = e.a)
       |  SELECT * FROM r)
       |SELECT n.node AS doc_id,
       |  LEAST(n.node, MIN(reach.dst)) AS cluster_id
       |FROM nodes n LEFT JOIN reach ON reach.src = n.node
       |GROUP BY n.node
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val pairs = ngramPairs(s, d).select(col("doc_a"), col("doc_b"))
    clusterPairs(s, pairs).orderBy(col("doc_id"))
  }

  /** Connected components over an undirected pair graph, labels = the
    * component's min doc_id. Size-adaptive strategy (the same shape as
    * AQE's broadcast decision): the duplicate-pair edge list is tiny
    * relative to the corpus (LSH/Jaccard candidates, not all docs), so
    * below `driverMaxEdges` it is collected and union-found on the driver
    * in one pass — exact and cheap. Above the threshold it falls back to
    * distributed min-label propagation with pointer jumping (O(log
    * diameter) rounds of joins), which scales to edge lists that don't
    * fit anywhere. Refusing to return on non-convergence is deliberate:
    * a silently partial clustering corrupts downstream dedup.
    * Exposed for tests. */
  /** Which branch the last [[clusterPairs]] call took —
    * "driver_union_find" or "distributed_propagation". The gate decision
    * is invisible in the output (both strategies produce the identical
    * canonical assignment, which is the point), so tests that claim to
    * exercise the distributed LIVE path assert this witness instead of
    * trusting the edge count (VERDICT r7 #6). */
  @volatile private[graft] var lastClusterStrategy: String = ""

  def clusterPairs(s: SparkSession, pairs: DataFrame,
      driverMaxEdges: Long = 5000000L): DataFrame = {
    import s.implicits._
    // persist: the pair list is the OUTPUT of the (expensive) similarity
    // join — without it the count and the collect/loop below would
    // recompute that join from scratch
    val edgeRows = pairs.select(col("doc_a"), col("doc_b")).as[(Long, Long)]
      .persist()
    val nEdges = edgeRows.count()
    lastClusterStrategy =
      if (nEdges <= driverMaxEdges) "driver_union_find"
      else "distributed_propagation"
    try if (nEdges <= driverMaxEdges) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val n = parent.getOrElse(c, c); parent(c) = r; c = n
        }
        r
      }
      edgeRows.collect().foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb))
          parent(hi) = lo }
      }
      parent.keys.toSeq.map(n => (n, find(n))).sortBy(_._1)
        .toDF("doc_id", "cluster_id")
    } else clusterPairsDistributed(s, edgeRows.toDF("doc_a", "doc_b"))
    finally edgeRows.unpersist()
  }

  /** The above-threshold path: distributed min-label propagation. */
  def clusterPairsDistributed(s: SparkSession, pairs: DataFrame): DataFrame = {
    val edges = pairs
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .union(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
      .cache() // reused every round of the fixpoint loop
    var labels = edges.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
    var changed = 1L
    var rounds = 0
    val maxRounds = 30
    while (changed > 0 && rounds < maxRounds) {
      val nbrMin = edges
        .join(labels.withColumnRenamed("node", "a"), "a")
        .groupBy(col("b").as("node")).agg(min(col("label")).as("nbr"))
      val stepped = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"), col("label").as("old"),
          least(col("label"), coalesce(col("nbr"), col("label")))
            .as("label"))
      // pointer jumping: adopt the label of your label. The old label rides
      // along so convergence is detected in the same frame — no compare
      // join, and the count() below is the round's single materialization
      // (localCheckpoint truncates lineage so plans don't grow per round).
      val next = stepped.alias("s")
        .join(stepped.select(col("node").as("label"),
            col("label").as("ll")).alias("t"),
          Seq("label"), "left")
        .select(col("node"), col("old"),
          least(col("label"), coalesce(col("ll"), col("label")))
            .as("label"))
        .localCheckpoint(false)
      changed = next.filter(col("label") =!= col("old")).count()
      labels = next.select(col("node"), col("label"))
      rounds += 1
    }
    edges.unpersist()
    require(changed == 0,
      s"cluster propagation did not converge in $maxRounds rounds")
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Corpus stats + top-5 terms per language (tf ranking with full integer
    * tiebreak). */
  private val textStats = Spec(
    "llm_text_stats",
    """WITH w AS (
      |  SELECT lang, doc_id, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |langstats AS (
      |  SELECT lang, COUNT(DISTINCT doc_id) AS n_docs,
      |         COUNT(*) AS total_words
      |  FROM w GROUP BY lang),
      |tf AS (SELECT lang, word, COUNT(*) AS cnt FROM w GROUP BY lang, word),
      |ranked AS (
      |  SELECT lang, word, cnt,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, word) AS rk
      |  FROM tf)
      |SELECT r.lang, r.word, r.cnt, r.rk, ls.n_docs, ls.total_words
      |FROM ranked r JOIN langstats ls ON r.lang = ls.lang
      |WHERE r.rk <= 5
      |ORDER BY r.lang, r.rk""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = docsWords(s, d)
      .select(col("lang"), col("doc_id"), explode(col("words")).as("word"))
    val langStats = w.groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("total_words"))
    val tf = w.groupBy(col("lang"), col("word")).agg(count(lit(1)).as("cnt"))
    val win = Window.partitionBy(col("lang"))
      .orderBy(col("cnt").desc, col("word"))
    tf.withColumn("rk", row_number().over(win))
      .filter(col("rk") <= 5)
      .join(langStats, "lang")
      .select(col("lang"), col("word"), col("cnt"), col("rk"),
        col("n_docs"), col("total_words"))
      .orderBy(col("lang"), col("rk"))
  }

  /** Language ID by combined n-gram heuristic: per-language character
    * BIGRAM occurrence counts (the classic n-gram-profile signal, counted
    * portably as characters removed by `replace`) plus a stopword lexicon
    * weighted 6×. The fixture vocabulary is language-independent DB
    * jargon, so scores are driven by incidental bigrams and the prediction
    * falls back deterministically — the operator's value is the (portable,
    * exactly-checkable) scoring machinery, not fixture accuracy. */
  private val langId = {
    val lex = Seq(
      "en" -> (Seq("the", "and", "of", "to", "a"), Seq("th", "he", "er")),
      "de" -> (Seq("der", "die", "das", "und", "ist"), Seq("ch", "ei", "en")),
      "es" -> (Seq("el", "la", "de", "y", "que"), Seq("os", "ue", "ar")),
      "fr" -> (Seq("le", "la", "et", "les", "des"), Seq("ou", "ai", "re")),
      "zh" -> (Seq("shi", "le_zh"), Seq("zh", "xi", "qi")))
    def duckList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ",", "]")
    val hitCols = lex.map { case (l, (ws, bgs)) =>
      val bigramTerms = bgs.map(bg =>
        s"(length(text) - length(replace(text, '$bg', '')))").mkString(" + ")
      s"6 * len(list_filter(${duckList(ws)}, x -> list_contains(string_split(text,' '), x))) + $bigramTerms AS hits_$l"
    }.mkString(",\n      |  ")
    Spec(
      "llm_lang_id",
      s"""WITH h AS (
         |  SELECT doc_id, lang,
         |  $hitCols
         |  FROM documents)
         |SELECT doc_id, lang, hits_en, hits_de, hits_es, hits_fr, hits_zh,
         |  CASE
         |    WHEN hits_de > hits_en AND hits_de >= hits_es AND hits_de >= hits_fr AND hits_de >= hits_zh THEN 'de'
         |    WHEN hits_es > hits_en AND hits_es > hits_de AND hits_es >= hits_fr AND hits_es >= hits_zh THEN 'es'
         |    WHEN hits_fr > hits_en AND hits_fr > hits_de AND hits_fr > hits_es AND hits_fr >= hits_zh THEN 'fr'
         |    WHEN hits_zh > hits_en AND hits_zh > hits_de AND hits_zh > hits_es AND hits_zh > hits_fr THEN 'zh'
         |    ELSE 'en' END AS predicted
         |FROM h ORDER BY doc_id""".stripMargin) { (s, d) =>
      val base = docsWords(s, d)
      val withHits = lex.foldLeft(base) { case (df, (l, (ws, bgs))) =>
        val lexHits = size(filter(array(ws.map(lit): _*),
          w => array_contains(col("words"), w)))
        val bigramHits = bgs.map(bg =>
            length(col("text")) - length(expr(s"replace(text, '$bg', '')")))
          .reduceLeft[Column](_ + _)
        df.withColumn(s"hits_$l", lit(6) * lexHits + bigramHits)
      }
      withHits
        .withColumn("predicted",
          when(col("hits_de") > col("hits_en")
            && col("hits_de") >= col("hits_es")
            && col("hits_de") >= col("hits_fr")
            && col("hits_de") >= col("hits_zh"), "de")
          .when(col("hits_es") > col("hits_en")
            && col("hits_es") > col("hits_de")
            && col("hits_es") >= col("hits_fr")
            && col("hits_es") >= col("hits_zh"), "es")
          .when(col("hits_fr") > col("hits_en")
            && col("hits_fr") > col("hits_de")
            && col("hits_fr") > col("hits_es")
            && col("hits_fr") >= col("hits_zh"), "fr")
          .when(col("hits_zh") > col("hits_en")
            && col("hits_zh") > col("hits_de")
            && col("hits_zh") > col("hits_es")
            && col("hits_zh") > col("hits_fr"), "zh")
          .otherwise("en"))
        .select(col("doc_id"), col("lang"), col("hits_en"), col("hits_de"),
          col("hits_es"), col("hits_fr"), col("hits_zh"), col("predicted"))
        .orderBy(col("doc_id"))
    }
  }

  /** Heuristic quality score: length, stopword ratio, mean word length —
    * a fixed-op-order double composite (identical IEEE sequence in both
    * engines). */
  private val quality = Spec(
    "llm_quality_score",
    """WITH b AS (
      |  SELECT doc_id, n_chars,
      |    len(string_split(text, ' ')) AS n_words,
      |    len(list_filter(string_split(text, ' '),
      |        x -> list_contains(['key','row','table','value','scan'], x)))
      |      AS n_stop
      |  FROM documents)
      |SELECT doc_id, n_words, n_stop,
      |  CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words AS avg_word_len,
      |  CAST(n_stop AS DOUBLE) / n_words AS stop_ratio,
      |  0.5 * least(CAST(n_words AS DOUBLE) / 100.0, 1.0)
      |    + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / n_words)
      |    + 0.2 * least((CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words) / 10.0, 1.0)
      |    AS quality
      |FROM b ORDER BY doc_id""".stripMargin) { (s, d) =>
    val stop = array(Seq("key", "row", "table", "value", "scan").map(lit): _*)
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).as("n_words"),
        size(filter(split(col("text"), " "),
          x => array_contains(stop, x))).as("n_stop"))
      .select(col("doc_id"), col("n_words"), col("n_stop"),
        ((col("n_chars") - (col("n_words") - 1)).cast("double")
          / col("n_words")).as("avg_word_len"),
        (col("n_stop").cast("double") / col("n_words")).as("stop_ratio"),
        (lit(0.5) * least(col("n_words").cast("double") / 100.0, lit(1.0))
          + lit(0.3) * (lit(1.0) - col("n_stop").cast("double") / col("n_words"))
          + lit(0.2) * least(((col("n_chars") - (col("n_words") - 1))
              .cast("double") / col("n_words")) / 10.0, lit(1.0)))
          .as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Token counting: whitespace tokens vs a BPE-ish regex tokenizer
    * (letter runs / digit runs / single other chars). */
  private val tokenCount = Spec(
    "llm_token_count",
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_ws_tokens,
      |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_re_tokens,
      |  length(text) AS n_chars_check
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("n_ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .as("n_re_tokens"),
        length(col("text")).as("n_chars_check"))
      .orderBy(col("doc_id"))
  }

  /** Order-sensitive document fingerprint: position-weighted sum of a
    * portable word hash h(w) = (len(w)*31 + first_char)*131 + last_char.
    * Pure integer arithmetic → identical in any engine; at 100 TB this is
    * a single projection + per-row fold, no shuffle at all. */
  private val fingerprint = Spec(
    "llm_fingerprint",
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_words,
      |  list_reduce(list_transform(generate_series(1, len(string_split(text, ' '))),
      |    i -> i * CAST((length(string_split(text, ' ')[i]) * 31
      |           + ascii(substring(string_split(text, ' ')[i], 1, 1))) * 131
      |           + ascii(substring(string_split(text, ' ')[i],
      |                   length(string_split(text, ' ')[i]), 1)) AS BIGINT)),
      |    (x, y) -> x + y) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    docsWords(s, d)
      .select(col("doc_id"), posexplode(col("words")).as(Seq("pos0", "w")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"),
        ((length(col("w")) * 31
          + ascii(substring(col("w"), 1, 1))) * 131
          + ascii(substring(col("w"), -1, 1))).cast("long").as("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("pos") * col("h")).as("fp"))
      .orderBy(col("doc_id"))
  }

  /** tf-idf: term frequency + document frequency as exact integers; the
    * ranking (tf desc, df asc, term) is integer-deterministic. The idf
    * itself (a libm ln) is deliberately NOT emitted — SURVEY.md §5.2's
    * cross-engine float rule. Top-5 terms per doc, bounded to doc_id<100
    * so bench output stays small. */
  private val tfidf = Spec(
    "llm_tfidf",
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY 1),
      |ranked AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |                       ORDER BY tf.tf DESC, df.df ASC, tf.term) AS rk
      |  FROM tf JOIN df ON tf.term = df.term)
      |SELECT doc_id, term, tf, df, rk FROM ranked
      |WHERE rk <= 5 AND doc_id < 100
      |ORDER BY doc_id, rk""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = docsWords(s, d)
      .select(col("doc_id"), explode(col("words")).as("term"))
    val tf = w.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = w.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val win = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("term"))
    tf.join(df, "term")
      .withColumn("rk", row_number().over(win))
      .filter(col("rk") <= 5 && col("doc_id") < 100)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rk"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** URL-canonicalization dedup — the step BEFORE text dedup in every
    * crawl-corpus pipeline: the same page arrives under many URL
    * spellings (scheme/host case, explicit default port, `www.`,
    * tracking params, trailing slash, fragment), and collapsing those is
    * a pure per-row string normalization + hash groupBy — map-side-cheap
    * at 100 TB where content-based dedup (llm_dedup_near) costs a
    * MinHash pass. The fixture has no URL column, so each doc
    * deterministically fans out to two messy spellings of the same
    * logical URL; the assertion is that canonicalization collapses
    * exactly those (n_variants = 2 per doc). All steps are built-in
    * regexp_replace chains (codegen'd, no UDF); the oracle replays the
    * identical RE2-compatible patterns with DuckDB's 'g' flag matching
    * Spark's replace-all default. */
  private val urlCanonical = Spec(
    "llm_url_canonical",
    """WITH urls AS (
      |  SELECT doc_id, unnest([
      |    'HTTPS://WWW.' || upper(source) || '.COM:443/d/' || doc_id
      |      || '/?utm_campaign=x&ref=abc#top',
      |    'https://' || source || '.com/d/' || doc_id || '?ref=abc'
      |  ]) AS url
      |  FROM documents WHERE doc_id < 300),
      |canon AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |      regexp_replace(regexp_replace(regexp_replace(lower(url),
      |        '#.*$', '', 'g'),
      |        ':443/', '/', 'g'),
      |        '^https://www\.', 'https://', 'g'),
      |        'utm_[a-z]+=[^&#]*&?', '', 'g'),
      |        '/\?', '?', 'g'),
      |        '[?&]$', '', 'g'),
      |        '/$', '', 'g') AS canonical
      |  FROM urls)
      |SELECT canonical, CAST(COUNT(*) AS BIGINT) AS n_variants,
      |  MIN(doc_id) AS doc_id
      |FROM canon GROUP BY canonical
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val v1 = concat(lit("HTTPS://WWW."), upper(col("source")),
      lit(".COM:443/d/"), col("doc_id").cast("string"),
      lit("/?utm_campaign=x&ref=abc#top"))
    val v2 = concat(lit("https://"), col("source"), lit(".com/d/"),
      col("doc_id").cast("string"), lit("?ref=abc"))
    val canonical = Seq(
      ("#.*$", ""),              // strip fragment
      (":443/", "/"),            // strip explicit default port
      ("^https://www\\.", "https://"), // strip www.
      ("utm_[a-z]+=[^&#]*&?", ""),     // drop tracking params
      ("/\\?", "?"),             // trailing slash before query
      ("[?&]$", ""),             // dangling separator after utm drop
      ("/$", ""))                // bare trailing slash
      .foldLeft(lower(col("url"))) { case (c, (pat, rep)) =>
        regexp_replace(c, pat, rep)
      }
    Tables.documents(s, d)
      .filter(col("doc_id") < 300)
      .select(col("doc_id"), explode(array(v1, v2)).as("url"))
      .select(col("doc_id"), canonical.as("canonical"))
      .groupBy(col("canonical"))
      .agg(count(lit(1)).as("n_variants"), min(col("doc_id")).as("doc_id"))
      .select(col("canonical"), col("n_variants"), col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** BM25 document scoring (Robertson/Spärck Jones, k1=1.2 b=0.75) for a
    * fixed query — the retrieval scorer a pipeline uses for
    * quality-weighted sampling and retrieval eval, one notch past
    * [[tfidf]]'s raw counts because of the tf SATURATION and
    * doc-length normalization. Distributed shape: one explode→(doc,term)
    * tf agg, a term-level df agg (4 query terms → a broadcast join), a
    * corpus-stats crossJoin (broadcast of one row), then a per-doc fold —
    * two shuffles total, both on keys that scale, nothing driver-side.
    *
    * Cross-engine float rule (§5.2): every emitted double is built from
    * +,*,/ only — IEEE-exact-rounded in both engines, so bit-identical
    * when the expression tree is mirrored. The idf is emitted as the raw
    * Robertson ODDS (N - df + 0.5)/(df + 0.5); production wraps ln()
    * around it, but ln is libm-banned from oracle-checked output (same
    * adjudication as [[cooccur]]'s lift vs ln(lift)). The per-doc sum
    * folds in TERM-LEX order via sorted-list aggregate on both engines —
    * a shuffle-order-dependent double sum would be nondeterministic. */
  /** The fixed demo query both BM25 rows score — single source so the
    * Scala pipeline and the generated oracle SQL can never disagree on
    * the term set. */
  private val bm25QueryTerms = Seq("spark", "join", "stream", "window")

  /** ONE oracle-SQL template for BOTH BM25 rows (VERDICT r18 #7): the
    * odds form and the ln production form share every CTE — document
    * lengths, corpus stats, tf, df, the saturation weight, the
    * term-lex-ordered per-doc fold — and differ ONLY in the idf wrap
    * and the §5.2 epsilon rounding the ln form needs. The shared ~30
    * lines used to exist twice; generating both from this builder makes
    * drift under a future edit impossible. */
  private def bm25OracleSql(lnIdf: Boolean): String = {
    val odds = "(stats.n - df.df + 0.5) / (df.df + 0.5)"
    val idf = if (lnIdf) s"ln($odds)" else s"($odds)"
    val (scoreOpen, scoreClose) = if (lnIdf) ("round(", ", 4)") else ("", "")
    val terms = bm25QueryTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH dl AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
       |stats AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |    (CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS avgdl
       |  FROM dl),
       |tf AS (
       |  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |        FROM documents)
       |  WHERE term IN ($terms)
       |  GROUP BY 1, 2),
       |df AS (
       |  SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
       |  FROM tf GROUP BY 1),
       |weighted AS (
       |  SELECT tf.doc_id, tf.term,
       |    ((tf.tf * 2.2)
       |      / (tf.tf + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / stats.avgdl))))
       |      * $idf AS w
       |  FROM tf JOIN df ON tf.term = df.term
       |  JOIN dl ON tf.doc_id = dl.doc_id
       |  CROSS JOIN stats)
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_terms,
       |  ${scoreOpen}list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list(w ORDER BY term)), (x, y) -> x + y)$scoreClose AS score
       |FROM weighted GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  private val bm25 = Spec("llm_bm25", bm25OracleSql(lnIdf = false)) {
    (s, d) =>
    bm25Scores(docsWords(s, d).select(col("doc_id"), col("words")),
      bm25QueryTerms)
  }

  /** PRODUCTION-form BM25 (VERDICT r17 #5): identical pipeline to
    * [[bm25]] but the idf is the deployed ln((N − df + 0.5)/(df + 0.5))
    * — the one-line wrap the odds-form row asked users to add
    * themselves, registered so the scorer a pipeline actually ships is
    * itself oracle-checked. ln is a libm function (Java Math.log vs
    * DuckDB's C ln can differ in the last ulp), so this row takes the
    * SURVEY §5.2 epsilon route instead of raw-bits parity: the final
    * per-doc score is rounded to 4 decimals on BOTH engines. The
    * pre-round daylight between engines is a few ulps (~1e-15
    * relative) per ln term over a ≤ 4-term lex-ordered fold, twelve
    * orders of magnitude inside the 1e-4 grid, so the rounded doubles
    * are bit-identical; n_terms and doc_id stay exact integers. */
  private val bm25Ln = Spec("llm_bm25_ln", bm25OracleSql(lnIdf = true)) {
    (s, d) =>
    bm25Scores(docsWords(s, d).select(col("doc_id"), col("words")),
      bm25QueryTerms, lnIdf = true)
  }

  /** Reusable BM25 pipeline over a (doc_id, words) frame — see [[bm25]]
    * for the scoring contract (k1=1.2, b=0.75, odds-form idf, term-lex
    * fold order) and [[bm25Ln]] for the lnIdf=true production form
    * (ln idf, score rounded to 4 decimals). Exposed so tests can score
    * constructed corpora. */
  def bm25Scores(docs: DataFrame, qterms: Seq[String],
      lnIdf: Boolean = false): DataFrame = {
    val dl = docs
      .select(col("doc_id"), size(col("words")).cast("long").as("dl"))
    val stats = dl.agg(
      count(lit(1)).cast("double").as("n"),
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double"))
        .as("avgdl"))
    val tf = docs
      .select(col("doc_id"), explode(col("words")).as("term"))
      .filter(col("term").isin(qterms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).cast("double").as("df"))
    val odds = (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    // functions.log spelled out: `log` bare resolves to the slf4j logger
    val idf = if (lnIdf) org.apache.spark.sql.functions.log(odds) else odds
    val weighted = tf
      .join(broadcast(df), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"),
        (((col("tf") * lit(2.2))
          / (col("tf") + lit(1.2) * (lit(0.25)
            + lit(0.75) * (col("dl").cast("double") / col("avgdl")))))
          * idf)
          .as("w"))
    val folded = aggregate(
      transform(array_sort(collect_list(struct(col("term"), col("w")))),
        p => p.getField("w")),
      lit(0.0).cast("double"), (acc, x) => acc + x)
    weighted.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        (if (lnIdf) round(folded, 4) else folded).as("score"))
      .orderBy(col("doc_id"))
  }

  /** Cross-document duplicate SPAN detection — the span-level exact
    * substring dedup of Lee et al. 2021 ("Deduplicating Training Data
    * Makes Language Models Better"), approximated the way distributed
    * pipelines actually run it: every sliding 8-word window becomes one
    * row (linear in corpus tokens, the same fan-out as a tokenization
    * pass), one hash shuffle groups identical spans, and a HAVING keeps
    * spans seen in ≥ 2 distinct documents — the boilerplate/template
    * mass that span-removal cuts before training. Unlike
    * [[dedupNgram]]'s doc-level Jaccard this emits the offending spans
    * themselves. The groupBy key is xxhash64(span), not the text
    * (measured: the text-keyed form added 37 MB to the engine's 90 MB
    * bench shuffle — a third of the total for one row — because
    * countDistinct's Expand ships the text through BOTH aggregate
    * passes). With the 8-byte key, the countDistinct leg ships
    * (hash, doc_id) pairs and the text rides ONCE as a min(span)
    * exemplar in the same aggregate, collapsed per-task by map-side
    * combine before it ever crosses the wire. (A two-pass variant —
    * count on hashes, rejoin text for qualifying groups — was measured
    * 2× slower with 10× the per-task peak: the rejoin's SMJ re-sorts
    * the full span stream, exactly the shipping the hash key avoids.)
    * The group key is 128-BIT (two independently-seeded xxhash64
    * passes — ADVICE r17 #1): the oracle groups on span TEXT, so a
    * key collision would merge two distinct span groups in the engine
    * only, and at 64 bits that asymmetry was documented rather than
    * closed. The second hash seeds its chain with a leading literal,
    * so a pair colliding under the first hash collides under the
    * second only at an independent 2⁻⁶⁴ — joint 2⁻¹²⁸, the stated
    * production widening, for 8 extra shuffle bytes per span row. */
  private val dupSpan = Spec(
    "llm_dup_span",
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |  WHERE len(string_split(text, ' ')) >= 8),
      |g AS (
      |  SELECT doc_id, array_to_string(list_slice(ws, i, i + 7), ' ') AS span
      |  FROM w, UNNEST(generate_series(1, len(ws) - 7)) AS t(i))
      |SELECT span,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) AS BIGINT) AS n_occurrences,
      |  MIN(doc_id) AS first_doc
      |FROM g GROUP BY span
      |HAVING COUNT(DISTINCT doc_id) >= 2
      |ORDER BY span""".stripMargin) { (s, d) =>
    dupSpans(docsWords(s, d).select(col("doc_id"), col("words")), 8)
  }

  /** Reusable duplicate-span pipeline over a (doc_id, words) frame — see
    * [[dupSpan]]. k = span length in words; spans appearing in ≥ 2
    * distinct docs are returned. Exposed so tests can run constructed
    * corpora through the exact registered plan. */
  def dupSpans(docs: DataFrame, k: Int): DataFrame =
    docs
      .filter(size(col("words")) >= k)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, size(words) - $k),
           |  i -> concat_ws(' ', slice(words, i + 1, $k)))""".stripMargin))
        .as("span"))
      // 128-bit key: h chains seed42→span; h2 chains seed42→lit(1)→span,
      // i.e. a different effective seed — the literal must lead, because
      // xxhash64(span, lit) folds the literal over h's OUTPUT and would
      // inherit every h collision.
      .select(xxhash64(col("span")).as("h"),
        xxhash64(lit(1), col("span")).as("h2"),
        col("doc_id"), col("span"))
      .groupBy(col("h"), col("h2"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"),
        min(col("span")).as("span"))
      .filter(col("n_docs") >= 2)
      .select(col("span"), col("n_docs"), col("n_occurrences"),
        col("first_doc"))
      .orderBy(col("span"))
}
