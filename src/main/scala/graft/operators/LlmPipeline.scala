package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Spec
import graft.sources.Tables

/** Training-data-pipeline operators beyond the dedup/similarity family —
  * the steps that turn a raw document corpus into a training set:
  * decontamination against an eval set, deterministic train/val/test
  * splitting, repetition-based quality filtering, fixed-size chunking,
  * sequence packing, and domain-mix rebalancing. All are oracle-checked
  * (integer or exact-division arithmetic; md5 for hash-based decisions
  * because its definition is identical across engines).
  *
  * Scale notes per operator are inline; the common conventions:
  * per-row ops carry no shuffle, per-group ops shuffle once on the group
  * key, and the only corpus×corpus contact (contamination) goes through
  * the same inverted shingle index as the dedup family — never all-pairs.
  */
object LlmPipeline {
  def specs: Seq[Spec] = Seq(contamination, splitHash, repetition, chunking,
    packSequences, domainMix, piiScrub, vocab, curriculum, sampleStratified,
    winsorize, filterFunnel, instructionFormat, oovRate, bpePairs, bpeTrain,
    bpeApply)

  /** One BPE-training iteration — the pair-count step every tokenizer
    * trainer loops on: count adjacent character pairs across the corpus,
    * weighted by word frequency; the top pair is what BPE would merge
    * next. The load-bearing scale trick is aggregating to the DISTINCT
    * word table FIRST (corpus tokens → |vocab| rows, orders of magnitude
    * smaller at 100 TB) and exploding pairs only over that; pair counts
    * then weight by the word's frequency instead of touching the corpus
    * again. Top-50 via TakeOrderedAndProject with a full (count DESC,
    * pair ASC) tiebreak. substr is codepoint-based in both engines, so
    * multi-byte text pairs agree. */
  private val bpePairs = Spec(
    "llm_bpe_pairs",
    """WITH tok AS (
      |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      |w AS (
      |  SELECT token, COUNT(*) AS n FROM tok
      |  WHERE length(token) >= 2 GROUP BY token),
      |p AS (
      |  SELECT unnest(list_transform(range(1, length(token)),
      |    i -> substr(token, CAST(i AS INTEGER), 2))) AS pair, n
      |  FROM w)
      |SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt
      |FROM p GROUP BY pair
      |ORDER BY cnt DESC, pair LIMIT 50""".stripMargin) { (s, d) =>
    val words = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) >= 2)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
    words
      .select(col("n"),
        explode(transform(
          sequence(lit(1), length(col("token")) - 1),
          i => col("token").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("n")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(50)
  }

  /** ITERATIVE BPE training (VERDICT r5 gap #4) — the real tokenizer-
    * build loop, not just one pair count: k=4 rounds of count-pairs →
    * pick-top-merge → re-segment the whole (weighted, distinct-word)
    * working set, producing the MERGE TABLE — the artifact a BPE trainer
    * actually emits. Mechanics shared bit-for-bit with the oracle: with
    * U+001F (chr(31), absent from the corpus) written `%` here, each
    * word is segmented as %-wrapped tokens ("the" → "%t%%h%%e%"), so
    * merging pair (a,b) is a plain non-overlapping left-to-right string
    * replace of "%a%%b%" with "%ab%" — the sentinels make token
    * boundaries explicit (no suffix/prefix false matches across token
    * edges) and
    * left-to-right replace IS greedy BPE merge order; both engines'
    * `replace` share those semantics. Top pair ties break (cnt DESC,
    * pair ASC) in binary collation on both sides. The driver holds ONE
    * row per iteration (the chosen merge) — bounded like the IVF
    * training sample; the working set stays distributed, persisted per
    * iteration so iteration i+1 reads a materialized seg table instead
    * of replaying i lineage steps (the checkpoint discipline an
    * iterative job needs at 100 TB, where the seg table is the
    * |vocab|-sized rollup, not the corpus). Oracle: the SAME loop
    * unrolled as a CTE chain. */
  private val KBpe = 4

  private def bpeSegPairs(k: Int, prev: String): String =
    s"""p$k AS (SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM (
       |  SELECT n, unnest(list_transform(range(1, len(a)),
       |    i -> a[CAST(i AS INTEGER)] || chr(31)
       |         || a[CAST(i + 1 AS INTEGER)])) AS pair
       |  FROM (SELECT n, string_split(trim(seg, chr(31)),
       |                 chr(31)||chr(31)) AS a FROM $prev) q1) q2
       |  GROUP BY pair),
       |m$k AS (SELECT pair, cnt FROM p$k ORDER BY cnt DESC, pair
       |        LIMIT 1)""".stripMargin

  /** The unrolled BPE TRAINING chain — tok/w/s0 plus per-iteration
    * p_i/m_i/s_i CTEs — the ONE definition shared by the train oracle
    * (which selects the merge table) and the apply oracle (which replays
    * the merges over the full corpus vocabulary). */
  private def bpeChainCtes(k: Int): String = {
    val head =
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |w AS (
        |  SELECT token, COUNT(*) AS n FROM tok
        |  WHERE length(token) >= 2 GROUP BY token),
        |s0 AS (
        |  SELECT n, chr(31) || array_to_string(
        |    list_transform(range(1, length(token) + 1),
        |      i -> substr(token, CAST(i AS INTEGER), 1)),
        |    chr(31)||chr(31)) || chr(31) AS seg FROM w)""".stripMargin
    val steps = (1 to k).map { i =>
      val merge = bpeSegPairs(i, s"s${i - 1}")
      val reseg = if (i < k)
        s""",
           |s$i AS (SELECT n, replace(seg,
           |  chr(31)||replace(m$i.pair, chr(31), chr(31)||chr(31))||chr(31),
           |  chr(31)||replace(m$i.pair, chr(31), '')||chr(31)) AS seg
           |  FROM s${i - 1}, m$i)""".stripMargin
      else ""
      s",\n$merge$reseg"
    }.mkString
    s"$head$steps"
  }

  private def bpeTrainOracle(k: Int): String = {
    val sel = (1 to k).map { i =>
      s"SELECT CAST($i AS BIGINT) AS it, " +
        s"replace(pair, chr(31), '+') AS pair, cnt FROM m$i"
    }.mkString("\nUNION ALL ")
    s"${bpeChainCtes(k)}\n$sel\nORDER BY it"
  }

  private val bpeTrain = Spec(
    "llm_bpe_train",
    bpeTrainOracle(KBpe)) { (s, d) =>
    import s.implicits._
    trainMergesRaw(s, d)
      .map { case (it, pair, cnt) => (it, pair.replace(BpeSep, "+"), cnt) }
      .toDF("it", "pair", "cnt").orderBy(col("it"))
  }

  private val BpeSep = "\u001f"

  /** Per-(session, corpus) memo of the trained merge list: llm_bpe_train
    * emits it as the merge table and llm_bpe_apply replays it over the
    * corpus, so the k-iteration training loop runs once, not once per
    * consumer. Entries are k tuples — driver-tiny. */
  private val trainedMerges =
    new graft.sources.SessionMemo[Seq[(Long, String, Long)]]()

  /** The k-round BPE training loop shared by llm_bpe_train and
    * llm_bpe_apply: (iteration, pair with the U+001F separator kept,
    * weighted count) in merge order - fewer than k rows if a degenerate
    * corpus exhausts early. ONE row per iteration crosses the driver. */
  private def trainMergesRaw(s: SparkSession, d: String)
      : Seq[(Long, String, Long)] =
    trainedMerges(s, d)(computeMerges(s, d))

  /** Force the shared merge-table memo from Bench so the k-iteration
    * training bill is pre-paid deterministically — otherwise it lands on
    * whichever of llm_bpe_train/llm_bpe_apply the bench's map order runs
    * first. */
  private[graft] def materializeMerges(s: SparkSession, d: String): Int =
    trainMergesRaw(s, d).size

  private def computeMerges(s: SparkSession, d: String)
      : Seq[(Long, String, Long)] = {
    val sep = BpeSep; val sep2 = sep + sep
    // Domain guard (ADVICE r8): a literal U+001F in any corpus token would
    // corrupt the delimiter framing IDENTICALLY in this code and in the
    // DuckDB oracle's chr(31) chain, so the hash-match could never catch
    // it — fail loudly instead. Guarding here covers llm_bpe_apply too
    // (both consumers call trainMergesRaw on the same corpus before
    // touching it). At 100 TB this validation folds into the one-pass
    // ingest QC scan (the llm_quality_score family), not a second read.
    require(Tables.documents(s, d)
        .filter(col("text").contains(sep)).limit(1).count() == 0L,
      "llm_bpe_*: corpus text contains the U+001F piece separator; " +
        "BPE segmentation framing is undefined for this domain")
    val words = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) >= 2)
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    var seg = words.select(col("n"),
      concat(lit(sep),
        array_join(transform(sequence(lit(1), length(col("token"))),
          i => col("token").substr(i, lit(1))), sep2),
        lit(sep)).as("seg"))
      .persist()
    val merges = scala.collection.mutable.ListBuffer[(Long, String, Long)]()
    var exhausted = false
    for (it <- 1 to KBpe if !exhausted) {
      val withArr = seg.select(col("n"),
        split(expr(s"trim(BOTH '$sep' FROM seg)"), sep2).as("a"))
      val top = withArr
        .filter(size(col("a")) >= 2) // fully-merged words pair no more
        .select(col("n"), explode(
          transform(sequence(lit(1), size(col("a")) - 1),
            i => concat(element_at(col("a"), i), lit(sep),
              element_at(col("a"), i + 1)))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(1).collect() // ONE row per iteration crosses the driver
      if (top.isEmpty) {
        // degenerate corpus exhausted before KBpe merges: stop emitting.
        // The oracle agrees by construction — an empty m_i makes every
        // later s_j/m_j CTE a cross join with an empty relation, so its
        // UNION ALL arms beyond i contribute zero rows too.
        exhausted = true
        seg.unpersist()
      } else {
        val pair = top.head.getString(0); val cnt = top.head.getLong(1)
        merges += ((it.toLong, pair, cnt))
        if (it < KBpe) {
          val Array(a, b) = pair.split(sep)
          val next = seg.withColumn("seg",
            org.apache.spark.sql.functions.replace(col("seg"),
              lit(sep + a + sep2 + b + sep), lit(sep + a + b + sep)))
            .persist()
          next.count() // materialize before dropping the parent
          seg.unpersist()
          seg = next
        } else seg.unpersist()
      }
    }
    merges.toSeq
  }

  /** BPE APPLICATION - the inference half of the tokenizer (a trainer
    * without apply is half a tokenizer): replay the k trained merges
    * over the corpus and report each document's token-piece count next
    * to its word count - the sequence-length accounting every packing /
    * curriculum / cost model downstream consumes. Scale shape: the
    * merges are k driver-held strings (memoized with llm_bpe_train via
    * [[trainMergesRaw]]); segmentation and the k merge replaces run
    * over the DISTINCT word table (|vocab| rows, not |corpus|) as
    * codegen'd string expressions; the corpus token stream then
    * equi-joins the |vocab|-sized piece table and two-phase-aggregates
    * per doc - the same rollup-first discipline as the trainer. Oracle:
    * the training chain is [[bpeChainCtes]] (ONE definition with the
    * train oracle); the apply chain replays each m_i with a LEFT JOIN
    * ON TRUE so an exhausted (empty) merge CTE is an identity step,
    * exactly like the Scala fold over a short merge list. Zero-length
    * tokens segment to NULL and count 0 pieces on both engines - the
    * CASE guard is load-bearing on the Spark side because
    * sequence(1, 0) is a DESCENDING [1, 0], not an empty array. */
  private def bpeApplyOracle(k: Int): String = {
    val applySteps = (1 to k).map { i =>
      s""",
         |a$i AS (
         |  SELECT token, CASE WHEN m$i.pair IS NULL OR seg IS NULL THEN seg
         |    ELSE replace(seg,
         |      chr(31)||replace(m$i.pair, chr(31), chr(31)||chr(31))||chr(31),
         |      chr(31)||replace(m$i.pair, chr(31), '')||chr(31)) END AS seg
         |  FROM a${i - 1} LEFT JOIN m$i ON TRUE)""".stripMargin
    }.mkString
    // NOTE: the interpolated chain must NOT pass through an outer
    // stripMargin - bpeSegPairs' already-stripped lines contain `||`
    // concat operators at line starts, which a second stripMargin would
    // mutilate into single `|`s. Only the literal tail is margin-stripped.
    val applyTail = s""",
       |dtok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |dw AS (SELECT DISTINCT token FROM dtok),
       |a0 AS (
       |  SELECT token, CASE WHEN length(token) = 0 THEN NULL
       |    ELSE chr(31) || array_to_string(
       |      list_transform(range(1, length(token) + 1),
       |        i -> substr(token, CAST(i AS INTEGER), 1)),
       |      chr(31)||chr(31)) || chr(31) END AS seg FROM dw)$applySteps,
       |pieces AS (
       |  SELECT token, CASE WHEN seg IS NULL THEN 0
       |    ELSE len(string_split(trim(seg, chr(31)), chr(31)||chr(31)))
       |    END AS pieces
       |  FROM a$k)
       |SELECT dtok.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(pieces.pieces) AS BIGINT) AS n_pieces
       |FROM dtok JOIN pieces ON dtok.token = pieces.token
       |GROUP BY dtok.doc_id
       |ORDER BY doc_id""".stripMargin
    s"${bpeChainCtes(k)}$applyTail"
  }

  private val bpeApply = Spec(
    "llm_bpe_apply",
    bpeApplyOracle(KBpe)) { (s, d) =>
    // MAP-ONLY: segmentation + the k merge replaces run INSIDE a
    // transform lambda over each doc's word array, and the piece counts
    // fold with aggregate() — no explode, no distinct, no join: the only
    // exchange left is the final ORDER BY's rangepartitioning over the
    // one-row-per-doc OUTPUT, never the corpus token stream (PlanSpec
    // pins the absence of any hashpartitioning exchange). A distinct-word rollup + equi-join variant was
    // rejected: it saves re-segmenting repeated words but pays TWO
    // corpus shuffles (distinct + join), and at 100 TB the raw-token
    // vocabulary's long tail also makes the piece table
    // broadcast-unsafe; k=4 string replaces per occurrence are cheap,
    // codegen'd, and embarrassingly parallel. The oracle keeps the
    // vocab-rollup formulation (DuckDB has no corpus to shuffle).
    val sep = BpeSep; val sep2 = sep + sep
    val merges = trainMergesRaw(s, d).map(_._2)
    def segOf(w: Column): Column = merges.foldLeft(
      concat(lit(sep),
        array_join(transform(sequence(lit(1), length(w)),
          i => w.substr(i, lit(1))), sep2),
        lit(sep))) { (seg, pair) =>
      val Array(a, b) = pair.split(sep)
      org.apache.spark.sql.functions.replace(seg,
        lit(sep + a + sep2 + b + sep), lit(sep + a + b + sep))
    }
    def piecesOf(w: Column): Column =
      when(length(w) === 0, lit(0L))
        .otherwise(size(split(trim(segOf(w), sep), sep2)).cast("long"))
    val words = split(col("text"), " ")
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(words).cast("long").as("n_words"),
        aggregate(transform(words, piecesOf(_)), lit(0L), _ + _)
          .as("n_pieces"))
      .orderBy(col("doc_id"))
  }

  /** Chat-template rendering — the SFT-pipeline step that turns a
    * (prompt, response) pair into the model's instruction format. The
    * pair is derived deterministically (first ⌈n/2⌉ words are the
    * "user" turn, the rest the "assistant" turn) and rendered with
    * codegen'd string expressions: split + slice + array_join + concat,
    * map-only, no UDF. Newlines come from chr(10) on the oracle side so
    * the SQL literal never embeds an escape DuckDB would read as two
    * characters. */
  private val instructionFormat = Spec(
    "llm_instruction_format",
    """SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
      |  concat('### User', chr(10),
      |    array_to_string(w[1:(len(w)+1)//2], ' '),
      |    chr(10), '### Assistant', chr(10),
      |    array_to_string(w[(len(w)+1)//2+1:len(w)], ' ')) AS rendered
      |FROM (SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS w
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val words = split(coalesce(col("text"), lit("")), " ")
    val n = size(words)
    val k = floor((n + 1) / lit(2.0)).cast("int")
    Tables.documents(s, d)
      .select(col("doc_id"), words.as("w"), n.as("n_words"), k.as("k"))
      .select(col("doc_id"), col("n_words").cast("long").as("n_words"),
        concat(lit("### User\n"),
          array_join(slice(col("w"), lit(1), col("k")), " "),
          lit("\n### Assistant\n"),
          array_join(
            slice(col("w"), col("k") + 1, col("n_words") - col("k")), " "))
          .as("rendered"))
      .orderBy(col("doc_id"))
  }

  /** Tokenizer vocabulary coverage — after building the top-100 vocab
    * (same total order as llm_vocab: count DESC, token ASC), score each
    * language's out-of-vocabulary token rate. The vocab is k-bounded and
    * BROADCAST to the token stream (100 rows against billions at scale:
    * never a shuffle join), the per-language rollup is one two-phase hash
    * agg, and the rate is an exact int/int double division (identical
    * IEEE operands in both engines). This is the metric that decides
    * whether a tokenizer needs retraining before a new corpus mix ships. */
  private val oovRate = Spec(
    "llm_oov_rate",
    """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS token
      |             FROM documents),
      |v AS (SELECT token FROM (
      |        SELECT token, COUNT(*) AS n FROM tok GROUP BY token
      |        ORDER BY n DESC, token ASC LIMIT 100))
      |SELECT lang, COUNT(*) AS n_tokens,
      |  CAST(SUM(CASE WHEN token IN (SELECT token FROM v)
      |    THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
      |  CAST(SUM(CASE WHEN token IN (SELECT token FROM v)
      |    THEN 0 ELSE 1 END) AS DOUBLE) / COUNT(*) AS oov_rate
      |FROM tok GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    val tok = Tables.documents(s, d)
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
    val vocab100 = tok.groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")) // TakeOrderedAndProject
      .limit(100)
      .select(col("token"), lit(true).as("in_vocab"))
    tok.join(broadcast(vocab100), Seq("token"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens"))
      .orderBy(col("lang"))
  }

  /** Quality-filter funnel — the survival count after each stage of a
    * chained document filter (language allowlist → length band → minimum
    * word count), the first diagnostic any corpus-curation run reports:
    * it tells you WHICH rule ate your data. One map-only pass computes
    * every stage predicate per row and one partial-aggregated global sum
    * folds them; adding a 20th rule adds a column, not a scan, so the
    * funnel costs one pass at 100 TB no matter how deep it gets. */
  private val filterFunnel = Spec(
    "llm_filter_funnel",
    """SELECT COUNT(*) AS n_total,
      |  CAST(SUM(CASE WHEN lang IN ('en','de','fr')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_after_lang,
      |  CAST(SUM(CASE WHEN lang IN ('en','de','fr')
      |    AND n_chars BETWEEN 50 AND 2000
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_after_len,
      |  CAST(SUM(CASE WHEN lang IN ('en','de','fr')
      |    AND n_chars BETWEEN 50 AND 2000
      |    AND len(string_split(text, ' ')) >= 10
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_after_words
      |FROM documents""".stripMargin) { (s, d) =>
    val p1 = col("lang").isin("en", "de", "fr")
    val p2 = p1 && col("n_chars").between(50, 2000)
    val p3 = p2 && size(split(col("text"), " ")) >= 10
    Tables.documents(s, d)
      .agg(count(lit(1)).as("n_total"),
        sum(when(p1, 1L).otherwise(0L)).as("n_after_lang"),
        sum(when(p2, 1L).otherwise(0L)).as("n_after_len"),
        sum(when(p3, 1L).otherwise(0L)).as("n_after_words"))
  }

  /** Stratified downsampling with per-language rates (the data-mixing
    * knob: keep half of English, a quarter of German, a tenth of the
    * rest), decided by a content-independent md5 of the doc id — the same
    * engine-portable hash-threshold trick as [[splitHash]], with a
    * distinct salt so the sample is independent of the split. Map-only
    * (filter + projection, no shuffle), reshard-stable, and each kept row
    * carries weight = 1/rate so downstream aggregates stay unbiased.
    * Thresholds compare the first two hex chars: '80'/256 = 1/2,
    * '40'/256 = 1/4, '1a'/256 ≈ 0.102. */
  private val sampleStratified = Spec(
    "llm_sample_stratified",
    """SELECT doc_id, lang, weight FROM (
      |  SELECT doc_id, lang,
      |    substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 2) AS b,
      |    CASE lang WHEN 'en' THEN '80' WHEN 'de' THEN '40'
      |      ELSE '1a' END AS thr,
      |    CASE lang WHEN 'en' THEN 2.0 WHEN 'de' THEN 4.0
      |      ELSE 256.0 / 26 END AS weight
      |  FROM documents)
      |WHERE b < thr ORDER BY doc_id""".stripMargin) { (s, d) =>
    val b = substring(md5(concat(lit("sample:"), col("doc_id").cast("string"))),
      1, 2)
    val thr = when(col("lang") === "en", "80")
      .when(col("lang") === "de", "40").otherwise("1a")
    val weight = when(col("lang") === "en", 2.0)
      .when(col("lang") === "de", 4.0).otherwise(256.0 / 26)
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), b.as("b"), thr.as("thr"),
        weight.as("weight"))
      .filter(col("b") < col("thr"))
      .select(col("doc_id"), col("lang"), col("weight"))
      .orderBy(col("doc_id"))
  }

  /** Per-language winsorization of document lengths: clip n_chars to the
    * language's exact [p05, p95] band — the outlier-taming prestep before
    * length-weighted mixing. Exact per-group percentiles (both engines
    * share the linear-interpolation definition and IEEE arithmetic — see
    * Analytics' percentile note), broadcast back onto the rows by an
    * equi-join on lang: the quantile table is |languages| rows however
    * large the corpus. */
  private val winsorize = Spec(
    "llm_winsorize",
    """SELECT doc_id, d.lang, n_chars,
      |  LEAST(GREATEST(CAST(n_chars AS DOUBLE), p05), p95) AS clipped
      |FROM documents d
      |JOIN (SELECT lang,
      |        quantile_cont(CAST(n_chars AS DOUBLE), 0.05) AS p05,
      |        quantile_cont(CAST(n_chars AS DOUBLE), 0.95) AS p95
      |      FROM documents GROUP BY lang) q
      |  ON d.lang = q.lang
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val q = Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(expr("percentile(CAST(n_chars AS DOUBLE), 0.05)").as("p05"),
        expr("percentile(CAST(n_chars AS DOUBLE), 0.95)").as("p95"))
    Tables.documents(s, d)
      .join(broadcast(q), "lang")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        least(greatest(col("n_chars").cast("double"), col("p05")),
          col("p95")).as("clipped"))
      .orderBy(col("doc_id"))
  }

  private def docsWords(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        split(col("text"), " ").as("words"))

  /** Shared shingle CTE — the single definition in [[LlmText]], so the
    * contamination oracle can never drift from the dedup family's. */
  private val shingleCte = LlmText.shingleSqlCte

  /** Eval-set decontamination: count, per training doc, how many of its
    * distinct 3-gram shingles also occur in the (held-out) eval set —
    * docs sharing ≥ 3 are flagged. The eval set here is the deterministic
    * doc_id % 50 == 0 slice (a stand-in for a real benchmark suite).
    *
    * Scale shape: eval shingles are DISTINCT'd first (the eval set is
    * benchmark-sized, i.e. tiny next to the corpus), so the contact is a
    * broadcast-able semi-join of the training index against it — one pass
    * over the corpus index, work ∝ matching shingles. At 100 TB the eval
    * side becomes a broadcast bloom/set exactly as written. */
  private val contamination = Spec(
    "llm_contamination",
    s"""WITH $shingleCte,
       |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
       |tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 50 <> 0),
       |hits AS (
       |  SELECT tr.doc_id, COUNT(*) AS n_shared
       |  FROM tr JOIN ev USING (shingle) GROUP BY tr.doc_id)
       |SELECT d.doc_id,
       |  CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared,
       |  COALESCE(h.n_shared, 0) >= 3 AS contaminated
       |FROM (SELECT DISTINCT doc_id FROM tr) d
       |LEFT JOIN hits h ON h.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val sh = LlmText.docShingles(s, d)
    val ev = sh.filter(col("doc_id") % 50 === 0).select(col("sh")).distinct()
    val tr = sh.filter(col("doc_id") % 50 =!= 0)
    val hits = tr.join(broadcast(ev), "sh")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    tr.select(col("doc_id")).distinct()
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) >= 3).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic train/val/test split by content-independent hash of the
    * doc id: first md5 byte < 0xcd → train (~80 %), < 0xe6 → val (~10 %),
    * else test. md5 of the decimal string is engine-identical, and the
    * lowercase-hex byte compares bytewise the same in both engines, so the
    * split is reproducible everywhere — the property that keeps a split
    * stable across reshards and engine versions at 100 TB (and it's a
    * per-row projection: no shuffle at all). */
  private val splitHash = Spec(
    "llm_split_hash",
    """SELECT doc_id,
      |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
      |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
      |         THEN 'train'
      |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
      |         THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val bucket = substring(md5(col("doc_id").cast("string")), 1, 2)
    Tables.documents(s, d)
      .select(col("doc_id"), bucket.as("bucket"),
        when(bucket < "cd", "train")
          .when(bucket < "e6", "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  /** Within-document repetition score (the Gopher/C4-style quality
    * signal): fraction of 3-gram occurrences that are repeats of an
    * earlier 3-gram in the same doc. Pure per-row array arithmetic —
    * no explode, no shuffle; at 100 TB this is a map-only pass. */
  private val repetition = Spec(
    "llm_repetition",
    """SELECT doc_id,
      |  len(grams) AS n_grams,
      |  len(list_distinct(grams)) AS n_uniq,
      |  CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
      |    / len(grams) AS rep_ratio
      |FROM (
      |  SELECT doc_id, list_transform(
      |    generate_series(1, len(string_split(text,' ')) - 2),
      |    i -> concat_ws(' ', string_split(text,' ')[i],
      |                   string_split(text,' ')[i+1],
      |                   string_split(text,' ')[i+2])) AS grams
      |  FROM documents WHERE len(string_split(text,' ')) >= 3)
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    docsWords(s, d)
      .filter(size(col("words")) >= 3)
      .withColumn("grams", expr(
        """transform(sequence(0, size(words) - 3),
          |  i -> concat_ws(' ', words[i], words[i+1], words[i+2]))"""
          .stripMargin))
      .select(col("doc_id"),
        size(col("grams")).cast("long").as("n_grams"),
        size(array_distinct(col("grams"))).cast("long").as("n_uniq"))
      .withColumn("rep_ratio",
        (col("n_grams") - col("n_uniq")).cast("double") / col("n_grams"))
      .orderBy(col("doc_id"))
  }

  /** Fixed-size chunking: split each document into non-overlapping
    * 32-word chunks (the context-window preprocessing step). One
    * generate+explode per row — no shuffle; chunk count ∝ corpus tokens,
    * exactly the fan-out a 100 TB tokenization pass has. */
  private val chunking = Spec(
    "llm_chunking",
    """SELECT doc_id,
      |  CAST(i AS BIGINT) AS chunk_idx,
      |  array_to_string(list_slice(words, i*32 + 1, i*32 + 32), ' ')
      |    AS chunk_text,
      |  CAST(len(list_slice(words, i*32 + 1, i*32 + 32)) AS BIGINT)
      |    AS n_words_chunk
      |FROM (SELECT doc_id, string_split(text, ' ') AS words
      |      FROM documents),
      |  UNNEST(generate_series(0, (len(words) - 1) // 32)) AS t(i)
      |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
    docsWords(s, d)
      .select(col("doc_id"),
        posexplode(expr(
          """transform(sequence(0, (size(words) - 1) div 32),
            |  i -> concat_ws(' ', slice(words, i*32 + 1, 32)))"""
            .stripMargin)).as(Seq("chunk_idx", "chunk_text")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk_text"),
        size(split(col("chunk_text"), " ")).cast("long").as("n_words_chunk"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Sequence packing: lay documents end-to-end into fixed 512-token
    * packs, per language shard — each doc gets its pack id and offset
    * from a running prefix sum ordered by doc_id. Partitioned window
    * (one shuffle on the shard key, then a linear in-partition scan):
    * the scalable form of packing — a global unpartitioned window would
    * serialize on one task at 100 TB, which is why packing is sharded. */
  private val packSequences = Spec(
    "llm_pack_sequences",
    """SELECT lang, doc_id, n_tokens,
      |  CAST(cum - n_tokens AS BIGINT) AS offset_in_shard,
      |  CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id
      |FROM (
      |  SELECT lang, doc_id, n_tokens,
      |    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum
      |  FROM (SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tokens
      |        FROM documents))
      |ORDER BY lang, doc_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docsWords(s, d)
      .select(col("lang"), col("doc_id"),
        size(col("words")).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("lang"), col("doc_id"), col("n_tokens"),
        (col("cum") - col("n_tokens")).as("offset_in_shard"),
        expr("(cum - n_tokens) div 512").as("pack_id"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** PII scrubbing on the event log: pseudonymize the user id (salted
    * sha256 — identical definition in both engines) and mask every digit
    * run in the free-form props payload. Per-row projection, no shuffle;
    * the regex class `[0-9]+` behaves identically under Java regex and
    * RE2, which is what makes the scrub oracle-checkable (fancier PII
    * patterns would be engine-divergent and belong behind a UDF). */
  private val piiScrub = Spec(
    "llm_pii_scrub",
    """SELECT event_id,
      |  substr(sha256(concat('graft.v1:',
      |    COALESCE(CAST(user_id AS VARCHAR), 'null'))), 1, 16)
      |    AS user_pseudo,
      |  regexp_replace(props, '[0-9]+', '#', 'g') AS props_scrubbed
      |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
    // COALESCE on both sides: DuckDB's concat ignores NULL args while
    // Spark's propagates them — a NULL user_id would otherwise diverge.
    Tables.events(s, d)
      .select(col("event_id"),
        substring(sha2(concat(lit("graft.v1:"),
          coalesce(col("user_id").cast("string"), lit("null"))), 256),
          1, 16).as("user_pseudo"),
        regexp_replace(col("props"), "[0-9]+", "#").as("props_scrubbed"))
      .orderBy(col("event_id"))
  }

  /** Vocabulary builder: top-100 tokens by corpus frequency with
    * cumulative coverage — the tokenizer-training prestep. Explode +
    * two-phase hash agg, then:
    *   - top-100 via `orderBy(...).limit(100)` — compiles to
    *     TakeOrderedAndProject (per-partition top-k, merge k·P rows), never
    *     a global sort. At pretraining scale distinct tokens are billions
    *     of rows; the r2 shape ranked them all through ONE unpartitioned
    *     window task before applying `rk <= 100`.
    *   - corpus total via a separate 1-row aggregate, broadcast-crossed in.
    *   - rank + cumulative sum over the k-bounded top set WITHOUT any
    *     window: Catalyst strips foldable partition keys, so a
    *     constant-partitioned window degenerates to the empty spec (the
    *     one-task funnel). Over k ≤ 100 rows a triangular broadcast
    *     self-join is exact and fully partitioned — rk = |rows at-or-before
    *     me in the (n DESC, token ASC) total order|, cum = sum of their
    *     counts — O(k²) ≈ 10k pairs, independent of corpus size. The two
    *     references to `top` share one shuffle via ReusedExchange.
    * Total-order tiebreak (count DESC, token ASC) keeps ranks and the
    * integer cumsum deterministic; coverage is an exact int/int double
    * division. */
  private val vocab = Spec(
    "llm_vocab",
    """SELECT token, n, rk,
      |  CAST(cum AS DOUBLE) / total AS coverage
      |FROM (
      |  SELECT token, n,
      |    ROW_NUMBER() OVER w AS rk,
      |    CAST(SUM(n) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND
      |      CURRENT ROW) AS BIGINT) AS cum,
      |    CAST(SUM(n) OVER () AS BIGINT) AS total
      |  FROM (
      |    SELECT token, COUNT(*) AS n
      |    FROM (SELECT unnest(string_split(text, ' ')) AS token
      |          FROM documents)
      |    GROUP BY token)
      |  WINDOW w AS (ORDER BY n DESC, token ASC))
      |WHERE rk <= 100
      |ORDER BY rk""".stripMargin) { (s, d) =>
    val counts = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    val top = counts.orderBy(col("n").desc, col("token").asc).limit(100)
    // Corpus token total == SUM over the grouped counts, but computed
    // map-only from per-doc token counts (no second explode+shuffle pass).
    // coalesce(0) keeps a NULL text consistent with explode's skip.
    val total = Tables.documents(s, d)
      .select(coalesce(size(split(col("text"), " ")), lit(0))
        .cast("long").as("c"))
      .agg(sum(col("c")).as("total"))
    val peer = top.select(col("token").as("t2"), col("n").as("n2"))
    top.join(broadcast(peer),
        col("n2") > col("n") ||
          (col("n2") === col("n") && col("t2") <= col("token")))
      .groupBy(col("token"), col("n"))
      .agg(count(lit(1)).cast("long").as("rk"), sum(col("n2")).as("cum"))
      .crossJoin(broadcast(total))
      .select(col("token"), col("n"), col("rk"),
        (col("cum").cast("double") / col("total")).as("coverage"))
      .orderBy(col("rk"))
  }

  /** Curriculum staging: shortest-to-longest schedule per language —
    * each doc gets its quartile (NTILE(4) over token count with a
    * total-order tiebreak) within its language shard. Partitioned window,
    * same sharded shape as the packer. */
  private val curriculum = Spec(
    "llm_curriculum",
    """SELECT doc_id, lang, n_tokens,
      |  CAST(NTILE(4) OVER (PARTITION BY lang
      |    ORDER BY n_tokens NULLS LAST, doc_id) AS INT) AS stage
      |FROM (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    // NULLS LAST pinned explicitly: Spark's ASC default is NULLS FIRST,
    // DuckDB's is NULLS LAST — a NULL text would shift every NTILE bucket.
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_tokens").asc_nulls_last, col("doc_id"))
    docsWords(s, d)
      .select(col("doc_id"), col("lang"),
        size(col("words")).cast("long").as("n_tokens"))
      .withColumn("stage", ntile(4).over(w))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("stage"))
      .orderBy(col("doc_id"))
  }

  /** Domain-mix rebalancing to a uniform target: per source, the
    * upsampling factor max_count/count (and its epoch ceiling) that a
    * sampler would apply to equalize domains. The global max is a 1-row
    * aggregate broadcast-crossed onto the ≤ |domains| per-source rows —
    * the last unpartitioned window in the engine was here and even this
    * post-aggregate one is now gone (the whole engine plans zero
    * WindowExec nodes with an empty partition spec — asserted engine-wide
    * in PlanSpec); the exact-division doubles are bit-stable across
    * engines. */
  private val domainMix = Spec(
    "llm_domain_mix",
    """SELECT source, n_docs,
      |  CAST(max_n AS DOUBLE) / n_docs AS upsample,
      |  CAST(CEIL(CAST(max_n AS DOUBLE) / n_docs) AS BIGINT) AS n_epochs
      |FROM (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(MAX(COUNT(*)) OVER () AS BIGINT) AS max_n
      |  FROM documents GROUP BY source)
      |ORDER BY source""".stripMargin) { (s, d) =>
    val counts = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
    counts
      .crossJoin(broadcast(counts.agg(max(col("n_docs")).as("max_n"))))
      .select(col("source"), col("n_docs"),
        (col("max_n").cast("double") / col("n_docs")).as("upsample"),
        ceil(col("max_n").cast("double") / col("n_docs")).as("n_epochs"))
      .orderBy(col("source"))
  }
}
