package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture-table access (TESTDATA.md / FIXTURES.md).
  *
  * Parquet self-describes its schema and the driver fixtures are pinned, so
  * we read them directly; at 100 TB the same call reads a partitioned
  * directory tree instead of a single file — the API is unchanged and
  * partition pruning / predicate pushdown apply automatically.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The base relations, memoized per (session, fixture file): the
    * lazily-built DataFrame is a logical plan plus a file listing and
    * footer read, which `spark.read.parquet` would otherwise redo for
    * every query build. Sound because fixtures are immutable for a
    * session's lifetime (driver contract) — which [[guardMtime]]
    * enforces on every call. */
  private val relations = new SessionMemo[DataFrame]()

  /** First-seen (mtime, length) per (session, fixture file). A fixture
    * regenerated in place MID-session would leave every memoized
    * relation and the streaming schema pin ([[eventsRawTsType]]) stale;
    * the next [[load]]/[[eventsRaw]] instead fails here with one error
    * naming the file. Length is recorded as well as mtime because
    * `cp -p`, `rsync -t` and coarse timestamps can preserve mtime across
    * a rewrite; a same-length, same-mtime rewrite still passes
    * (FixtureContractSpec's content pins are the backstop). A new
    * session records fresh baselines. */
  private val firstSeen = new SessionMemo[(Long, Long)]()

  private def guardMtime(s: SparkSession, sfDir: String, name: String)
      : Unit = {
    val f = new java.io.File(SessionMemo.norm(sfDir), s"$name.parquet")
    val now = (f.lastModified(), f.length())
    // A missing file (lastModified == 0) records no baseline: the read
    // surfaces the real missing-file error, and a later successful load
    // establishes the baseline instead of failing as "changed".
    if (now._1 == 0L) return
    val first = firstSeen(s, sfDir, name)(now)
    if (first != now)
      throw new IllegalStateException(
        s"fixture ${f.getPath} changed mid-session (mtime,len $first -> " +
          s"$now): the driver regenerated testdata in place, so every " +
          "memoized relation and schema pin for it is stale — restart " +
          "the session/JVM and re-run (FixtureContractSpec names any " +
          "logical-schema drift)")
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    guardMtime(spark, sfDir, name)
    relations(spark, sfDir, name)(
      spark.read.parquet(s"$sfDir/$name.parquet"))
  }

  /** `events.ts` has shipped in two fixture generations: parquet
    * TIMESTAMP(NANOS) (pre-2026-08-13 regeneration), which Spark 4.1
    * refuses to read natively ([PARQUET_TYPE_ILLEGAL]) and we instead read
    * as a raw long via the legacy conf, and plain TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (current), which Spark reads directly as
    * TIMESTAMP_NTZ. The conf is safe to set unconditionally — it only
    * changes how TIMESTAMP(NANOS) columns parse and is a no-op on a µs
    * file — and is deliberately left set for the session rather than
    * restored: restoring it at query-BUILD time would race with Spark's
    * lazy evaluation (the scan reads the conf at execution).
    * [[events]] normalizes both generations to the same column type. */
  private def eventsRaw(s: SparkSession, d: String): DataFrame = {
    guardMtime(s, d, "events")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    relations(s, d, "events#nanosAsLong")(
      s.read.parquet(s"$d/events.parquet"))
  }

  /** The `ts` type as stored in the fixture file (LongType for the legacy
    * ns generation under the nanosAsLong conf, TimestampNTZType for the
    * current µs generation) — the streaming file source pins its schema to
    * this, since a streaming schema pin must match the file exactly. */
  def eventsRawTsType(s: SparkSession, d: String):
      org.apache.spark.sql.types.DataType =
    eventsRaw(s, d).schema("ts").dataType

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** Events with `ts` normalized to session-local TIMESTAMP micros — the
    * type every registered consumer (window(), unix_micros, watermarks,
    * getTimestamp extraction) was built and oracle-validated against —
    * regardless of which fixture generation is on disk:
    *  - legacy ns-as-long: truncate ns→µs with integer division, exactly
    *    the truncation DuckDB applies reading the same column;
    *  - current µs TIMESTAMP_NTZ: cast NTZ→TIMESTAMP, which interprets the
    *    wall-clock value in the session timezone (pinned UTC by every
    *    entrypoint), i.e. the identical epoch-µs value DuckDB's epoch_us()
    *    computes from its naive TIMESTAMP read of the same file. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(eventsRaw(s, d))

  /** The generation-normalization itself, factored out so the streaming
    * file source (Scans.eventsFileStream, which pins its schema to the
    * RAW stored type) applies the IDENTICAL transform and a streaming
    * consumer that projects `ts` sees the same values as the batch path
    * — works unchanged on batch and streaming relations
    * (pure column expressions, no actions). */
  private[graft] def normalizeTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    raw.schema("ts").dataType match {
      case LongType =>
        // ns→µs via `div` = truncation toward zero — bit-for-bit what
        // DuckDB's epoch_us() does reading the same ns column ON THE
        // FIXTURE'S ALL-POSITIVE (2024+) DOMAIN, where truncation and
        // floor-division coincide. For pre-epoch (negative) ns they
        // diverge (div rounds toward zero, floor rounds down); the
        // contract is PARITY with the oracle, not either convention in
        // isolation, so if pre-epoch events ever become possible both
        // engines' conventions must be re-checked together.
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other => throw new IllegalStateException(
        s"events.ts read as unexpected type $other; expected ns-as-long " +
          "(legacy fixture + nanosAsLong conf) or TIMESTAMP_NTZ (µs fixture)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
