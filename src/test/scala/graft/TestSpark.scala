package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (SURVEY.md §5.3). */
object TestSpark {
  val SF001 = "/root/testdata/sf0.001"
  val SF01 = "/root/testdata/sf0.01"
  /** The bench fixture. Suites that touch it: FixtureContractSpec (the
    * drift detector, so a regeneration that changed sf0.1 alone still
    * fails a named test) and LlmSpec's LSH-completeness sweep; everything
    * else stays on the small SFs. */
  val SF1 = "/root/testdata/sf0.1"

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val tempRoots =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  private lazy val removeTempRootsAtExit: Unit = {
    sys.addShutdownHook(
      tempRoots.forEach(f => graft.operators.Scans.rmRecursive(f)))
    ()
  }

  /** A fresh `<prefix>…` directory under java.io.tmpdir, removed with its
    * whole tree when the test JVM exits. Every suite takes its scratch
    * directories here, so a test run leaves none behind. */
  def tempDir(prefix: String): java.nio.file.Path = {
    removeTempRootsAtExit
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tempRoots.add(d.toFile)
    d
  }

  val RocksProviderKey = "spark.sql.streaming.stateStore.providerClass"
  val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  val ChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** Run `body` with the RocksDB state store provider active — WITH
    * changelog checkpointing (per-batch change uploads instead of full
    * RocksDB snapshots; the production checkpoint mode at 100 TB) — the
    * ONE conf swap shared by every RocksDB-backed test
    * (StreamingRecoverySpec, TransformWithStateSpec), so the deployment
    * configuration can't drift between suites. Previous values are
    * restored afterwards; suites run sequentially in the forked test
    * JVM, so the temporary session-conf swap cannot leak into a
    * concurrent test. */
  def withRocksDb[A](body: => A): A = {
    val prev = Seq(RocksProviderKey, ChangelogKey)
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set(RocksProviderKey, RocksProvider)
    spark.conf.set(ChangelogKey, "true")
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** The first n fixture events as typed rows — the one extraction shared
    * by every streaming parity test (StreamingSpec, StreamingRecoverySpec,
    * ChainedStream), so the column list can't drift between suites. */
  def fixtureEvents(n: Int): Seq[Ev] = {
    import org.apache.spark.sql.functions.col
    graft.sources.Tables.events(spark, SF001)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .limit(n).collect()
      .map(r => Ev(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4))).toSeq
  }
}
