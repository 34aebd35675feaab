package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session every `main` runs on, and the one way a query gets its
  * own confs (ARCHITECTURE.md "Session confs"). */
object Sessions {
  /** `local[cpus]` with shuffle partitions = cpus (the driver contract's
    * sizing), the UTC session time zone every oracle hash assumes, and
    * the UI off. */
  def local(cpus: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** One clone per (caller session, exact conf list). A clone's first
    * streaming query adds its query manager's listener bus to the
    * SparkContext for good, so a clone per run would pin every earlier
    * clone and its memory sinks. The entry is keyed by no sfDir: one
    * clone serves them all. */
  private val clones = new graft.sources.SessionMemo[SparkSession]()

  /** A clone of `s` with `confs` set. It shares `s`'s SparkContext, cache
    * and catalog but owns its SQLConf, which starts from the SparkConf:
    * runtime sets on `s` do not carry over, and nothing set here is seen
    * by `s` or by any concurrent query. Every call with the same `s` and
    * `confs` returns the same clone, so no caller may set a conf on it. */
  def scoped(s: SparkSession, confs: (String, String)*): SparkSession =
    clones(s, "", confs.mkString(",")) {
      val s2 = s.newSession()
      confs.foreach { case (k, v) => s2.conf.set(k, v) }
      s2
    }

  /** `df`'s plan run on a [[scoped]] clone of its session: it is
    * optimized, planned and executed under `confs`, while its relations
    * (and every memo that built them) stay the caller's. */
  def scoped(df: DataFrame, confs: (String, String)*): DataFrame =
    org.apache.spark.sql.graft.Rebind(scoped(df.sparkSession, confs: _*), df)
}
