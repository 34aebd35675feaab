package graft

import org.apache.spark.sql.SparkSession

/** The session every `main` runs on. */
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
}
