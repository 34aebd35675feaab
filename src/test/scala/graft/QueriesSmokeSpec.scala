package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every declared query must at least execute against sf0.001 (fixture
  * canary — catches schema drift and bad column refs long before the
  * driver's oracle run). */
class QueriesSmokeSpec extends AnyFunSuite {
  import TestSpark._

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  test("spec names are unique (Map would silently drop collisions)") {
    val names = SparkEntry.specNames
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate spec names: $dups")
    assert(SparkEntry.queries.size == names.size)
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name executes on sf0.001") {
      val confs = spark.conf.getAll
      val n = fn(spark, SF001).count()
      assert(n >= 0)
      // A row's own confs belong on a Sessions.scoped clone. The one
      // exception: Tables.eventsRaw sets nanosAsLong on the caller's
      // session, because the parquet scan reads it from the session that
      // built the relation when the scan executes.
      val nanos = "spark.sql.legacy.parquet.nanosAsLong"
      assert(spark.conf.getAll - nanos == confs - nanos,
        s"$name changed the shared session's confs")
    }
  }
}
