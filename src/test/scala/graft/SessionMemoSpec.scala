package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SessionMemo

/** Each [[SessionMemo]] behaviour, tested once at the abstraction: every
  * session-keyed memo in the engine (fixture relations, staged layouts,
  * persisted helper relations, trained models) inherits it. */
class SessionMemoSpec extends AnyFunSuite {
  import TestSpark._

  private val dir = "/tmp/graft_memo_spec/sf"

  test("concurrent callers of one key share a single build") {
    val memo = new SessionMemo[Object]()
    val builds = new AtomicInteger
    val n = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    try {
      val results = (1 to n).map { _ =>
        pool.submit[Object] { () =>
          start.await()
          memo(spark, dir) {
            builds.incrementAndGet()
            Thread.sleep(100) // hold the build open while the others arrive
            new Object
          }
        }
      }
      start.countDown()
      val values = results.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get == 1, s"${builds.get} builds for one key")
      assert(values.forall(_ eq values.head), "callers got different values")
    } finally pool.shutdownNow()
  }

  test("an unhealthy entry is dropped and rebuilt") {
    val healthy = new AtomicBoolean(true)
    val memo = new SessionMemo[Object](_ => healthy.get)
    val builds = new AtomicInteger
    def get(): Object = memo(spark, dir) { builds.incrementAndGet(); new Object }
    val first = get()
    assert(get() eq first, "a healthy hit must not rebuild")
    healthy.set(false)
    val second = get()
    assert(builds.get == 2 && !(second eq first),
      "an unhealthy hit must rebuild")
    healthy.set(true)
    assert(get() eq second, "the rebuilt entry must be memoized")
  }

  test("a build that throws leaves no entry and rethrows") {
    val memo = new SessionMemo[String]()
    val e = intercept[IllegalStateException] {
      memo(spark, dir)(throw new IllegalStateException("build failed"))
    }
    assert(e.getMessage == "build failed")
    assert(memo(spark, dir)("ok") == "ok",
      "the failed build left an entry behind")
  }

  test("normalised sfDir spellings and discriminators key as expected") {
    val memo = new SessionMemo[Object]()
    val a = memo(spark, dir)(new Object)
    assert(memo(spark, s"$dir/../sf/.")(new Object) eq a,
      "two spellings of one sfDir must share an entry")
    assert(!(memo(spark, dir, "other")(new Object) eq a),
      "a different discriminator must be a different entry")
  }

  test("session eviction drops only that session's entries") {
    val memo = new SessionMemo[Object]()
    val other = spark.newSession()
    val mine = memo(spark, dir)(new Object)
    val theirs = memo(other, dir)(new Object)
    assert(!(mine eq theirs), "sessions must not share entries")
    memo.evictSession(other) // what the application-end hook runs
    assert(memo(spark, dir)(new Object) eq mine,
      "evicting another session dropped this session's entry")
    assert(!(memo(other, dir)(new Object) eq theirs),
      "the evicted session's entry survived")
  }

  test("evictSfDir unpersists that sfDir's relations and keeps the rest") {
    val cacheManager = spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    def cached(df: DataFrame): Boolean = cacheManager.lookupCachedData(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).nonEmpty
    val (dirA, dirB) = (s"$dir/a", s"$dir/b")
    val a = SessionMemo.persisted(spark, dirA, "spec")(
      spark.range(0, 1001).toDF("v").persist())
    val b = SessionMemo.persisted(spark, dirB, "spec")(
      spark.range(0, 1002).toDF("v").persist())
    try {
      assert(a.count() == 1001 && b.count() == 1002)
      assert(cached(a) && cached(b), "test setup: relations not cached")
      SessionMemo.persisted.evictSfDir(spark, dirA)
      assert(!cached(a), "evictSfDir left the relation in the cache")
      assert(cached(b), "evictSfDir released another sfDir's relation")
      assert(SessionMemo.persisted(spark, dirB, "spec")(
        throw new AssertionError("rebuilt")) eq b,
        "evictSfDir dropped another sfDir's entry")
      val a2 = SessionMemo.persisted(spark, dirA, "spec")(
        spark.range(0, 1001).toDF("v").persist())
      assert(!(a2 eq a), "the evicted entry was still memoized")
    } finally {
      SessionMemo.persisted.evictSfDir(spark, dirA)
      SessionMemo.persisted.evictSfDir(spark, dirB)
    }
  }
}
