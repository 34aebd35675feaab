package graft.sources

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A memo of pay-once builds keyed by (session, normalised absolute sfDir,
  * discriminator) — the one mechanism behind every session-scoped memo
  * (ARCHITECTURE.md "Session memos").
  *
  *  - `healthy` is re-checked on every hit; an entry failing it is dropped
  *    and rebuilt, so a memo whose value names on-disk state heals after
  *    an external (or partial) delete of that state.
  *  - Each key is built at most once, atomically: concurrent callers of
  *    one key wait for the single build. A build that throws leaves no
  *    entry and the exception reaches every waiting caller. A build may
  *    call a DIFFERENT memo (each memo owns its map) but never its own.
  *  - When a session's context ends, that session's entries are dropped
  *    (one hook per session and memo), so a session-cycling harness never
  *    pins dead sessions.
  *  - [[evictSfDir]] drops one session's entries for one sfDir and runs
  *    `release` on each (unpersist, for memos of persisted relations). */
final class SessionMemo[V](
    healthy: V => Boolean = (_: V) => true,
    release: V => Unit = (_: V) => ()) {
  import SessionMemo.{Key, norm}

  private val entries = new ConcurrentHashMap[Key, V]
  private val hookTag = s"session-memo-${SessionMemo.ids.incrementAndGet()}"

  def apply(s: SparkSession, sfDir: String, disc: String = "")
      (build: => V): V = {
    val k = Key(s, norm(sfDir), disc)
    val hit = entries.get(k)
    if (hit != null && healthy(hit)) hit
    else {
      if (hit != null) entries.remove(k, hit)
      SessionHooks.onApplicationEnd(s, hookTag)(() => evictSession(s))
      entries.computeIfAbsent(k, _ => build)
    }
  }

  /** What the application-end hook runs: forget every entry of `s`. No
    * `release` — the ending context is already dropping its blocks. */
  private[graft] def evictSession(s: SparkSession): Unit = {
    entries.keySet.removeIf(_.session eq s); ()
  }

  /** Forget, and `release`, every entry `sfDir` pinned in session `s`. */
  def evictSfDir(s: SparkSession, sfDir: String): Unit = {
    val abs = norm(sfDir)
    entries.forEach { (k, v) =>
      if ((k.session eq s) && k.sfDir == abs && entries.remove(k, v))
        release(v)
    }
  }
}

object SessionMemo {
  private final case class Key(session: SparkSession, sfDir: String,
      disc: String)

  private val ids = new AtomicLong

  def norm(sfDir: String): String =
    java.nio.file.Paths.get(sfDir).toAbsolutePath.normalize.toString

  /** [[norm]] with every non-alphanumeric character mapped to `_`: the
    * sfDir component of scratch and shared dir names, catalog table names
    * and streaming query names. */
  def pathKey(sfDir: String): String =
    norm(sfDir).replaceAll("[^A-Za-z0-9]", "_")

  /** Small derived relations that more than one part of a plan (or more
    * than one registered row) consumes — an LM table, a name dictionary,
    * range-partitioned rank keys, the partsupp rollup. The build must
    * return the relation already `persist()`ed; [[SessionMemo.evictSfDir]]
    * unpersists (non-blocking: the entries are already unreachable). */
  val persisted: SessionMemo[DataFrame] =
    new SessionMemo[DataFrame](release = _.unpersist(blocking = false))
}
