package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bounded per-session materialization cache for shared substrate frames
  * (the dedup shingle/signature/candidate tables, the contamination gram
  * index): one build, N consumer queries, exactly as a production pipeline
  * materializes its intermediate tables once per run.
  *
  * Lifetime is explicit, not GC-driven: a Dataset strongly references its
  * SparkSession, so weak-keying a cache by session can never collect —
  * every value reaches its own key, and the "entries become unreachable,
  * ContextCleaner unpersists" lifecycle never fires. Instead this cache
  * holds strong keys in access-order LRU bounded to [[maxSessions]]
  * sessions; evicting a session unpersists every frame it cached. A
  * long-lived JVM that churns through sessions therefore holds at most
  * `maxSessions` sessions' worth of cached RDD blocks, and the common
  * one-session-per-JVM drivers (Verify, Bench, tests) never evict at all.
  * Within a session the entries are an access-order LRU too, bounded to
  * [[maxEntries]]: the parquet read path ([[Engine.parquet]]) keeps one
  * small entry per distinct read, and a long session must not grow
  * without limit.
  *
  * Caveat (inherent to Spark, pinned in SessionCacheSpec): the
  * CacheManager is SHARED across sessions of one SparkContext and keyed by
  * canonical plan, so unpersisting an evicted session's frame also drops a
  * plan-identical frame another live session cached — the next consumer
  * simply recomputes and re-caches, a performance blip, not a correctness
  * hazard.
  */
object SessionCache {

  private val maxSessions = 4

  private val maxEntries = 4096

  private final case class Entry(value: Any, cleanup: () => Unit) {
    // best-effort: the owning session may already be stopped
    def drop(): Unit = scala.util.Try(cleanup()): Unit
  }

  private final class Frames
      extends java.util.LinkedHashMap[String, Entry](16, 0.75f, /*accessOrder=*/ true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Entry]): Boolean =
      if (size > maxEntries) { e.getValue.drop(); true } else false
  }

  private val perSession =
    new java.util.LinkedHashMap[SparkSession, Frames](16, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(e: java.util.Map.Entry[SparkSession, Frames]): Boolean =
        if (size > maxSessions) {
          e.getValue.values.forEach(_.drop())
          true
        } else false
    }

  private def framesOf(s: SparkSession): Frames = perSession.computeIfAbsent(s, _ => new Frames)

  /** Get-or-build the frame for (session, key); the frame is `.cache()`d
    * (lazily — first consumer materializes it). Reentrant: `build` may
    * itself call [[cached]] for its upstream substrate frames.
    */
  def cached(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    cachedValue[DataFrame](s, key)(build.cache())(df => { df.unpersist(); () })

  /** Get-or-build an arbitrary memoized value for (session, key) in the
    * SAME bounded LRU as [[cached]] — evicting a session runs each entry's
    * `cleanup` (e.g. unpersisting a checkpointed frame the value holds).
    * For composite run artifacts (the BPE training run) that aren't a bare
    * DataFrame but still pin cluster memory via one.
    */
  def cachedValue[T](s: SparkSession, key: String)(build: => T)(cleanup: T => Unit): T =
    synchronized {
      val frames = framesOf(s)
      Option(frames.get(key)).getOrElse {
        val v = build
        val en = Entry(v, () => cleanup(v))
        frames.put(key, en)
        en
      }.value.asInstanceOf[T]
    }

  /** The value held for (session, key), if any — unlike [[cachedValue]]
    * the caller decides what a hit means and writes back with [[replace]]. */
  def lookup[T](s: SparkSession, key: String): Option[T] =
    synchronized(Option(framesOf(s).get(key)).map(_.value.asInstanceOf[T]))

  /** Store a plain value (nothing to clean up) for (session, key),
    * dropping the entry it replaces: one entry per key, whatever the
    * number of writes. */
  def replace(s: SparkSession, key: String, value: Any): Unit =
    synchronized(Option(framesOf(s).put(key, Entry(value, () => ()))).foreach(_.drop()))

  /** Number of sessions currently holding cached frames (test hook). */
  private[graft] def sessionCount: Int = synchronized(perSession.size)
}
