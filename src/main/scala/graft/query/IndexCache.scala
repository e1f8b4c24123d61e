package graft.query

import org.apache.spark.sql.SparkSession
import graft.io.MetaIO
import graft.index.PackedIndex

/** Session-scoped (driver-side) cache of an index's query-time term->df
  * map, keyed by a stats.json content token.
  *
  * Why: every [[Wand.prepare]] batch otherwise runs one pushdown-filtered
  * Spark scan of the df table, a fixed per-batch floor (~150 ms median on
  * a 4-core host, 1,000-page index) that dominates small batches. For
  * vocabularies up to [[MaxCachedTerms]] the whole map is collected ONCE
  * per index version (one job, ~110 ms there) and lookups are driver-local;
  * larger vocabularies fall back to the per-batch scan (recorded so the
  * size check itself isn't repeated per batch).
  *
  * Invalidation: append/compact write a fresh df dir and atomically flip
  * stats.json's dfDir pointer (and always change n/avgdl), so a token of
  * stats.json's CONTENT changes exactly when the df content may have. It is
  * an md5 prefix, NOT mtime/size: two equal-length rewrites within one
  * mtime tick would alias a time-based token and silently serve a stale map
  * (appended terms would return no hits). Reading the few hundred bytes is
  * driver-local microseconds, no Spark job. Tombstones are NOT cached here:
  * delete() touches only tombstones.txt, which this cache never serves.
  */
object IndexCache {

  /** ~40 bytes/entry -> <=40 MB of driver heap at the cap. Web-scale
    * vocabularies (larger) use the per-batch pushdown scan path.
    */
  val MaxCachedTerms: Long = 1000000L

  // dir -> (stats.json content token, Some(term->df) | None=vocab too large).
  // Keyed by the dir string: a scheme-less path and a file:// URI of the
  // same index are two entries, each validated by the same content token.
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Option[Map[String, Long]])]()

  // observability for tests/benchmarks
  private val loadCounter = new java.util.concurrent.atomic.AtomicLong()
  private[graft] def loads: Long = loadCounter.get()
  private[graft] def invalidateAll(): Unit = cache.clear()

  /** Content-derived invalidation token: first 8 bytes of
    * md5(stats.json bytes); -1 for a missing file.
    */
  private def token(dir: String): Long = {
    val p = s"$dir/stats.json"
    if (!MetaIO.exists(p)) -1L
    else {
      val digest = java.security.MessageDigest.getInstance("MD5").digest(
        MetaIO.readString(p).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.ByteBuffer.wrap(digest).getLong
    }
  }

  // one lock object per dir: token read + load + put run under it, so the
  // multi-second Spark load never holds a ConcurrentHashMap bin lock where
  // it would stall cache HITS for unrelated dirs sharing the bin
  private val dirLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The full term->df map for the index, or None when the vocabulary
    * exceeds [[MaxCachedTerms]]. Hits are LOCK-FREE: a token compare against
    * the cached entry (the token read is a driver-local md5 of a few hundred
    * bytes) serves without touching the per-dir lock, so queries against a
    * dir never stall behind another thread's in-flight multi-second load of
    * the SAME dir when a valid entry already exists (an append-triggered
    * reload used to block every concurrent query on that index).
    *
    * Misses take the per-dir lock with a double-check: the token is re-read
    * and the cache re-consulted under the lock, so at most one load runs per
    * (dir, token) and a racing thread's pre-append token can never overwrite
    * a newer entry (it re-reads before writing). Callers for other dirs are
    * never serialized.
    */
  def dfMap(spark: SparkSession, dir: String): Option[Map[String, Long]] = {
    val fastVer = token(dir)
    val fastHit = cache.get(dir)
    if (fastHit != null && fastHit._1 == fastVer) fastHit._2
    else {
      val lock = dirLocks.computeIfAbsent(dir, _ => new Object)
      lock.synchronized {
        val ver = token(dir)
        val hit = cache.get(dir)
        if (hit != null && hit._1 == ver) hit._2
        else {
          val loaded = load(spark, dir)
          cache.put(dir, (ver, loaded))
          loaded
        }
      }
    }
  }

  private def load(spark: SparkSession, dir: String): Option[Map[String, Long]] = {
    loadCounter.incrementAndGet()
    // ONE job: collect up to the cap + 1 rows — an over-cap vocabulary is
    // detected from the overflow row without a separate count() pass
    val rows = PackedIndex.loadDf(spark, dir)
      .limit(MaxCachedTerms.toInt + 1).collect()
    if (rows.length > MaxCachedTerms) None
    else Some(rows.map(r => r.getString(0) -> r.getLong(1)).toMap)
  }
}
