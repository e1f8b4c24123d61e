package graft.query

import org.apache.spark.sql.SparkSession
import graft.index.{IndexSnapshot, IndexStats}

/** Session-scoped (driver-side) cache of an index's query-time term->df
  * map, one entry per index dir, keyed by the version of the caller's
  * [[IndexSnapshot]].
  *
  * Why: every [[Wand.prepare]] batch otherwise runs one pushdown-filtered
  * Spark scan of the df table, a fixed per-batch floor (~150 ms median on
  * a 4-core host, 1,000-page index) that dominates small batches. For
  * vocabularies up to [[MaxCachedTerms]] the whole map is collected ONCE
  * per index version (one job, ~110 ms there) and lookups are driver-local;
  * larger vocabularies fall back to the per-batch scan (recorded so the
  * size check itself isn't repeated per batch).
  *
  * Invalidation: append/compact write a fresh df dir and commit a record
  * naming it (and always change n/avgdl), so the snapshot's (stats, dfDir)
  * — read in its one read of the commit record — changes exactly when the
  * df content may have. The cache reads no file: the key
  * and the df dir it loads both come from the caller's snapshot, so a call
  * never pairs one version's stats with another version's df. Tombstones
  * are not cached here; they are a field of the snapshot.
  */
object IndexCache {

  /** ~40 bytes/entry -> <=40 MB of driver heap at the cap. Web-scale
    * vocabularies (larger) use the per-batch pushdown scan path.
    */
  val MaxCachedTerms: Long = 1000000L

  // dir -> ((stats, dfDir), Some(term->df) | None=vocab too large). Keyed
  // by the dir string: a scheme-less path and a file:// URI of the same
  // index are two entries, each validated by its snapshot's version.
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, ((IndexStats, String), Option[Map[String, Long]])]()

  // observability for tests/benchmarks
  private val loadCounter = new java.util.concurrent.atomic.AtomicLong()
  private[graft] def loads: Long = loadCounter.get()
  private[graft] def invalidateAll(): Unit = cache.clear()

  // one lock object per dir: the re-check + load + put run under it, so the
  // multi-second Spark load never holds a ConcurrentHashMap bin lock where
  // it would stall cache HITS for unrelated dirs sharing the bin
  private val dirLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The snapshot's full term->df map, or None when the vocabulary exceeds
    * [[MaxCachedTerms]]. Hits are LOCK-FREE: a key compare against the
    * cached entry, so queries never stall behind another thread's
    * in-flight load of the same dir when a valid entry already exists.
    *
    * Misses take the per-dir lock and re-check, so at most one load runs
    * per (dir, version) at a time; callers for other dirs are never
    * serialized. A call holding an older snapshot than the cached entry
    * loads and caches its own version (the next newer caller reloads) —
    * never serving either caller another version's map.
    */
  def dfMap(spark: SparkSession, snap: IndexSnapshot): Option[Map[String, Long]] = {
    val key = (snap.stats, snap.dfDir)
    def cached: Option[Option[Map[String, Long]]] =
      Option(cache.get(snap.dir)).filter(_._1 == key).map(_._2)
    cached.getOrElse(dirLocks.computeIfAbsent(snap.dir, _ => new Object).synchronized {
      cached.getOrElse {
        val loaded = load(spark, snap)
        cache.put(snap.dir, (key, loaded))
        loaded
      }
    })
  }

  private def load(spark: SparkSession, snap: IndexSnapshot): Option[Map[String, Long]] = {
    loadCounter.incrementAndGet()
    // ONE job: collect up to the cap + 1 rows — an over-cap vocabulary is
    // detected from the overflow row without a separate count() pass
    val rows = snap.df(spark).limit(MaxCachedTerms.toInt + 1).collect()
    if (rows.length > MaxCachedTerms) None
    else Some(rows.map(r => r.getString(0) -> r.getLong(1)).toMap)
  }
}
