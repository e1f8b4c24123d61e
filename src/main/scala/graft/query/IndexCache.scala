package graft.query

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.index.{IndexSnapshot, IndexStats}
import graft.index.PackedIndex.GroupManifest

/** Session-scoped (driver-side) cache of an index's query-time term->df
  * map, one entry per index dir, keyed by the version of the caller's
  * [[IndexSnapshot]]: its (stats, manifests).
  *
  * Why: a [[Wand.prepare]] batch otherwise pays a Spark job for its terms'
  * df. An index of up to [[MaxCachedTerms]] postings rows is loaded ONCE
  * per version: one column-pruned scan of (term, nPostings) summed on the
  * driver, no shuffle. Larger indexes use the per-batch lookup.
  *
  * Invalidation: committed groups are never rewritten and an append
  * commits one more, so a snapshot whose leading manifests equal the
  * cached entry's is patched with the appended groups' rows only: the
  * first read after an append scans one group, not the index. Any other
  * version is loaded whole. The key and the groups scanned both come from
  * the caller's snapshot (the cache reads no file), so a call never pairs
  * one version's stats with another's df. Tombstones are a field of the
  * snapshot, not cached here.
  */
object IndexCache {

  /** Bound on a cached index's postings rows (Σ group `terms`, known
    * before a scan), so on its terms: <=40 MB of driver heap at the cap.
    */
  val MaxCachedTerms: Long = 1000000L

  /** A cached version: its key and Some(term->df) | None=index too large. */
  private final case class Entry(stats: IndexStats, manifests: Seq[GroupManifest],
                                 df: Option[Map[String, Long]])

  // Keyed by the dir string: a scheme-less path and a file:// URI of the
  // same index are two entries, each validated by its snapshot's version.
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  // observability for tests/benchmarks
  private val loadCounter = new java.util.concurrent.atomic.AtomicLong()
  private[graft] def loads: Long = loadCounter.get() // loads and patches
  private[graft] def invalidateAll(): Unit = cache.clear()

  // one lock object per dir: the re-check + load + put run under it, so the
  // multi-second Spark load never holds a ConcurrentHashMap bin lock where
  // it would stall cache HITS for unrelated dirs sharing the bin
  private val dirLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The snapshot's full term->df map, or None when the index exceeds
    * [[MaxCachedTerms]]. Hits are LOCK-FREE: a key compare against the
    * cached entry, so queries never stall behind another thread's
    * in-flight load of the same dir when a valid entry already exists.
    *
    * Misses take the per-dir lock and re-check, so at most one load runs
    * per (dir, version) at a time; callers for other dirs are never
    * serialized. A call holding an older snapshot than the cached entry
    * loads and caches its own version (the next newer caller patches it)
    * — never serving either caller another version's map.
    */
  def dfMap(spark: SparkSession, snap: IndexSnapshot): Option[Map[String, Long]] = {
    def cached: Option[Option[Map[String, Long]]] = Option(cache.get(snap.dir))
      .filter(e => e.stats == snap.stats && e.manifests == snap.manifests).map(_.df)
    cached.getOrElse(dirLocks.computeIfAbsent(snap.dir, _ => new Object).synchronized {
      cached.getOrElse {
        val loaded = load(spark, snap, Option(cache.get(snap.dir)))
        cache.put(snap.dir, Entry(snap.stats, snap.manifests, loaded))
        loaded
      }
    })
  }

  /** `prev`'s map patched with the appended groups when `snap` extends
    * `prev`'s groups, else a scan of every group.
    */
  private def load(spark: SparkSession, snap: IndexSnapshot,
                   prev: Option[Entry]): Option[Map[String, Long]] =
    if (snap.manifests.map(_.terms).sum > MaxCachedTerms) None
    else {
      val (base, scan) = prev.collect {
        case Entry(_, ms, Some(df)) if ms.size < snap.manifests.size &&
            snap.manifests.startsWith(ms) => (df, snap.manifests.drop(ms.size))
      }.getOrElse((Map.empty[String, Long], snap.manifests))
      loadCounter.incrementAndGet()
      Some(snap.postings(spark, scan).select(col("term"), col("nPostings")).collect()
        .foldLeft(base) { (df, r) =>
          val t = r.getString(0)
          df.updated(t, df.getOrElse(t, 0L) + r.getLong(1))
        })
    }
}
