package graft.lake

/** Size-bounded LRU memo (access-ordered), the cache discipline behind
  * [[MergeTable]]'s JVM-wide commit-dir schema resolution: past `cap`
  * entries the LEAST-recently-USED entry is evicted — never the whole
  * map — so a long-lived driver crossing the bound keeps its hot
  * working set and resolution cost stays monotonic past the cap (the
  * r13 memo cleared ALL 65k entries at overflow, re-paying every hot
  * dir's footer listing right after the flush).
  *
  * Thread-safe by a single mutex (the synchronized-map discipline);
  * `compute` runs OUTSIDE the lock, so a slow resolution (driver-side
  * footer reads) never blocks other dirs' hits — the cost is that two
  * racing misses of the SAME key may both compute (idempotent by the
  * callers' contract: commit dirs are immutable).
  */
private[lake] final class LruMemo[K, V](cap: Int) {
  require(cap > 0, s"LruMemo: cap must be positive, got $cap")

  private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      size() > cap
  }

  private val hitCount = new java.util.concurrent.atomic.AtomicLong
  private val missCount = new java.util.concurrent.atomic.AtomicLong

  def get(k: K)(compute: => V): V = {
    val cached = map.synchronized(map.get(k))
    if (cached != null) { hitCount.incrementAndGet(); cached }
    else {
      missCount.incrementAndGet()
      val v = compute
      map.synchronized {
        val raced = map.get(k)
        if (raced != null) raced
        else { map.put(k, v); v }
      }
    }
  }

  /** The cached value for `k`, if any — counted neither as a hit nor
    * as a miss (the caller decides whether it may serve it). */
  def peek(k: K): Option[V] = Option(map.synchronized(map.get(k)))

  def remove(k: K): Unit = map.synchronized(map.remove(k))

  def clear(): Unit = map.synchronized(map.clear())

  def size: Int = map.synchronized(map.size())
  def hits: Long = hitCount.get()
  def misses: Long = missCount.get()
}
