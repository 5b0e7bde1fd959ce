package graft.ops

/** A bounded, thread-safe LRU map: at most `maxEntries` entries, the least
  * recently accessed evicted first. The engine's metadata memos (schemas,
  * entry sizes, pending write observations) all take this one shape.
  */
private[graft] final class Lru[K, V](maxEntries: Int) {
  private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      size() > maxEntries
  }

  def get(k: K): Option[V] = m.synchronized(Option(m.get(k)))

  def put(k: K, v: V): Unit = m.synchronized { m.put(k, v); () }

  def remove(k: K): Option[V] = m.synchronized(Option(m.remove(k)))

  /** The cached value, else `compute`'s, cached. `compute` runs outside
    * the lock, so two racing misses may both compute; the last put wins.
    */
  def getOrElseUpdate(k: K)(compute: => V): V =
    get(k).getOrElse { val v = compute; put(k, v); v }
}
