package graft.core

/** A size-bounded map that evicts the least-recently-USED entry once it
  * holds `capacity` entries (access-order `LinkedHashMap`): a hot key that
  * keeps being read survives any number of cold insertions, where a
  * clear-all at the cap would drop it with them. Thread-safe by one
  * monitor; `getOrElseUpdate` computes outside it, so two racing misses
  * may both compute (callers cache immutable facts, so either wins).
  */
final class LruCache[K, V](val capacity: Int) {
  require(capacity > 0, "LruCache: capacity must be positive")

  private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      size() > capacity
  }

  def get(k: K): Option[V] = synchronized(Option(m.get(k)))

  def getOrElseUpdate(k: K, v: => V): V = get(k).getOrElse {
    val computed = v
    synchronized(m.put(k, computed))
    computed
  }

  def size: Int = synchronized(m.size())
}
