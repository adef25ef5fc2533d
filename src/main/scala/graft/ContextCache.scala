package graft

import scala.collection.mutable

/** Driver-side memo for values that live as long as a SparkContext does —
  * broadcasts, DataFrames over a session — keyed by (owner, content key),
  * e.g. (session, dictionary digest). Every access first drops the entries
  * whose owner's context has stopped, so the map is bounded by live owners ×
  * distinct keys. Deliberately not a WeakHashMap: a cached DataFrame holds
  * its own session strongly, so a weakly keyed entry would never be freed. */
private[graft] final class ContextCache[O <: AnyRef, V](isStopped: O => Boolean) {
  private val entries = mutable.Map.empty[(O, String), V]

  def getOrElseUpdate(owner: O, key: String)(build: => V): V = synchronized {
    entries.keysIterator.filter(k => isStopped(k._1)).toList.foreach(entries.remove)
    entries.getOrElseUpdate((owner, key), build)
  }
}
