package graft

import org.apache.spark.sql.SparkSession

/** Per-(session, corpus or path) cache of session-invariant values: the
  * trained artifacts of the operator families that train something
  * reusable (ANN index, dedup cluster map, SemDedup model, DSIR bucket
  * model, decontamination bloom) and [[Tables]]' per-path schemas.
  * Entries have no bound and no eviction. A failed computation is not
  * cached.
  *
  * Keyed on `sessionUUID` — stable and unique for the session's whole
  * lifetime — never on `System.identityHashCode`, whose values can be
  * legitimately reused after the old session object is collected,
  * which would hand a new session DataFrames bound to a stopped
  * SparkContext. Entries for stopped sessions are retained (bounded by
  * sessions-per-JVM, which is one for every entry point here); a
  * restarted session gets a fresh UUID and retrains rather than
  * inheriting dead frames.
  */
final class SessionCache[V] {
  private val m = new java.util.concurrent.ConcurrentHashMap[String, V]()
  def getOrCompute(s: SparkSession, dir: String)(f: => V): V =
    m.computeIfAbsent(
      s"${org.apache.spark.sql.GraftBridge.sessionUUID(s)}:$dir", _ => f)
}
