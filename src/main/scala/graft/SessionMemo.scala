package graft

import org.apache.spark.sql.SparkSession

/** Session-scoped driver-side memo for derived values (centroid
  * histories, trained weights, domain-check verdicts, and every
  * [[StageCache]] stage's dir under the reserved `stage|` key prefix)
  * that several queries share within one session but that must never
  * leak across sessions.
  *
  * Keying discipline (r14 advice): the outer map holds the
  * SparkSession itself under WEAK keys, so entries die with their
  * session instead of accumulating forever in long-lived multi-session
  * processes — and a new session can never collide with a dead one
  * (identity-hash-string keys had both defects). Values must be plain
  * data with NO reference back to the session, or the weak entry never
  * clears; every current value is an integer array/history, a boxed
  * verdict or a path holder.
  *
  * The BUILD runs inside the slot's own lock, NEVER inside the map's
  * computeIfAbsent: builds nest (the edge list derives the pair counts
  * derives the gram index, each a memo entry of its own), and nested
  * computeIfAbsent on one ConcurrentHashMap is documented undefined
  * behavior — it throws IllegalStateException("Recursive update")
  * whenever the keys land in colliding bins. The map operation only
  * creates the (empty) slot; a failed build leaves the slot empty, so
  * the next caller retries instead of caching the failure.
  */
object SessionMemo {

  private final class Slot {
    @volatile private var v: AnyRef = _
    def get(build: => AnyRef): AnyRef = {
      if (v == null) synchronized { if (v == null) v = build }
      v
    }
    def built: AnyRef = v
  }

  /** WeakHashMap wrapped in Collections.synchronizedMap: the wrapper
    * synchronizes computeIfAbsent (a compound default method) on
    * itself, so slot creation is atomic; the slot build itself runs
    * outside the wrapper lock. */
  private val perSession = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Slot]]())

  def memo[A <: AnyRef](s: SparkSession, key: String)(build: => A): A = {
    val m = perSession.computeIfAbsent(s,
      _ => new java.util.concurrent.ConcurrentHashMap[String, Slot]())
    m.computeIfAbsent(key, _ => new Slot).get(build).asInstanceOf[A]
  }

  /** Read-only probe: the memoized value iff it is already built —
    * never builds. For pointer memos whose PRESENCE is the signal
    * (e.g. a loaded centroid-artifact path: absent means "derive from
    * the stage cache", present means "serve the artifact"). */
  def peek[A <: AnyRef](s: SparkSession, key: String): Option[A] = {
    val m = perSession.get(s)
    if (m == null) None
    else Option(m.get(key)).flatMap(sl => Option(sl.built))
      .map(_.asInstanceOf[A])
  }

  /** Drop every entry of this session whose key starts with `prefix` —
    * the invalidation hook of the retrain-and-swap verbs
    * ([[graft.ops.Clustering.retrainCentroids]]): an EXPLICIT retrain
    * is the one sanctioned way session-immutable memos may be
    * replaced, and it must clear every stale derivation (histories,
    * fingerprint anchors, domain verdicts) in one move so no consumer
    * pairs old state with new. Not for general use — ordinary code
    * relies on the per-session-immutability contract. */
  def dropByPrefix(s: SparkSession, prefix: String): Unit = {
    val m = perSession.get(s)
    if (m != null) m.keySet.removeIf(_.startsWith(prefix))
  }

  /** Drop one exact key — for memo families whose key is not
    * separator-terminated (a PREFIX drop on `kmeans_fp|/a/b` would
    * also clear `/a/bc`'s anchor, silently weakening that dir's
    * mid-session-swap guard). */
  def drop(s: SparkSession, key: String): Unit = {
    val m = perSession.get(s)
    if (m != null) { m.remove(key); () }
  }
}
