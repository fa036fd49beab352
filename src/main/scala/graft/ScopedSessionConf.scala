package graft

import java.util.concurrent.locks.ReentrantLock

import org.apache.spark.sql.SparkSession

/** Scoped set/restore of a session-global SQL conf, for DATA-scale
  * sizing: per-micro-batch shuffle partitions and AQE in the
  * incremental merge, the curation micro path and the streaming drains.
  * (Metadata sizing does not come through here: manifest work runs on
  * its own session, [[Sessions.meta]].)
  *
  * `spark.conf.set` mutates SESSION state, so a "temporary" override is
  * only sound if no other scope's restore can interleave with this
  * one's: two overlapping windows on the same key can each restore the
  * other's temporary value as the "previous" one, leaving the session
  * permanently scoped. Every window therefore takes this ONE re-entrant
  * lock — overlap is impossible by construction, and same-thread
  * nesting restores outside-in.
  *
  * The lock orders WINDOWS only. During `f` the scoped value is the
  * session's value: any other query on the same session that plans
  * meanwhile — e.g. a QueryLayer read overlapping an ingest's merge;
  * readers never call this helper, so they never wait on the lock —
  * plans under it too. Callers must materialize
  * everything that should see the scoped value inside `f` (lazy frames
  * returned out of `f` escape the scope); genuinely parallel workloads
  * with different sizing need their own session.
  */
object ScopedSessionConf {
  private val lock = new ReentrantLock

  def withConf[T](s: SparkSession, key: String, value: String)(f: => T): T = {
    lock.lock()
    try {
      // getAll: getOption reports an unset key's default as a value
      val prev = s.conf.getAll.get(key)
      s.conf.set(key, value)
      try f finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    } finally lock.unlock()
  }

  /** The engine's one recurring scoped key: per-micro-batch shuffle
    * partition sizing (state stores and store merges pay per partition
    * per batch, so batch-sized work must not inherit a corpus-sized
    * session default). n <= 0 = inherit the session conf unscoped. */
  def withShufflePartitions[T](s: SparkSession, n: Int)(f: => T): T =
    if (n <= 0) f
    else withConf(s, "spark.sql.shuffle.partitions", n.toString)(f)
}
