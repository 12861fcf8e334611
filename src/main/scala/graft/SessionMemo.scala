package graft

import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession

/** In-session memo for the builds the Verify/Bench query loop shares (the lazy
  * pipeline, rep shingles, incremental state and clusters, TrainPrep's
  * packed projection). One policy for all of them:
  *
  *  - Keying: entries are keyed by (session identity, key). A second live
  *    session gets its own entry; it never gets an un-cached orphan and
  *    never takes over another live session's entry.
  *  - One build: an entry is a lazily forced slot, so concurrent first
  *    callers in one session run exactly one build and there is no losing
  *    copy to release.
  *  - Stopped contexts: every access drops the entries whose SparkContext
  *    is stopped and releases them inside `Try` (unpersist on a stopped
  *    context throws).
  *  - Bound: at most [[SessionMemo.Capacity]] entries. Inserting past it
  *    releases the least-recently-used entry; an entry that was never
  *    forced is dropped without being built.
  *
  * Releasing an entry that a caller still holds costs a recompute, not a
  * wrong answer: a DataFrame taken from it keeps its lineage and recomputes
  * whatever was unpersisted (SessionMemoSpec).
  */
private[graft] final class SessionMemo[K, V](release: V => Unit) {

  private final class Slot(build: () => V) {
    @volatile private var built: Option[V] = None
    @volatile private var dropped = false
    private val released = new AtomicBoolean(false)

    lazy val value: V = { val v = build(); built = Some(v); if (dropped) free(v); v }

    /** Release now if built, else as soon as an in-flight build finishes. */
    def drop(): Unit = { dropped = true; built.foreach(free) }

    private def free(v: V): Unit = if (released.compareAndSet(false, true)) Try(release(v))
  }

  // access-ordered: iteration starts at the least-recently-used entry
  private val entries = new java.util.LinkedHashMap[(SparkSession, K), Slot](8, 0.75f, true)

  def apply(spark: SparkSession, key: K)(build: => V): V = {
    val (slot, evicted) = entries.synchronized {
      val slot = entries.computeIfAbsent((spark, key), _ => new Slot(() => build))
      val (stale, live) = entries.keySet.asScala.toList.partition(_._1.sparkContext.isStopped)
      (slot, (stale ++ live.dropRight(SessionMemo.Capacity)).map(entries.remove))
    }
    evicted.foreach(_.drop())
    slot.value
  }
}

private[graft] object SessionMemo {
  /** Entries per memo: the Verify/Bench loop needs one per input; the slack
    * covers a few sessions or inputs alive at once.
    */
  val Capacity = 4
}
