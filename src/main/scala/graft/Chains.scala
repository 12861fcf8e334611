package graft

import java.util.concurrent.{Callable, ExecutorService, Executors, Future, TimeoutException}
import java.util.concurrent.TimeUnit.NANOSECONDS
import scala.util.{Failure, Success, Try}

import org.apache.spark.SparkContext

/** The one runner for an engine's concurrent chains: processBatch's three
  * state chains (and the sub-chains they nest), compaction's staging
  * writes, and the lazy pipeline's suffix pass. The per-batch floor is
  * FIXED job cost (scheduling + parquet commit), not task compute —
  * overlapping independent chains halves the wall without touching what is
  * written.
  *
  * Every chain of a call runs under one shared Spark job group (described
  * `<label> chain <name>`), and a call made inside a chain (the lsh and
  * suffix chains nest their own) joins the enclosing chain's group and
  * deadline; a top-level call mints a fresh group `graft-<label>-<uuid>`,
  * never adopting the caller's own. All chains share ONE deadline —
  * default 120 min, `-Dgraft.chainTimeoutMin` / env
  * `GRAFT_CHAIN_TIMEOUT_MIN`, fractional minutes allowed — so the worst
  * case is one timeout, not one per chain or nesting level.
  *
  * A failed or wedged call is cancelled ([[Running.cancel]]): a top-level
  * call cancels its group and every job later submitted under it, so no
  * orphaned job (nested ones included) keeps writing `<table>/batch=<id>`
  * partitions concurrently with a same-JVM replay of a failed batch, and
  * the chain threads are interrupted, so a chain stuck outside Spark is
  * woken too. The error names the chain, so a wedged FS call is debuggable
  * instead of an unbounded silent hang. All chains are awaited BEFORE the
  * first failure propagates.
  */
private[graft] object Chains {

  /** Chains started by [[start]]: [[join]] awaits them, [[cancel]] stops
    * them.
    */
  final class Running[A] private[Chains] (sc: SparkContext, label: String, group: String,
      deadline: Long, nested: Boolean, pool: ExecutorService, futs: Seq[(String, Future[Try[A]])]) {

    private def remainingNs: Long = math.max(0L, deadline - System.nanoTime())

    /** Every chain's outcome in task order, each awaited until the shared
      * deadline (a chain still running then fails, named). Any failure
      * cancels the call before the outcomes return.
      */
    def join(): Seq[(String, Try[A])] = {
      val results =
        try futs.map { case (name, f) =>
          name -> Try(f.get(remainingNs, NANOSECONDS)).recover { case _: TimeoutException =>
            Failure(new RuntimeException(s"$label chain '$name' still running at its deadline — wedged write?"))
          }.flatten
        } catch { case e: Throwable => cancel(); throw e }
      if (results.exists(_._2.isFailure)) cancel() else pool.shutdownNow()
      results
    }

    /** Stop the call: a top-level call cancels its group's running and
      * future jobs (a nested call leaves that to the top-level one —
      * cancelling the shared group here would fail the enclosing chain's
      * siblings under their own names, hiding the chain that failed); then
      * the chain threads are interrupted and given until the deadline to
      * end.
      */
    def cancel(): Unit = {
      if (!nested) sc.cancelJobGroupAndFutureJobs(group)
      pool.shutdownNow()
      pool.awaitTermination(remainingNs, NANOSECONDS): Unit
    }
  }

  /** Start `tasks` on one thread each, as chains named by their keys. */
  def start[A](sc: SparkContext, label: String, tasks: Seq[(String, () => A)]): Running[A] = {
    val enclosing = Option(context.get)
    val (group, deadline) = enclosing.getOrElse {
      val timeoutMin = sys.props.get("graft.chainTimeoutMin")
        .orElse(sys.env.get("GRAFT_CHAIN_TIMEOUT_MIN"))
        .flatMap(_.toDoubleOption).getOrElse(120.0)
      (s"graft-$label-${java.util.UUID.randomUUID()}",
        System.nanoTime() + (timeoutMin * 60e9).toLong)
    }
    val pool = Executors.newFixedThreadPool(tasks.size)
    val futs = tasks.map { case (name, t) =>
      name -> pool.submit(new Callable[Try[A]] {
        def call(): Try[A] = {
          context.set((group, deadline))
          sc.setJobGroup(group, s"$label chain $name", interruptOnCancel = true)
          try Try(t()) finally { sc.clearJobGroup(); context.remove() }
        }
      })
    }
    new Running(sc, label, group, deadline, enclosing.isDefined, pool, futs)
  }

  /** The incremental engine's form: start `tasks`, join them, and return
    * their results in task order, or rethrow the first failure wrapped in
    * an error naming its chain.
    */
  def inParallel[A](sc: SparkContext, tasks: Seq[(String, () => A)]): Seq[A] =
    start(sc, "incr", tasks).join().map {
      case (_, Success(a)) => a
      case (name, Failure(e)) => throw new RuntimeException(s"incr chain '$name' failed", e)
    }

  /** (job group, deadline as System.nanoTime) of the chain running on this
    * thread — set only on [[start]]'s own chain threads.
    */
  private val context = new ThreadLocal[(String, Long)]
}
