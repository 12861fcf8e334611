package enginebench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work done by one job or span, summed over its tasks. */
final case class Counts(
    jobs: Long = 0, tasks: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0, schedMs: Long = 0) {
  def +(o: Counts): Counts = Counts(jobs + o.jobs, tasks + o.tasks, cpuNs + o.cpuNs, gcMs + o.gcMs,
    shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite, spill + o.spill, schedMs + o.schedMs)
  def cpuS: Double = cpuNs / 1e9
  def shuffleMb: Double = (shuffleRead + shuffleWrite) / 1e6
  def spillMb: Double = spill / 1e6
}

/** Benchmark-side SparkListener: per-job and per-stage task totals, with the
  * job group each job was submitted under. Nothing inside the engine is
  * instrumented; attribution to spans happens after the fact.
  */
final class JobLog extends SparkListener {
  final case class Job(id: Int, group: String, description: String, submitMs: Long)
  final class Stage(val id: Int) {
    var owner = -1
    var numTasks = 0
    var counts = Counts()
    val durations = mutable.ArrayBuffer.empty[Long]
  }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.HashMap.empty[Int, Stage]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new Stage(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, prop("spark.jobGroup.id"), prop("spark.job.description"), e.time)
    e.stageInfos.foreach { si =>
      val s = stage(si.stageId)
      if (s.owner < 0) { s.owner = e.jobId; s.numTasks = si.numTasks }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    // AQE re-plans stages after the job started; keep the submitted width
    stage(e.stageInfo.stageId).numTasks = e.stageInfo.numTasks
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m == null || info == null) return
    val s = stage(e.stageId)
    val sched = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
      m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
    s.counts = s.counts + Counts(0, 1, m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled, sched)
    s.durations += info.duration
  }

  /** Totals of each job (its own stages' tasks + the job itself). */
  def jobCounts: Map[Int, Counts] = synchronized {
    val byJob = stages.values.filter(_.owner >= 0).groupBy(_.owner)
      .map { case (j, ss) => j -> ss.map(_.counts).foldLeft(Counts())(_ + _) }
    jobs.keys.map(j => j -> (byJob.getOrElse(j, Counts()) + Counts(jobs = 1))).toMap
  }

  def description(jobId: Int): String = synchronized(jobs.get(jobId).map(_.description).getOrElse(""))

  def stagesOf(jobIds: Set[Int]): Seq[Stage] = synchronized {
    stages.values.filter(s => jobIds.contains(s.owner)).toSeq
  }
}

/** In-memory span recorder. The benchmark thread opens spans around calls
  * into the engine's public functions and sets a Spark job group per span,
  * so a job is attributed to the span whose group it carries; jobs that run
  * under the engine's own groups (processBatch's parallel chains) fall to
  * the innermost span open when they were submitted.
  */
final class Tracer(sc: SparkContext, val log: JobLog) {
  final case class Span(id: Int, name: String, parent: Int, run: Int, batch: Long,
      startNs: Long, var endNs: Long = -1L, synthetic: Boolean = false) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  // unique per tracer: every traced repetition has its own span ids
  val GroupPrefix = s"enginebench-${java.util.UUID.randomUUID()}-span-"
  private val epochBase = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + epochBase

  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  var run = 0
  var batch = -1L

  def span[A](name: String)(f: => A): A = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), run, batch, nowNs)
    spans += s
    open.push(s)
    sc.setJobGroup(GroupPrefix + s.id, name)
    try f
    finally {
      s.endNs = nowNs
      open.pop()
      open.headOption match {
        case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** A span known only by its recorded bounds (e.g. a stage_meta row). */
  def synthetic(name: String, parent: Int, startNs: Long, endNs: Long): Span = {
    val s = Span(spans.size, name, parent, run, batch, startNs, endNs, synthetic = true)
    spans += s
    s
  }

  /** Job → owning span id: the carried group, else the innermost span
    * (synthetic children first) whose window holds the submit time.
    */
  def attribution(): Map[Int, Int] = {
    org.apache.spark.BenchBridge.drainListenerBus(sc)
    log.synchronized(log.jobs.values.toSeq).flatMap { j =>
      val byGroup =
        if (j.group.startsWith(GroupPrefix)) Some(j.group.stripPrefix(GroupPrefix).toInt) else None
      val t = j.submitMs * 1000000L
      val inner = spans.filter(s => s.endNs >= 0 && s.startNs <= t && t <= s.endNs)
      val owner = byGroup match {
        case Some(g) =>
          // a synthetic child of the group's span narrows the attribution
          inner.filter(s => s.synthetic && s.parent == g).lastOption.map(_.id).orElse(Some(g))
        case None => inner.sortBy(_.startNs).lastOption.map(_.id)
      }
      owner.map(j.id -> _)
    }.toMap
  }

  def descendants(id: Int): Set[Int] = {
    val kids = spans.filter(_.parent == id).map(_.id)
    kids.toSet ++ kids.flatMap(descendants)
  }

  /** Counts of a span including its descendants. */
  def counts(id: Int, attr: Map[Int, Int], jc: Map[Int, Counts]): Counts = {
    val ids = descendants(id) + id
    attr.collect { case (j, s) if ids.contains(s) => jc.getOrElse(j, Counts()) }
      .foldLeft(Counts())(_ + _)
  }

  def jobsOf(id: Int, attr: Map[Int, Int]): Set[Int] = {
    val ids = descendants(id) + id
    attr.collect { case (j, s) if ids.contains(s) => j }.toSet
  }

  /** Span duration minus the part of it covered by its children. */
  def selfSeconds(s: Span): Double =
    s.seconds - unionSeconds(spans.filter(_.parent == s.id).toSeq, s.startNs, s.endNs)

  /** Length of the union of the given spans' intervals, clipped to [a, b]. */
  def unionSeconds(ss: Seq[Span], a: Long, b: Long): Double = {
    val iv = ss.map(s => (s.startNs max a, s.endNs min b)).filter { case (x, y) => y > x }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    iv.foreach { case (x, y) =>
      if (x > curB) { total += math.max(0L, curB - curA); curA = x; curB = y }
      else curB = math.max(curB, y)
    }
    total += math.max(0L, curB - curA)
    total / 1e9
  }

  def writeJsonl(path: String, attr: Map[Int, Int], jc: Map[Int, Counts]): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      val c = counts(s.id, attr, jc)
      sb.append(Json.obj(Seq(
        "span" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run, "batch" -> s.batch,
        "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6, "wall_s" -> s.seconds,
        "self_s" -> selfSeconds(s), "synthetic" -> s.synthetic, "jobs" -> c.jobs, "tasks" -> c.tasks,
        "cpu_s" -> c.cpuS, "gc_s" -> c.gcMs / 1e3, "shuffle_read_mb" -> c.shuffleRead / 1e6,
        "shuffle_write_mb" -> c.shuffleWrite / 1e6, "spill_mb" -> c.spillMb,
        "sched_delay_s" -> c.schedMs / 1e3))).append('\n')
    }
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, sb.toString.getBytes("UTF-8"))
  }
}

/** Minimal JSON rendering for flat objects (no dependency needed). */
object Json {
  def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
  }
  def obj(kv: Seq[(String, Any)]): String = kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
