package enginebench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Dedup, DedupPipeline}
import graft.cc.ConnectedComponents
import graft.conf.DedupConfig
import graft.ingest.Ingest
import graft.io.{ParquetCatalog, StageMeta}
import graft.lsh.CandidatePairs
import graft.streaming.IncrementalDedup
import graft.suffix.SuffixPass
import graft.verify.Verifier

/** Engine benchmark: one workload, one seed, one process on one
  * local[cores] session. Calls the shipped executors directly — Dedup.run
  * and IncrementalDedup, with DedupPipeline.run as incr_stream's reference
  * — on a generated parquet corpus, gates every repetition on correctness,
  * and prints one `ENGINEBENCH_RESULT {json}` line for run.py.
  *
  * usage: enginebench.Main <workload> <seed> <seconds> <trace 0|1> <outDir>
  * (outDir: an absolute scratch directory the run owns)
  */
object Main {

  val Workloads: Map[String, Shape] = Map(
    // long docs: the kernel's and the suffix pass's largest inputs, and a
    // checkpoint of every stage
    // (75 docs share one 450-token header: its grams' doc frequency passes
    // the suffix df cap (64), so the header alone must not pair them)
    "staged_long" -> Shape(nDocs = 300, meanTokens = 1500, exactFrac = 0.08, nearFrac = 0.12,
      containedFrac = 0.05, boilerFrac = 0.25, boilerHeaderShare = 0.3, boilerPerHeader = 100,
      files = 8),
    // short docs in 3 micro-batches (one file each)
    "incr_stream" -> Shape(nDocs = 2400, meanTokens = 60, exactFrac = 0.08, nearFrac = 0.12,
      containedFrac = 0.05, boilerFrac = 0.07, boilerHeaderShare = 0.3, boilerPerHeader = 280,
      files = 3))

  /** incr_stream compacts after this many batches: compaction merges all
    * committed batches but the newest, so it needs three to do any work.
    */
  val CompactAfter = 3
  /** Fewest timed repetitions per run (an incr_stream repetition holds one
    * sample per micro-batch, and costs ~25 s on 4 cores).
    */
  def minReps(workload: String): Int = if (workload == "incr_stream") 1 else 3
  val RecallGate = 0.99

  final case class Quality(recall: Double, precision: Double, docsCovered: Long)

  /** One timed repetition's outcome. */
  final case class Rep(
      wallS: Double, batchWalls: Seq[Double], resumeS: Double, storeBytes: Double,
      quality: Quality, gates: Seq[(String, Boolean)], jobs: Long, ops: Int,
      layer: Map[String, Double] = Map.empty, fp: (Long, Long) = (0L, 0L)) {
    def ok: Boolean = gates.forall(_._2)
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, out) = args
    val shape = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload '$workload' (${Workloads.keys.mkString(", ")})"))
    new Bench(workload, shape, seedS.toLong, secondsS.toDouble, traceS == "1", out).run()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Resets VmHWM to the current RSS (Linux clear_refs), so the next
    * [[peakRssMb]] covers only what ran since. False if not supported.
    */
  def resetPeakRss(): Boolean =
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("/proc/self/clear_refs"), "5".getBytes)
      true
    } catch { case _: Exception => false }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  def duBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val st = java.nio.file.Files.walk(root)
      try st.filter(p => java.nio.file.Files.isRegularFile(p))
        .mapToLong(p => java.nio.file.Files.size(p)).sum()
      finally st.close()
    }
  }

  def deleteTree(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      val st = java.nio.file.Files.walk(root)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally st.close()
    }
  }
}

final class Bench(workload: String, shape: Shape, seed: Long, seconds: Double, trace: Boolean,
    out: String) {
  import Main._

  private val cores = Runtime.getRuntime.availableProcessors()
  private val cfg = DedupConfig.default
  private val t0Jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  private val spark = SparkSession.builder()
    .master(s"local[$cores]")
    .appName(s"enginebench-$workload")
    // the settings Dedup.main pins
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32m")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$out/spark-local")
    .config("spark.sql.warehouse.dir", s"$out/warehouse")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  private val sessionS = (System.currentTimeMillis() - t0Jvm) / 1e3
  private val log = new JobLog
  spark.sparkContext.addSparkListener(log)

  private var attempted = 0
  private var failed = 0
  private var repNo = 0

  private def info(msg: String): Unit = println(s"[enginebench] $msg")

  private def timed[A](f: => A): (A, Double) = {
    val t = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t) / 1e9)
  }

  private def jobCount(): Long = {
    org.apache.spark.BenchBridge.drainListenerBus(spark.sparkContext)
    log.synchronized(log.jobs.size.toLong)
  }

  /** Jobs submitted while the repetition's timed block ran. */
  private var timedJobs = 0L

  /** [[timed]] for a repetition's measured block: also counts its jobs. */
  private def measured[A](f: => A): (A, Double) = {
    val j0 = jobCount()
    val r = timed(f)
    timedJobs = jobCount() - j0
    r
  }

  // ---------------------------------------------------------------- inputs

  /** Generate the corpus twice (median time into setup_s) — the two must
    * be equal, the generator's determinism proven on every run — then
    * write it once and print its content checksum.
    */
  private val (docs, corpusDir, genS, checksum) = {
    val gens = (0 until 2).map(_ => timed(CorpusGen.generate(shape, seed)))
    if (gens.map(_._1).distinct.size != 1) {
      info("GATE FAILED corpus_deterministic: one seed gave two corpora")
      failed += 1
    }
    val (dir, writeS) = timed(CorpusGen.write(spark, gens.head._1, shape.files, s"$out/input-0"))
    (gens.head._1, dir, median(gens.map(_._2)) + writeS, CorpusGen.checksum(spark, dir))
  }
  private val nDocs = docs.size.toLong
  private val inputBytes = duBytes(corpusDir).toDouble
  private val partFiles = CorpusGen.partFiles(spark, corpusDir)
  private val plantedPairs: Long =
    docs.filter(_.group > 0).groupBy(_.group).values.map(g => g.size.toLong * (g.size - 1) / 2).sum
  private val repTokens: Long = {
    val seen = mutable.HashSet.empty[String]
    docs.iterator.filter(d => seen.add(d.content)).map(_.tokens.toLong).sum
  }

  /** Planted group of each duplicate doc, by the engine's doc id. */
  private val groupOf: Map[Long, Int] = spark.read.parquet(s"$out/input-0/labels")
    .select(xxhash64(col("repo"), col("path"), col("commit")), col("group"))
    .where(col("group") > 0).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  private def corpus(path: String = corpusDir): DataFrame =
    spark.read.parquet(path).select(Ingest.CorpusCols.map(col): _*)
      // as Dedup.main: spread a few input files over the cores
      .repartition(spark.sparkContext.defaultParallelism * 2)

  // ------------------------------------------------------------ correctness

  /** The cluster assignment as (doc_id, cluster_id) pairs, collected once
    * per repetition: the gates below run on it in the driver, so they add
    * one small job, not a shuffle each.
    */
  private def assignment(clusters: DataFrame): Array[(Long, Long)] =
    clusters.select(col("doc_id").cast("long"), col("cluster_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))

  private def quality(assign: Array[(Long, Long)], verified: DataFrame): Quality = {
    val together = assign.flatMap { case (d, c) => groupOf.get(d).map(g => (g, c)) }
      .groupBy(identity).values.map { v => v.length.toLong * (v.length - 1) / 2 }.sum
    val pairs = verified.select(col("a").cast("long"), col("b").cast("long")).collect()
    val good = pairs.count { r =>
      val ga = groupOf.get(r.getLong(0))
      ga.isDefined && ga == groupOf.get(r.getLong(1))
    }
    Quality(
      recall = if (plantedPairs == 0) 1.0 else together.toDouble / plantedPairs,
      precision = if (pairs.isEmpty) 1.0 else good.toDouble / pairs.length,
      docsCovered = assign.iterator.map(_._1).distinct.size.toLong)
  }

  /** Order-free fingerprint of a cluster partition: each doc keyed by its
    * cluster's min doc id, so relabelled but equal partitions agree.
    */
  private def partitionFp(assign: Array[(Long, Long)]): (Long, Long) = {
    val minOf = assign.groupBy(_._2).map { case (c, ds) => c -> ds.map(_._1).min }
    (assign.length.toLong, assign.foldLeft(0L) { case (x, (d, c)) =>
      val h = d * 0x9E3779B97F4A7C15L ^ java.lang.Long.rotateLeft(minOf(c) * 0xC2B2AE3D27D4EB4FL, 29)
      x ^ (h ^ (h >>> 31))
    })
  }

  private def qualityGates(q: Quality): Seq[(String, Boolean)] =
    Seq("recall>=0.99" -> (q.recall >= RecallGate), "every_doc_clustered" -> (q.docsCovered == nDocs))

  private def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  // -------------------------------------------------------------- executors

  /** Dedup.run into a fresh work dir, then again on the completed dir. */
  private def stagedLong(tr: Option[Tracer]): Rep = {
    val wd = s"$out/work/rep-$repNo"
    val inputId = Dedup.inputIdentity(spark, corpusDir)
    def call(): Dedup.StagedResult = Dedup.run(spark, corpus(), wd, cfg, inputId = inputId)
    val (first, wall) = measured(tr.fold(call())(_.span("dedup.run")(call())))
    val (second, resume) = timed(tr.fold(call())(_.span("dedup.resume")(call())))
    val cat = new ParquetCatalog(wd)
    val store = duBytes(wd).toDouble
    val assign = assignment(first.clusters)
    val q = quality(assign, cat.read(spark, "verified_pairs"))
    val fp = partitionFp(assign)
    val gates = qualityGates(q) ++ Seq(
      "resume_computes_nothing" -> second.computed.isEmpty,
      "resume_same_clusters" -> (partitionFp(assignment(second.clusters)) == fp))
    val layer = tr.map(t => stagedLayers(t, cat, wd)).getOrElse(Map.empty)
    release()
    deleteTree(wd)
    Rep(wall, Seq(wall), resume, store, q, gates, 0, 1, layer, fp)
  }

  /** Reference partition for incr_stream: the batch pipeline on the whole
    * corpus, computed once, before timing (it also warms the kernels
    * processBatch shares with the batch path).
    */
  private lazy val batchReferenceFp: (Long, Long) = {
    val (fp, s) = timed {
      val r = DedupPipeline.run(spark, Ingest.ingest(corpus()), cfg)
      val fp = partitionFp(assignment(r.clusters))
      r.release()
      release()
      fp
    }
    info(f"batch reference partition computed in $s%.2f s")
    fp
  }

  /** processBatch's first calls in a JVM run ~40% slower (JIT and
    * codegen of its own plans, which the batch reference run does not
    * warm). A streaming job pays that once per process, so one micro-batch
    * is run into a scratch state dir before timing (one, not more: the
    * time budget of the whole benchmark cannot carry a second).
    */
  private def warmStream(): Unit = {
    val sd = s"$out/state/warmup"
    IncrementalDedup.processBatch(spark, corpus(partFiles.head), sd, cfg, batchId = 0L)
    release()
    deleteTree(sd)
  }

  /** Closed loop: each micro-batch starts when processBatch returns. */
  private def incrStream(tr: Option[Tracer]): Rep = {
    val sd = s"$out/state/rep-$repNo"
    val files = partFiles
    val walls = mutable.ArrayBuffer.empty[Double]
    def sp[A](name: String)(f: => A): A = tr.fold(f)(_.span(name)(f))
    val (clusters, wall) = measured {
      files.zipWithIndex.foreach { case (f, i) =>
        tr.foreach(_.batch = i.toLong)
        walls += timed(sp("streaming.processBatch") {
          IncrementalDedup.processBatch(spark, corpus(f), sd, cfg, batchId = i.toLong)
        })._2
        tr.foreach(_.batch = -1L)
        if (i == CompactAfter - 1) sp("streaming.compactState")(IncrementalDedup.compactState(spark, sd))
      }
      sp("streaming.clusters") {
        val c = IncrementalDedup.clusters(spark, sd, cfg).persist()
        c.count()
        c
      }
    }
    // restart case: a restarted job replays the newest epoch, which must
    // short-circuit, and serves the clusters again from the state
    val last = files.size - 1
    val store = duBytes(sd).toDouble
    val replays = (0 until 3).map(_ => timed(sp("streaming.replay") {
      val r = IncrementalDedup.processBatch(spark, corpus(files(last)), sd, cfg, batchId = last.toLong)
      (r, assignment(IncrementalDedup.clusters(spark, sd, cfg)))
    }))
    val resume = median(replays.map(_._2))
    val assign = assignment(clusters)
    val q = quality(assign, IncrementalDedup.edges(spark, sd, cfg))
    val fp = partitionFp(assign)
    val noop = replays.forall(_._1._1.newPairs == 0L) && duBytes(sd) == store
    val gates = Seq("replay_is_noop" -> noop,
      "replay_same_clusters" -> replays.forall(r => partitionFp(r._1._2) == fp)) ++ qualityGates(q)
    val layer = tr.map(t => Map("streaming.state_mb" -> store / 1e6)).getOrElse(Map.empty)
    release()
    deleteTree(sd)
    Rep(wall, walls.toSeq, resume, store, q, gates, 0, walls.size, layer, fp)
  }

  /** staged_long layer numbers: stage_meta walls become child spans of the
    * shipped Dedup.run span (jobs attributed by their submit time); layers
    * that share a stage (pairs, suffix, verify, cc) are timed by calling
    * their public functions again on the stage tables the run checkpointed.
    */
  private def stagedLayers(t: Tracer, cat: ParquetCatalog, wd: String): Map[String, Double] = {
    val m = mutable.Map.empty[String, Double]
    val runSpan = t.spans.filter(s => s.name == "dedup.run" && s.run == t.run).last
    val meta = StageMeta.read(spark, cat).where(col("partition_file") === "_total")
      .select("stage", "wall_ms", "ts", "rows").collect()
    meta.foreach { r =>
      val stage = r.getString(0)
      val wallMs = r.getLong(1)
      val endNs = r.getTimestamp(2).getTime * 1000000L
      m(s"io.stage.$stage.wall_s") = wallMs / 1e3
      m(s"io.stage.$stage.rows") = if (r.isNullAt(3)) 0.0 else r.getLong(3).toDouble
      if (wallMs > 0) t.synthetic(s"io.stage.$stage", runSpan.id, endNs - wallMs * 1000000L, endNs)
    }
    m("io.written_mb") = duBytes(wd) / 1e6
    def read(s: String) = cat.read(spark, s)
    t.span("probe.suffix") {
      m("suffix.pairs") = SuffixPass.containmentPairs(spark, read("t1_distinct"), cfg).count().toDouble
    }
    t.span("probe.lsh.pairs") {
      val (pairs, stop) = CandidatePairs.generateJoin(spark, read("bands"), cfg)
      m("lsh.pairs.candidates") = pairs.count().toDouble
      m("lsh.stop_bands") = stop.count().toDouble
    }
    m("lsh.hot_groups") = read("bands").groupBy("band", "band_hash").count()
      .where(col("count") > cfg.maxBandSize).count().toDouble
    t.span("probe.verify") {
      val pairs = read("candidate_pairs").where(col("src").isin("minhash", "simhash"))
      m("verify.in") = pairs.count().toDouble
      m("verify.out") = Verifier.verifyLshPairs(pairs, read("signatures"), cfg).count().toDouble
    }
    t.span("probe.cc") {
      val edges = read("verified_pairs").where(col("src") =!= "exact").select("a", "b")
      val cl = DedupPipeline.attachMembers(read("t1"), ConnectedComponents.run(spark, edges))
      m("cc.clusters") = cl.select("cluster_id").distinct().count().toDouble
      m("cc.edges") = edges.count().toDouble
    }
    m.toMap
  }

  // ------------------------------------------------------------ repetition

  private def oneRep(tr: Option[Tracer], warmup: Boolean = false): Option[Rep] = {
    repNo += 1
    tr.foreach(_.run = repNo)
    timedJobs = 0L
    val repT0 = System.nanoTime()
    val res = scala.util.Try {
      (workload, tr) match {
        case ("staged_long", _) => stagedLong(tr)
        case ("incr_stream", _) => incrStream(tr)
      }
    }
    res match {
      case scala.util.Success(r0) =>
        val r = r0.copy(jobs = timedJobs)
        attempted += r.ops
        if (!r.ok) failed += r.ops
        val bad = r.gates.filterNot(_._2).map(_._1)
        val repS = (System.nanoTime() - repT0) / 1e9
        info(f"rep $repNo ${if (warmup) "warmup" else if (tr.isDefined) "traced" else "untraced"} " +
          f"rep_s=$repS%.3f wall_s=${r.wallS}%.3f " +
          (if (r.batchWalls.size > 1) r.batchWalls.map(w => f"$w%.3f").mkString("batch_s=", ",", " ") else "") +
          f"resume_s=${r.resumeS}%.3f session.jobs=${r.jobs} recall=${r.quality.recall}%.5f " +
          f"precision=${r.quality.precision}%.5f partition=${r.fp._1}:${r.fp._2}%x " +
          (if (bad.isEmpty) "gates=ok" else s"GATE FAILED ${bad.mkString(",")}"))
        Some(r)
      case scala.util.Failure(e) =>
        val ops = if (workload == "incr_stream") partFiles.size else 1
        attempted += ops
        failed += ops
        info(s"rep $repNo FAILED: $e")
        e.printStackTrace()
        release()
        None
    }
  }

  def run(): Unit = {
    info(s"workload=$workload seed=$seed nproc=$cores trace=${if (trace) 1 else 0}")
    CorpusGen.properties(docs).toSeq.sortBy(_._1).foreach { case (k, v) => info(f"input.$k=$v%.4f") }
    info(s"input.checksum=sha256:$checksum input.bytes=${inputBytes.toLong} planted_pairs=$plantedPairs")
    // the warm-up: an untimed repetition, gated like any other, or for
    // incr_stream the batch reference run and one untimed micro-batch
    val warmS = timed {
      if (workload == "incr_stream") { batchReferenceFp; warmStream() }
      else oneRep(None, warmup = true)
    }._2
    val setupS = sessionS + genS + warmS
    info(f"setup: session_s=$sessionS%.3f corpus_s=$genS%.3f warmup_s=$warmS%.3f")

    // peak_rss_mb covers the timed repetitions, not set-up or the warm-up
    if (!resetPeakRss()) info("peak RSS cannot be reset: peak_rss_mb covers the whole process")
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val untraced = mutable.ArrayBuffer.empty[Rep]
    val traced = mutable.ArrayBuffer.empty[(Rep, Tracer)]
    // a run that keeps failing stops after a few attempts, not at the clock
    var failures = 0
    def enough = untraced.size >= (if (trace) 1 else minReps(workload)) && (!trace || traced.nonEmpty)
    while ((!enough || elapsed < seconds) && failures < 3) {
      if (!trace || untraced.size <= traced.size)
        oneRep(None) match { case Some(r) => untraced += r; case None => failures += 1 }
      else {
        val t = new Tracer(spark.sparkContext, log)
        oneRep(Some(t)) match { case Some(r) => traced += (r -> t); case None => failures += 1 }
      }
    }
    val peakMb = peakRssMb()
    if (workload == "incr_stream") (untraced ++ traced.map(_._1)).foreach { r =>
      if (r.fp != batchReferenceFp) {
        info(s"GATE FAILED incr_equals_batch: partition ${r.fp} vs batch $batchReferenceFp")
        failed += r.ops
      }
    }
    // the traced calls must produce the shipped run's partition
    val shipped = untraced.map(_.fp).distinct
    traced.foreach { case (r, t) =>
      if (shipped.size != 1 || r.fp != shipped.head) {
        info(s"GATE FAILED traced_equals_untraced: traced run ${t.run} partition ${r.fp} vs $shipped")
        failed += 1
      }
    }
    finish(setupS, peakMb, untraced.toSeq, traced.toSeq)
  }

  private def finish(setupS: Double, peakMb: Double, untraced: Seq[Rep],
      traced: Seq[(Rep, Tracer)]): Unit = {
    val fps = nDocs / median(untraced.map(_.wallS))
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("files_per_s", fps, "docs/s"),
        ("batch_p50_s", median(untraced.flatMap(_.batchWalls)), "s"),
        ("resume_s", median(untraced.map(_.resumeS)), "s"),
        ("recall", median(untraced.map(_.quality.recall)), "ratio"),
        ("precision", median(untraced.map(_.quality.precision)), "ratio"),
        ("peak_rss_mb", peakMb, "MB"),
        ("store_bytes_per_input_byte", median(untraced.map(_.storeBytes)) / inputBytes, "ratio"))
      else layerMetrics(fps, traced)
    info(s"samples: reps=${untraced.size} traced_reps=${traced.size} " +
      s"batch_samples=${untraced.flatMap(_.batchWalls).size}")
    info(f"failed_frac=${if (attempted == 0) 1.0 else failed.toDouble / attempted}%.4f " +
      s"(failed=$failed attempted=$attempted)")
    val correct = failed == 0 && attempted > 0 && untraced.nonEmpty && (!trace || traced.nonEmpty)
    println("ENGINEBENCH_RESULT " + Json.obj(Seq(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap)))
    spark.stop()
  }

  // ------------------------------------------------------------- per layer

  private def layerMetrics(untracedFps: Double, traced: Seq[(Rep, Tracer)]): Seq[(String, Double, String)] = {
    val perRep = traced.map { case (rep, t) => layerOf(rep, t, untracedFps) }
    val names = perRep.flatMap(_.map(_._1)).distinct
    names.map { n =>
      val unit = perRep.flatMap(_.find(_._1 == n)).head._3
      (n, median(perRep.flatMap(_.find(_._1 == n)).map(_._2)), unit)
    }
  }

  private def layerOf(rep: Rep, t: Tracer, untracedFps: Double): Seq[(String, Double, String)] = {
    val attr = t.attribution()
    val jc = log.jobCounts
    val root = t.spans.filter(_.parent < 0).toSeq
    val rootIds = root.map(_.id).toSet
    def named(name: String): Seq[t.Span] = t.spans.filter(_.name == name).toSeq
    def cnt(ss: Seq[t.Span]) = ss.map(s => t.counts(s.id, attr, jc)).foldLeft(Counts())(_ + _)
    def wall(ss: Seq[t.Span]) = ss.map(_.seconds).sum
    def stagesOf(ss: Seq[t.Span]) = log.stagesOf(ss.flatMap(s => t.jobsOf(s.id, attr)).toSet)
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(k: String, v: Double, u: String) = m(k) = (v, u)
    val L = rep.layer

    // ingest / kernel / lsh.bands: the stage_meta child spans of the
    // shipped Dedup.run; the other layers: the probes (staged_long only)
    val ingest = named("io.stage.t1") ++ named("io.stage.t1_distinct")
    val kernel = named("io.stage.signatures")
    val bands = named("io.stage.bands")
    val pairs = named("probe.lsh.pairs")
    val suffix = named("probe.suffix")
    val verify = named("probe.verify")
    val cc = named("probe.cc")

    put("ingest.wall_s", wall(ingest), "s")
    put("ingest.shuffle_mb", cnt(ingest).shuffleMb, "MB")
    put("ingest.rep_ratio", L.get("io.stage.t1_distinct.rows")
      .map(_ / L.getOrElse("io.stage.t1.rows", 1.0)).getOrElse(0.0), "ratio")
    val kc = cnt(kernel)
    put("kernel.wall_s", wall(kernel), "s")
    put("kernel.cpu_s", kc.cpuS, "s")
    put("kernel.tokens_per_cpu_s", if (kc.cpuNs > 0) repTokens / kc.cpuS else 0.0, "tokens/s")
    put("lsh.bands.wall_s", wall(bands), "s")
    put("lsh.band_rows", L.getOrElse("io.stage.bands.rows", 0.0), "count")
    val pc = cnt(pairs)
    put("lsh.pairs.wall_s", wall(pairs), "s")
    put("lsh.pairs.shuffle_mb", pc.shuffleMb, "MB")
    put("lsh.pairs.spill_mb", pc.spillMb, "MB")
    put("lsh.pairs.jobs", pc.jobs.toDouble, "count")
    put("lsh.pairs.candidates", L.getOrElse("lsh.pairs.candidates", 0.0), "count")
    put("lsh.pairs.task_skew", {
      val big = stagesOf(pairs).filter(_.durations.nonEmpty).sortBy(-_.durations.sum).headOption
      big.map { s => val d = s.durations.map(_.toDouble); d.max / math.max(1.0, median(d.toSeq)) }.getOrElse(0.0)
    }, "ratio")
    put("lsh.stop_bands", L.getOrElse("lsh.stop_bands", 0.0), "count")
    put("lsh.hot_groups", L.getOrElse("lsh.hot_groups", 0.0), "count")
    val sc = cnt(suffix)
    put("suffix.wall_s", wall(suffix), "s")
    put("suffix.cpu_s", sc.cpuS, "s")
    put("suffix.shuffle_mb", sc.shuffleMb, "MB")
    put("suffix.spill_mb", sc.spillMb, "MB")
    put("suffix.gram_tasks", stagesOf(suffix).sortBy(-_.counts.shuffleRead).headOption
      .map(_.numTasks.toDouble).getOrElse(0.0), "count")
    put("suffix.pairs", L.getOrElse("suffix.pairs", 0.0), "count")
    put("verify.wall_s", wall(verify), "s")
    put("verify.shuffle_mb", cnt(verify).shuffleMb, "MB")
    val vin = L.getOrElse("verify.in", 0.0); val vout = L.getOrElse("verify.out", 0.0)
    put("verify.in", vin, "count")
    put("verify.out", vout, "count")
    put("verify.yield", if (vin > 0) vout / vin else 0.0, "ratio")
    put("cc.wall_s", wall(cc), "s")
    put("cc.jobs", cnt(cc).jobs.toDouble, "count")
    put("cc.edges", L.getOrElse("cc.edges", 0.0), "count")
    put("cc.clusters", L.getOrElse("cc.clusters", 0.0), "count")

    Seq("t1", "t1_distinct", "signatures", "bands", "candidate_pairs", "verified_pairs",
      "clusters", "cluster_stats").foreach { s =>
      put(s"io.stage.$s.wall_s", L.getOrElse(s"io.stage.$s.wall_s", 0.0), "s")
    }
    put("io.written_mb", L.getOrElse("io.written_mb", 0.0), "MB")
    put("io.resume.jobs", cnt(named("dedup.resume")).jobs.toDouble, "count")

    val batches = named("streaming.processBatch")
    val bc = batches.map(s => (s, t.counts(s.id, attr, jc)))
    put("streaming.batch.jobs", if (bc.isEmpty) 0.0 else median(bc.map(_._2.jobs.toDouble)), "count")
    put("streaming.batch.shuffle_mb", if (bc.isEmpty) 0.0 else median(bc.map(_._2.shuffleMb)), "MB")
    put("streaming.batch.cpu_util", if (bc.isEmpty) 0.0
      else median(bc.map { case (s, c) => c.cpuS / (s.seconds * cores) }), "ratio")
    put("streaming.compact_s", wall(named("streaming.compactState")), "s")
    put("streaming.clusters_s", wall(named("streaming.clusters")), "s")
    put("streaming.state_mb", L.getOrElse("streaming.state_mb", 0.0), "MB")

    // the timed part of the repetition: the shipped calls — not the
    // replay, resume or probes
    val timedRoots = root.filter(s => s.name == "dedup.run" ||
      s.name.startsWith("streaming.") && s.name != "streaming.replay")
    val rc = cnt(timedRoots)
    val repWall = rep.wallS
    put("session.jobs", rc.jobs.toDouble, "count")
    put("session.tasks", rc.tasks.toDouble, "count")
    put("session.cpu_s", rc.cpuS, "s")
    put("session.cpu_util", rc.cpuS / (repWall * cores), "ratio")
    put("session.gc_s", rc.gcMs / 1e3, "s")
    put("session.shuffle_mb", rc.shuffleMb, "MB")
    put("session.spill_mb", rc.spillMb, "MB")
    put("session.sched_delay_s", rc.schedMs / 1e3, "s")

    // how much of the timed wall / CPU the named layer spans account for
    val a = timedRoots.map(_.startNs).min
    val b = timedRoots.map(_.endNs).max
    val layerSpans = t.spans.filter(s => !rootIds.contains(s.id) || s.name.startsWith("streaming."))
      .filterNot(s => s.name.startsWith("probe.") || s.name == "dedup.resume" || s.name == "streaming.replay")
      .toSeq
    val layerCpu = cnt(layerSpans.filter(s => !layerSpans.exists(p => p.id == s.parent)))
    put("trace.coverage_wall", t.unionSeconds(layerSpans, a, b) / ((b - a) / 1e9), "ratio")
    put("trace.coverage_cpu", if (rc.cpuNs > 0) layerCpu.cpuS / rc.cpuS else 0.0, "ratio")
    put("trace.files_per_s", nDocs / repWall, "docs/s")
    put("trace.overhead_ratio", untracedFps / (nDocs / repWall), "ratio")

    val spanFile = s"$out/spans/$workload-seed$seed-run${t.run}.jsonl"
    t.writeJsonl(spanFile, attr, jc)
    info(s"spans written: $spanFile (${t.spans.size} spans)")
    // self time as a share of the timed wall; spans outside it (resume,
    // replay, probes) are marked: their share is a size comparison only
    t.spans.foreach { s =>
      val inside = timedRoots.exists(r => r.id == s.id || t.descendants(r.id).contains(s.id))
      info(f"span ${s.name}%-28s batch=${s.batch}%2d wall_s=${s.seconds}%8.3f self_s=${t.selfSeconds(s)}%8.3f " +
        f"share=${t.selfSeconds(s) / repWall}%.3f${if (inside) "" else " (outside the timed wall)"}")
    }
    // processBatch's own split, from the job descriptions its concurrent
    // state chains carry: jobs and executor CPU per chain, all batches
    if (batches.nonEmpty) {
      val byChain = batches.flatMap(s => t.jobsOf(s.id, attr)).groupBy(j => chainOf(log.description(j)))
      val cpuAll = byChain.values.flatten.map(j => jc.getOrElse(j, Counts()).cpuNs).sum.toDouble
      byChain.toSeq.sortBy(_._1).foreach { case (chain, js) =>
        val c = js.map(j => jc.getOrElse(j, Counts())).foldLeft(Counts())(_ + _)
        info(f"processBatch chain $chain%-7s jobs=${c.jobs}%4d cpu_s=${c.cpuS}%7.3f " +
          f"cpu_share=${if (cpuAll > 0) c.cpuNs / cpuAll else 0.0}%.3f")
      }
    }
    m.toSeq.map { case (k, (v, u)) => (k, v, u) }
  }

  /** processBatch runs its state chains under "incr chain <name>" job
    * descriptions; the sub-chains of the lsh and suffix chains roll up.
    */
  private def chainOf(description: String): String =
    description.stripPrefix("incr chain ") match {
      case d if d == description => "serial"
      case "sigs.write" | "bands.write" | "bcounts.write" | "lsh.pairs" => "lsh"
      case "toks.write" | "grams.write" | "gcounts.write" | "sfx.pairs" => "suffix"
      case d => d
    }
}
