package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{coalesce, lit}
import org.apache.spark.sql.types.StructType

import graft.conf.DedupConfig
import graft.testutil.FixtureGen

/** Checkpoint/resume semantics (SURVEY.md §5.2 property 6):
  *  - a second run over unchanged input recomputes nothing;
  *  - a run killed mid-pipeline resumes from the last complete stage and
  *    produces output identical to an uninterrupted run;
  *  - a config change invalidates everything;
  *  - resume bookkeeping costs no per-stage Spark jobs.
  */
class ResumeSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val cfg = DedupConfig(maxBandSize = 25)
  private lazy val corpus = spark.createDataFrame(FixtureGen.corpus(400, 7L))
    .select("repo", "path", "commit", "lang", "content")

  private def freshDir(): String =
    Files.createTempDirectory("graft-resume").toString

  test("full rerun over unchanged input computes zero stages") {
    val dir = freshDir()
    val first = Dedup.run(spark, corpus, dir, cfg, inputId = "fixture400")
    assert(first.computed === Seq("t1", "t1_distinct", "signatures", "bands",
      "candidate_pairs", "verified_pairs", "clusters", "cluster_stats"))
    val second = Dedup.run(spark, corpus, dir, cfg, inputId = "fixture400")
    assert(second.computed.isEmpty, s"recomputed: ${second.computed}")
    assert(second.clusters.as[(Long, Long)].collect().toMap ===
      first.clusters.as[(Long, Long)].collect().toMap)
    // Chain fingerprints pinned to the values work dirs already hold: a
    // renamed, reordered or re-chained stage (or a config-fingerprint
    // change) would stop existing work dirs from resuming.
    val fps = io.StageMeta.read(spark, new io.ParquetCatalog(dir))
      .where($"partition_file" === "_total")
      .select("stage", "input_fingerprint").distinct()
      .as[(String, String)].collect().toMap
    assert(fps === Map(
      "t1" -> "8e4b793e3bb373c4", "t1_distinct" -> "d628a9014326bdef",
      "signatures" -> "b588e561c2cd70cd", "bands" -> "74fa601fde87f66e",
      "candidate_pairs" -> "a72000d8205fcaa5", "stop_bands" -> "a72000d8205fcaa5",
      "verified_pairs" -> "4ab1e0ee31058ac9", "clusters" -> "a95870012e83d40e",
      "cluster_stats" -> "18a9f705edb1ee6c"))
  }

  test("kill after 'bands' resumes exactly the remaining stages with identical output") {
    val dirA = freshDir(); val dirB = freshDir()
    // uninterrupted reference run
    val ref = Dedup.run(spark, corpus, dirA, cfg, inputId = "fixture400")
    // partial run (simulated kill after bands), then resume
    val partial = Dedup.run(spark, corpus, dirB, cfg, inputId = "fixture400", stopAfter = "bands")
    assert(partial.computed === Seq("t1", "t1_distinct", "signatures", "bands"))
    val resumed = Dedup.run(spark, corpus, dirB, cfg, inputId = "fixture400")
    assert(resumed.computed === Seq("candidate_pairs", "verified_pairs", "clusters", "cluster_stats"))
    assert(resumed.clusters.as[(Long, Long)].collect().toMap ===
      ref.clusters.as[(Long, Long)].collect().toMap)
  }

  test("incomplete stage write (no _SUCCESS) is recomputed") {
    val dir = freshDir()
    Dedup.run(spark, corpus, dir, cfg, inputId = "fixture400", stopAfter = "signatures")
    // corrupt: drop the _SUCCESS marker of signatures
    val p = new Path(s"$dir/signatures/_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
    val resumed = Dedup.run(spark, corpus, dir, cfg, inputId = "fixture400", stopAfter = "signatures")
    assert(resumed.computed === Seq("signatures"))
  }

  test("config change invalidates the chain") {
    val dir = freshDir()
    Dedup.run(spark, corpus, dir, cfg, inputId = "fixture400")
    val changed = Dedup.run(spark, corpus, dir, cfg.copy(jaccardTau = 0.8), inputId = "fixture400")
    assert(changed.computed.nonEmpty)
    assert(changed.computed.head === "t1") // whole chain fingerprint shifts
  }

  test("semantic knob change (stopBandSize) invalidates; execution knob (maxBandSize) does not") {
    val dir = freshDir()
    Dedup.run(spark, corpus, dir, cfg, inputId = "fixture400")
    // maxBandSize only re-shards hot groups (pair set invariant, SaltingSpec)
    // — flipping it must reuse every stage
    val exec = Dedup.run(spark, corpus, dir, cfg.copy(maxBandSize = 99), inputId = "fixture400")
    assert(exec.computed.isEmpty, s"execution knob invalidated: ${exec.computed}")
    // stopBandSize changes which band groups are dropped → pair set changes
    // → the whole chain must recompute
    val sem = Dedup.run(spark, corpus, dir, cfg.copy(stopBandSize = 19999), inputId = "fixture400")
    assert(sem.computed.nonEmpty && sem.computed.head === "t1",
      s"semantic knob did not invalidate: ${sem.computed}")
    // suffixDfMax changes which grams anchor containment candidates → same
    val sem2 = Dedup.run(spark, corpus, dir, cfg.copy(suffixDfMax = 63), inputId = "fixture400")
    assert(sem2.computed.nonEmpty, "suffixDfMax change did not invalidate")
  }

  test("stop_bands log has its own lineage row in lockstep with candidate_pairs") {
    val dir = freshDir()
    Dedup.run(spark, corpus, dir, cfg, inputId = "fixture400")
    val meta = io.StageMeta.read(spark, new io.ParquetCatalog(dir))
    val fps = meta.where($"stage".isin("stop_bands", "candidate_pairs"))
      .select("stage", "input_fingerprint").distinct()
      .as[(String, String)].collect().toMap
    assert(fps.keySet === Set("stop_bands", "candidate_pairs"))
    // same chain fingerprint: a resumed run can never keep a stale stop-band
    // log alongside a fresh pairs table
    assert(fps("stop_bands") === fps("candidate_pairs"))
  }

  test("per-partition lineage rows exist with honest observed row counts") {
    val dir = freshDir()
    Dedup.run(spark, corpus, dir, cfg, inputId = "fixture400")
    val meta = io.StageMeta.read(spark, new io.ParquetCatalog(dir))
    // total row count is observed during the write job (no read-back pass)
    val sigRows = meta.where($"stage" === "signatures" && $"partition_file" === "_total")
      .agg(org.apache.spark.sql.functions.sum("rows")).as[Long].head()
    val nReps = corpus.select("content").distinct().count()
    assert(sigRows === nReps) // signatures are per sha-distinct representative
    // per-file byte sizes still recorded
    val sigBytes = meta.where($"stage" === "signatures" && $"partition_file" =!= "_total")
      .agg(org.apache.spark.sql.functions.sum("bytes")).as[Long].head()
    assert(sigBytes > 0)
    val stages = meta.select("stage").distinct().as[String].collect().toSet
    assert(stages.contains("clusters") && stages.contains("candidate_pairs"))
  }

  /** (result, Spark jobs, SQL executions scanning `dir`'s stage_meta) of `f`. */
  private def counted[A](dir: String)(f: => A): (A, Int, Int) = {
    val jobs = new AtomicInteger()
    val metaReads = new AtomicInteger()
    def scansMeta(i: SparkPlanInfo): Boolean =
      i.metadata.get("Location").exists(_.contains(s"$dir/${io.StageMeta.StageMetaDir}")) ||
        i.children.exists(scansMeta)
    val out = listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if scansMeta(s.sparkPlanInfo) =>
          metaReads.incrementAndGet(): Unit
        case _ => ()
      }
    })(f)
    (out, jobs.get, metaReads.get)
  }

  test("resuming a completed dir runs at most 2 Spark jobs; a run reads stage_meta at most once") {
    val dir = freshDir()
    val (first, _, freshReads) = counted(dir)(Dedup.run(spark, corpus, dir, cfg, inputId = "fixture400"))
    assert(first.computed.size === 8)
    assert(freshReads <= 1, s"a fresh run scanned stage_meta $freshReads times")
    val (second, jobs, resumeReads) =
      counted(dir)(Dedup.run(spark, corpus, dir, cfg, inputId = "fixture400"))
    assert(second.computed.isEmpty, s"recomputed: ${second.computed}")
    assert(jobs <= 2, s"resume of a completed dir ran $jobs Spark jobs")
    assert(resumeReads <= 1, s"the resume scanned stage_meta $resumeReads times")
  }

  test("a legacy work dir (non-null rows with -1 sentinels) resumes with nothing computed") {
    val dir = freshDir()
    val first = Dedup.run(spark, corpus, dir, cfg, inputId = "fixture400")
    // rewrite stage_meta the way work dirs written before the Option[rows]
    // convention hold it: a non-nullable rows column, -1 = split unknown
    val loc = new io.ParquetCatalog(dir).location(io.StageMeta.StageMetaDir)
    val current = spark.read.parquet(loc)
    val legacySchema = StructType(current.schema.map { f =>
      if (f.name == "rows") f.copy(nullable = false) else f
    })
    val legacyRows = current.withColumn("rows", coalesce($"rows", lit(-1L))).collect().toSeq
    val p = new Path(loc)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.createDataFrame(legacyRows.asJava, legacySchema).write.parquet(loc)
    assert(spark.read.parquet(loc).where($"rows" === -1L).count() > 0, "no legacy sentinel written")

    val resumed = Dedup.run(spark, corpus, dir, cfg, inputId = "fixture400")
    assert(resumed.computed.isEmpty, s"legacy dir recomputed: ${resumed.computed}")
    assert(resumed.clusters.as[(Long, Long)].collect().toMap ===
      first.clusters.as[(Long, Long)].collect().toMap)
    // the declared-schema read still normalizes the sentinels away
    val meta = io.StageMeta.read(spark, new io.ParquetCatalog(dir))
    assert(meta.where($"rows" === -1L).count() === 0)
    assert(meta.where($"rows".isNull).count() > 0)
  }
}
