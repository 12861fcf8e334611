package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.ControlThrowable

import graft.conf.DedupConfig
import graft.io.{ParquetCatalog, StageMeta}

/** The spark-submit pipeline entry point with checkpoint-every-stage and
  * exact resume (SURVEY.md §3.2, north rule "resumable from checkpoint with
  * per-partition lineage + metrics"): [[DedupPipeline.compose]] under the
  * staged executor.
  *
  * Every stage is written to the work-dir catalog and read BACK before the
  * next stage — this (a) truncates lineage so no stage ever re-executes an
  * upstream kernel, (b) guarantees the huge `content` column is never
  * scanned after `signatures`/`tokens` are materialized, and (c) makes each
  * stage independently resumable. The suffix pass runs inline inside the
  * candidate_pairs build, so a resumed run never computes it.
  *
  * Resume rule: a stage is skipped iff its `_SUCCESS` marker exists AND the
  * fingerprint recorded in stage_meta equals the fingerprint recomputed
  * from (config, upstream chain, input identity). Changing the config or
  * the input invalidates exactly the affected suffix of the stage graph.
  * stage_meta is read once per run, at start, into a driver map of each
  * stage's newest fingerprint: every stage is looked up before its own
  * lineage row is written, so the start-of-run snapshot answers each
  * lookup as a per-stage read would. Each computed stage still appends its
  * lineage row as soon as it is written, so a kill leaves every finished
  * stage resumable. Read-backs take their schema from the written footer
  * ([[graft.io.ParquetCatalog.readParquet]]): resuming a completed work
  * dir runs one Spark job, the stage_meta read.
  */
object Dedup {

  final case class StagedResult(computed: Seq[String], clusters: DataFrame)

  /** Deterministic identity of the input files (names, sizes, mtimes) —
    * no Spark job needed.
    */
  def inputIdentity(spark: SparkSession, inputPath: String): String = {
    val p = new Path(inputPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.globStatus(new Path(inputPath))
      .flatMap { s =>
        if (s.isDirectory) fs.listStatus(s.getPath).toSeq else Seq(s)
      }
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted
    Hashing.xxString(parts.mkString("|"), Hashing.DefaultSeed).toHexString
  }

  /** Unwinds the composition once the `stopAfter` stage is materialized. */
  private final class Stopped(val at: DataFrame) extends ControlThrowable

  /** @param stopAfter stage name to return after (its table becomes the
    *        result's `clusters`); empty runs the whole chain
    */
  def run(
      spark: SparkSession,
      corpus: DataFrame,
      workDir: String,
      cfg: DedupConfig = DedupConfig.default,
      inputId: String = "inline",
      runId: String = java.util.UUID.randomUUID().toString,
      stopAfter: String = ""): StagedResult = {

    val cat = new ParquetCatalog(workDir)
    val recorded = StageMeta.lastFingerprints(spark, cat)
    val computed = scala.collection.mutable.ArrayBuffer.empty[String]
    var chainFp = Hashing.xxString(cfg.fingerprint + "|" + inputId, Hashing.DefaultSeed).toHexString

    /** Write one table with its lineage row (`wallMs` is read once the
      * write has finished); the row count is the one the write observed.
      */
    def write(name: String, df: DataFrame, wallMs: => Long): Unit = {
      val rows = cat.write(df, name)
      StageMeta.append(spark, cat.location(StageMeta.StageMetaDir),
        StageMeta.stageRows(spark, cat, runId, name, chainFp, wallMs, rows))
    }

    val staged = new DedupPipeline.Executor {
      /** Compute-or-reuse one stage; returns the stage read back from disk. */
      def stage(name: String)(build: => DataFrame): DataFrame = {
        chainFp = Hashing.xxString(chainFp + "|" + name, Hashing.DefaultSeed).toHexString
        val reusable = cat.exists(spark, name) && recorded.get(name).contains(chainFp)
        if (!reusable) {
          val t0 = System.nanoTime()
          write(name, build, (System.nanoTime() - t0) / 1000000)
          computed += name
        }
        val df = cat.read(spark, name)
        if (name == stopAfter) throw new Stopped(df)
        df
      }

      // stop_bands carries candidate_pairs' chain fingerprint — it is a
      // byproduct of exactly that computation — so a resumed run can never
      // pair a fresh pairs table with a stale stop-band log.
      def stopBands(log: DataFrame): Unit = write("stop_bands", log, 0L)

      def fork(pass: => DataFrame): () => DataFrame = () => pass
    }

    val out =
      try DedupPipeline.compose(spark, ingest.Ingest.ingest(corpus), cfg, staged).clusters
      catch { case s: Stopped => s.at }
    StagedResult(computed.toSeq, out)
  }

  /** spark-submit --class graft.Dedup <inputParquet> <workDir> */
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Dedup <inputParquet> <workDir>")
      sys.exit(2)
    }
    val Array(input, workDir) = args.take(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft-dedup")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val raw = spark.read.parquet(input)
    // Accept either the canonical corpus schema (input_hint) or the driver's
    // documents shape, mapped per FIXTURES.md §4.
    val corpus =
      if (raw.columns.contains("repo")) raw.select(ingest.Ingest.CorpusCols.map(col): _*)
      else ingest.Ingest.documentsToCorpus(raw)
    // Small inputs arrive as a handful of parquet files; spread them so the
    // ingest/signature kernels parallelize (no-op cost at real scale, where
    // the scan already yields thousands of partitions).
    val spread = corpus.repartition(spark.sparkContext.defaultParallelism * 2)
    // GRAFT_SUFFIX_MODE=winnow [GRAFT_WINNOW_K=n] selects the winnowed
    // suffix index (the 100-TB memory lever — ~13× smaller index at
    // verified recall 1.0, BASELINE round-5). Semantic knob: it enters the
    // config fingerprint, so switching modes invalidates exactly the
    // suffix-dependent stage suffix on resume instead of silently mixing
    // indexes. Df-cap caveat at the knob: see DedupConfig.suffixIndexMode.
    val cfg = DedupConfig.default.copy(
      suffixIndexMode = sys.env.getOrElse("GRAFT_SUFFIX_MODE", "grams"),
      winnowK = sys.env.getOrElse("GRAFT_WINNOW_K", "0").toInt)
    val res = run(spark, spread, workDir, cfg, inputId = inputIdentity(spark, input))
    println(s"[dedup] computed stages: ${res.computed.mkString(", ")}; " +
      s"clusters=${res.clusters.count()}")
    spark.stop()
  }
}
