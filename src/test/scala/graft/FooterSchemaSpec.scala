package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}

import graft.conf.DedupConfig
import graft.io.ParquetCatalog
import graft.streaming.IncrementalDedup
import graft.testutil.FixtureGen

/** [[ParquetCatalog.readParquet]] reads what `spark.read.parquet` reads —
  * same schema, same partition columns, same rows — for every table the
  * engine writes, without the schema-inference job.
  */
class FooterSchemaSpec extends AnyFunSuite with SparkTestBase {

  private val cfg = DedupConfig(maxBandSize = 25)

  private def corpus(rows: Seq[graft.model.CorpusRow]): DataFrame =
    spark.createDataFrame(rows).select("repo", "path", "commit", "lang", "content")

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The table directories under `root`, as Spark would list them. */
  private def tables(root: String): Seq[String] =
    fs.listStatus(new Path(root)).filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSeq.sorted

  /** Spark jobs launched while `f` runs. */
  private def jobsOf[A](f: => A): (A, Int) = {
    val n = new AtomicInteger()
    val out = listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet(): Unit
    })(f)
    (out, n.get)
  }

  private def assertSameRead(dir: String): DataFrame = {
    val (footer, jobs) = jobsOf(ParquetCatalog.readParquet(spark, dir))
    assert(jobs === 0, s"$dir: the footer read ran $jobs Spark jobs")
    val inferred = spark.read.parquet(dir)
    assert(footer.schema === inferred.schema, dir)
    assert(footer.count() === inferred.count(), dir)
    footer
  }

  test("every stage table of a staged run reads back with the inferred schema") {
    val dir = Files.createTempDirectory("graft-footer-staged").toString
    Dedup.run(spark, corpus(FixtureGen.corpus(200, 3L)), dir, cfg, inputId = "footer200")
    val stages = tables(dir)
    assert(stages.toSet === Set("t1", "t1_distinct", "signatures", "bands", "candidate_pairs",
      "stop_bands", "verified_pairs", "clusters", "cluster_stats", "stage_meta"))
    stages.foreach(t => assertSameRead(s"$dir/$t"))
  }

  test("every incremental state table reads back with the inferred schema and its batch column") {
    val stateDir = Files.createTempDirectory("graft-footer-state").toString
    // three batches: compaction keeps the newest batch live, so it needs
    // two older ones to write a base partition (batch=-1)
    FixtureGen.corpus(300, 5L).grouped(100).zipWithIndex.foreach { case (chunk, i) =>
      IncrementalDedup.processBatch(spark, corpus(chunk), stateDir, cfg, batchId = i.toLong)
    }
    IncrementalDedup.compactState(spark, stateDir)
    assert(fs.exists(new Path(s"$stateDir/docs/batch=-1")), "compaction wrote no base partition")
    val state = tables(stateDir)
    assert(state.toSet === Set("docs", "signatures", "bands", "band_counts", "toks", "grams",
      "gram_counts", "lsh_pairs", "exact_pairs", "sfx_pairs", "stage_meta"))
    val checksums = state.flatMap { t =>
      val df = assertSameRead(s"$stateDir/$t")
      if (t == "stage_meta") None // wall times and timestamps differ per run
      else {
        assert(df.schema.fieldNames.last === "batch", s"$t: batch partition column not discovered")
        Some(t -> df.select(bit_xor(xxhash64(df.columns.toSeq.map(col): _*))).head().getLong(0))
      }
    }.toMap
    // order-independent checksum of every state row, the batch column
    // included: a state row that moves, appears or goes changes its table's
    // value (values written by the engine before the LSH and suffix chains
    // became one keyed-index increment)
    assert(checksums === Map(
      "docs" -> -4637649671301025085L, "exact_pairs" -> 3973349864120733141L,
      "signatures" -> 709524405889739957L, "bands" -> 3919509952445195741L,
      "band_counts" -> -3810817664640860993L, "lsh_pairs" -> 5837035334687542917L,
      "toks" -> 8791984279575553657L, "grams" -> 5865391622395393332L,
      "gram_counts" -> -4767710603060009214L, "sfx_pairs" -> -575092351001869371L))
  }

  test("a decoy data file under a _-prefixed or .-prefixed name is ignored") {
    val dir = Files.createTempDirectory("graft-footer-decoy").toString
    // partitioned, so the real data files sit below the decoys' level
    spark.range(5).toDF("a").withColumn("p", org.apache.spark.sql.functions.lit(1))
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    def decoy(column: String, at: String): Unit = {
      val src = Files.createTempDirectory("graft-footer-decoy-src").toString
      spark.range(1).toDF(column).coalesce(1).write.mode("overwrite").parquet(src)
      val part = fs.listStatus(new Path(src)).map(_.getPath).find(_.getName.startsWith("part-")).get
      fs.mkdirs(new Path(at).getParent)
      assert(fs.rename(part, new Path(at)))
    }
    // a half-written job's leftovers and a hidden file, both with another
    // schema; Spark's own listing skips them
    decoy("zzz", s"$dir/_temporary/part-x.parquet")
    decoy("yyy", s"$dir/.staging/part-y.parquet")
    val df = assertSameRead(dir)
    assert(df.schema.fieldNames.toSeq === Seq("a", "p"))
  }

  test("a table with no data file falls back and raises the error Spark raises") {
    val dir = Files.createTempDirectory("graft-footer-empty").toString
    fs.create(new Path(s"$dir/_SUCCESS"), true).close()
    val plain = intercept[AnalysisException](spark.read.parquet(dir))
    val footer = intercept[AnalysisException](ParquetCatalog.readParquet(spark, dir))
    assert(footer.getMessage === plain.getMessage)
  }
}
