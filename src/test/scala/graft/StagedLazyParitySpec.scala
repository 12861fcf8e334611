package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.conf.DedupConfig
import graft.ingest.Ingest
import graft.io.ParquetCatalog
import graft.model.CorpusRow

/** The staged executor ([[Dedup]]) and the lazy one ([[DedupPipeline.run]])
  * run one stage composition and must produce identical candidate pairs,
  * stop-band logs, verified pairs, clusters and cluster stats — including
  * on the case
  * that broke round 1: a pair emitted by BOTH the suffix pass and an LSH
  * band, where the LSH est/hamming check fails. The staged path used to
  * collapse sources with alphabetical min("src") before verification
  * ('minhash' < 'suffix'), routing such containment pairs through the LSH
  * check and silently dropping them.
  *
  * The trigger corpus forces the overlap deterministically: B contains A
  * verbatim (suffix pair by construction) with enough junk appended that
  * Jaccard ≈ 0.33 ≪ τ, under a wide banding config (64 bands × 2 rows,
  * collision threshold ≈ 0.125) so the pair also collides in some band.
  */
class StagedLazyParitySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // same perm budget as v1 (numPerms = bands*rowsPerBand = 128)
  private val cfg = DedupConfig(bands = 64, rowsPerBand = 2)

  private lazy val corpus: Seq[CorpusRow] = {
    val aToks = (0 until 100).map(i => s"alpha$i")
    val bToks = aToks ++ (0 until 200).map(i => s"junk$i")
    val fillers = (0 until 20).map { d =>
      CorpusRow("r2", s"f$d.txt", "c1", "scala",
        (0 until 80).map(i => s"fill${d}_$i").mkString(" "))
    }
    Seq(
      CorpusRow("r1", "a.txt", "c1", "scala", aToks.mkString(" ")),
      CorpusRow("r1", "b.txt", "c1", "scala", bToks.mkString(" "))) ++ fillers
  }

  private lazy val idA = testutil.ReferenceOracle.docId(corpus(0))
  private lazy val idB = testutil.ReferenceOracle.docId(corpus(1))
  private lazy val pairAB = (math.min(idA, idB), math.max(idA, idB))

  private lazy val t1 = Ingest.ingest(
    spark.createDataFrame(corpus).select("repo", "path", "commit", "lang", "content"))
    .repartition(4)

  private lazy val lazyRes = DedupPipeline.run(spark, t1, cfg)

  test("trigger sanity: (A,B) is an LSH candidate AND fails the LSH verify rule") {
    val sigs = lazyRes.signatures
      .select("doc_id", "minhash", "simhash").as[(Long, Array[Long], Long)]
      .collect().map(s => s._1 -> (s._2, s._3)).toMap
    val (mhA, shA) = sigs(idA)
    val (mhB, shB) = sigs(idB)
    val est = mhA.zip(mhB).count(t => t._1 == t._2).toDouble / cfg.numPerms
    val ham = java.lang.Long.bitCount(shA ^ shB)
    assert(est < cfg.jaccardTau, s"est=$est must fail the Jaccard check for the trigger")
    assert(ham > cfg.hammingMax, s"hamming=$ham must fail the Hamming check for the trigger")
    // and they DO share at least one band (the overlap condition)
    val (lshPairs, _) = lsh.CandidatePairs.generateJoin(
      spark, lsh.Banding.bandRows(lazyRes.signatures, cfg), cfg)
    val lshSet = lshPairs.select("a", "b").as[(Long, Long)].collect().toSet
    assert(lshSet.contains(pairAB), "trigger pair must collide in some LSH band")
  }

  private def staged(docs: Seq[CorpusRow], c: DedupConfig): ParquetCatalog = {
    val dir = Files.createTempDirectory("graft-parity").toString
    Dedup.run(spark, spark.createDataFrame(docs)
      .select("repo", "path", "commit", "lang", "content"), dir, c, inputId = "parity")
    new ParquetCatalog(dir)
  }

  private def rowSet(df: DataFrame): Set[Seq[Any]] =
    df.select(df.columns.sorted.toSeq.map(col): _*).collect().map(_.toSeq).toSet

  /** Every table the two executors both produce, row for row. */
  private def assertParity(cat: ParquetCatalog, res: DedupPipeline.Result): Unit =
    Seq("candidate_pairs" -> res.candidatePairs, "stop_bands" -> res.stopBands,
        "verified_pairs" -> res.verifiedPairs, "clusters" -> res.clusters,
        "cluster_stats" -> res.clusterStats).foreach { case (name, lazyDf) =>
      val (got, want) = (rowSet(cat.read(spark, name)), rowSet(lazyDf))
      assert(got === want,
        s"$name: staged-only=${(got diff want).take(3)} lazy-only=${(want diff got).take(3)}")
    }

  test("staged verified pairs/clusters equal the lazy pipeline's, overlap pair kept as suffix") {
    val cat = staged(corpus, cfg)
    assertParity(cat, lazyRes)

    // the containment pair survived with by-construction source
    val stagedVerified = cat.read(spark, "verified_pairs")
      .select("a", "b", "src").as[(Long, Long, String)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(stagedVerified.get(pairAB) === Some("suffix"))
    // A and B are clustered together despite failing the LSH verify rule
    val stagedClusters = cat.read(spark, "clusters").as[(Long, Long)].collect().toMap
    assert(stagedClusters(idA) === stagedClusters(idB))
  }

  test("parity holds when stop bands and salting bite") {
    // a 12-doc near-identical family: band groups past stopBandSize are
    // dropped and logged, those past maxBandSize are salted
    val body = (0 until 80).map(i => s"fam$i").mkString(" ")
    val family = (0 until 12).map(i =>
      CorpusRow("r3", s"fam$i.txt", "c1", "scala", s"$body uniq$i"))
    val docs = corpus ++ family
    val c = cfg.copy(stopBandSize = 8, maxBandSize = 3)
    val cat = staged(docs, c)
    val res = DedupPipeline.run(spark, Ingest.ingest(spark.createDataFrame(docs)
      .select("repo", "path", "commit", "lang", "content")).repartition(4), c)
    assert(res.stopBands.count() > 0, "scenario broken: no band group crossed stopBandSize")
    assertParity(cat, res)
    res.release()
  }

  test("a failing suffix pass surfaces its own exception under both executors") {
    // winnowK 60 > suffixMinLen 50 fails winnowKEff's require on the suffix
    // pass (the lazy executor's suffix chain); the staged executor meets it
    // first in the config fingerprint
    val bad = DedupConfig(suffixIndexMode = "winnow", winnowK = 60)
    intercept[IllegalArgumentException](DedupPipeline.run(spark, t1, bad))
    intercept[IllegalArgumentException](staged(corpus, bad))
  }

  test("a failed lazy run cancels its suffix chain and leaves no cached plan behind") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.GraftSqlTestBridge.cachedPlans
    // fresh, uncached T1 frames: every plan the run caches is its own
    def freshT1(): DataFrame = Ingest.ingest(spark.createDataFrame(corpus)
      .select("repo", "path", "commit", "lang", "content")).repartition(4)

    // a bad row fails the run where the fork materializes t1_distinct,
    // before the suffix chain starts (the row reads a non-local relation,
    // so it fails in a job, not in the optimizer)
    val badRow = freshT1()
      .withColumn("content", raise_error(concat(lit("boom: "), col("content"))).cast("string"))
    val before = cachedPlans(spark)
    intercept[Exception](DedupPipeline.run(spark, badRow, cfg))
    assert(cachedPlans(spark) === before, "the run that failed on a bad row leaked cached plans")

    // 252 bands overflow generateJoin's 8-bit band index inside the
    // candidate_pairs build — after the suffix chain has started
    val wide = DedupConfig(numPerms = 252, bands = 252, rowsPerBand = 1)
    @volatile var thrownAt = Long.MaxValue
    val late = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.time >= thrownAt)
          late.add(s"job ${e.jobId} (${e.properties.getProperty("spark.job.description", "")})")
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      intercept[IllegalArgumentException](DedupPipeline.run(spark, freshT1(), wide))
      thrownAt = System.currentTimeMillis()
      assert(cachedPlans(spark) === before, "the run that failed after the fork leaked cached plans")
      // time for a surviving suffix pass to submit its next jobs
      Thread.sleep(3000)
      org.apache.spark.GraftTestBridge.waitListenerBus(sc)
      assert(late.isEmpty, s"jobs started after run() had thrown: $late")
    } finally sc.removeSparkListener(listener)
  }
}
