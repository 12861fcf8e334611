package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.conf.DedupConfig
import graft.ingest.Ingest
import graft.testutil.{FixtureGen, ReferenceOracle}

/** Salting must be a pure re-partitioning of work: the emitted pair SET is
  * identical whether hot bands are split into 1, few, or many salt buckets
  * (SURVEY.md §5.2 property 4), and equal to the never-salting
  * ReferenceOracle's. Also: pipeline output is invariant under input
  * repartitioning.
  */
class SaltingSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private lazy val corpus = FixtureGen.corpus(700, 43L)
  private lazy val t1 = Ingest.ingest(spark.createDataFrame(corpus).select("repo", "path", "commit", "lang", "content"))

  private def pairSet(cfg: DedupConfig, repart: Int): Set[(Long, Long, String)] = {
    val t = if (repart > 0) t1.repartition(repart) else t1
    val res = DedupPipeline.run(spark, t, cfg)
    try res.candidatePairs.select("a", "b", "src").as[(Long, Long, String)].collect().toSet
    finally { res.release(); res.t1.unpersist(blocking = false) }
  }

  test("pair set invariant under maxBandSize (salting on/off/aggressive)") {
    val base = pairSet(DedupConfig(maxBandSize = 1000000), 0)
    val salted = pairSet(DedupConfig(maxBandSize = 25), 0)
    val extreme = pairSet(DedupConfig(maxBandSize = 3), 0)
    assert(salted === base, s"maxBandSize=25 diverged: ${(salted diff base).take(3)} / ${(base diff salted).take(3)}")
    assert(extreme === base, "maxBandSize=3 diverged")
  }

  test("salted candidate set equals the unsalted reference oracle's") {
    for (mbs <- Seq(3, 25)) {
      val cfg = DedupConfig(maxBandSize = mbs)
      val got = pairSet(cfg, 0).map(p => (p._1, p._2))
      val want = ReferenceOracle.run(corpus, cfg).candidatePairs
      assert(got === want,
        s"mbs=$mbs: extra=${(got diff want).take(3)} missing=${(want diff got).take(3)}")
    }
  }

  test("pair set invariant under input repartitioning (1, 4, 17)") {
    val cfg = DedupConfig(maxBandSize = 25)
    val p1 = pairSet(cfg, 1)
    val p4 = pairSet(cfg, 4)
    val p17 = pairSet(cfg, 17)
    assert(p1 === p4)
    assert(p4 === p17)
  }
}
