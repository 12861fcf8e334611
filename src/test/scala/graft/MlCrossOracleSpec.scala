package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.ml.feature.MinHashLSH
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions._

import graft.conf.DedupConfig
import graft.ingest.Ingest
import graft.testutil.FixtureGen

/** Independent cross-oracle (SURVEY.md §5.2 item 5b): Spark ML's MinHashLSH
  * shares NO code with our kernels (different permutation family, different
  * banding). High-similarity pairs it finds must also be found by our
  * pipeline — catching any systematic blindness an implementation-sharing
  * oracle could miss.
  */
class MlCrossOracleSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("every high-Jaccard pair found by ml.MinHashLSH is in our verified pairs") {
    val cfg = DedupConfig.default
    val corpus = FixtureGen.corpus(800, 99L)
    val t1 = Ingest.ingest(spark.createDataFrame(corpus)
      .select("repo", "path", "commit", "lang", "content"))
    val res = DedupPipeline.run(spark, t1, cfg)
    val ours = res.verifiedPairs.select("a", "b").as[(Long, Long)].collect().toSet

    // featurize: distinct shingle hashes -> sparse binary vector
    val dim = 1 << 18
    val vecs = DedupPipeline.shingled(spark, DedupPipeline.distinctByContent(t1), cfg)
      .where(col("n_shingles") > 0)
      .select("doc_id", "shingles").as[(Long, Array[Long])]
      .map { case (id, sh) =>
        val idx = sh.map(h => ((h % dim + dim) % dim).toInt).distinct.sorted
        (id, Vectors.sparse(dim, idx, Array.fill(idx.length)(1.0)))
      }.toDF("doc_id", "features")

    val model = new MinHashLSH().setNumHashTables(8).setSeed(7)
      .setInputCol("features").setOutputCol("hashes").fit(vecs)
    val joined = model.approxSimilarityJoin(vecs, vecs, 0.2, "dist") // Jaccard dist ≤ 0.2 ⇔ J ≥ 0.8
      .select(col("datasetA.doc_id").as("a"), col("datasetB.doc_id").as("b"), col("dist"))
      .where(col("a") < col("b"))
      .as[(Long, Long, Double)].collect()

    val mlPairs = joined.map(t => (t._1, t._2)).toSet
    assert(mlPairs.nonEmpty, "ml oracle found nothing — test corpus degenerate")
    val missing = mlPairs -- ours
    assert(missing.isEmpty,
      s"pipeline missed ${missing.size} of ${mlPairs.size} ml-found J≥0.8 pairs: ${missing.take(5)}")
  }
}
