package graft.verify

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.conf.DedupConfig

/** T5 → T6 pair verification (SURVEY.md §2 rows 23–26).
  *
  * Two equi hash joins attach both signatures, then verification is pure
  * codegen'd column arithmetic:
  *  - est_jaccard = fraction of equal MinHash lanes (MMDS 3.3.5) via
  *    a codegen'd equal-lane-count Expression — no UDF;
  *  - Hamming distance via `bit_count(simhash_a ^ simhash_b)` (Manku WWW'07).
  *
  * A pair survives if est_jaccard ≥ τ OR hamming ≤ hammingMax. `exact` and
  * `suffix` pairs are verified by construction upstream and bypass this.
  *
  * Shuffle diet — the dominant e2e cost at scale was NOT computing est but
  * MOVING the 128-lane arrays: pairs outnumber docs ~20×, and the second
  * signature join exchanges a (pair × full-array) intermediate (~1 KB/row).
  * So verification is two-phase, with identical output by construction:
  *
  *  1. SLIM pass: attach per-doc `simhash` + a numPerms-bit **lane-parity
  *     bitmap** (numPerms/64 longs) to every candidate — 3 longs per side.
  *     Lanes that are equal have equal parity bits, so
  *     `equalLanes ≤ numPerms − popcount(parity_a XOR parity_b)`: a pair
  *     with `popcount(xor) > numPerms − ceil(τ·numPerms)` provably fails
  *     the Jaccard rule; if it also fails Hamming it is dropped EXACTLY
  *     (an upper-bound prune, not an approximation). For a random non-dup
  *     pair each unequal lane flips the parity with p=1/2, so the prune
  *     keeps ~Φ((2τ−1)·√numPerms) ≈ 3e-6 of non-dups at τ=0.7, n=128.
  *  2. FAT pass: the survivors (≈ true duplicates + Hamming-verified pairs)
  *     get the real array join and the exact rule — unchanged semantics,
  *     ~10× fewer array-carrying rows on the wire.
  */
object Verifier {

  def verifyLshPairs(pairs: DataFrame, sigs: DataFrame, cfg: DedupConfig): DataFrame = {
    val keep = Seq("a", "b", "src")
    val minEqualLanes = math.ceil(cfg.jaccardTau * cfg.numPerms).toInt
    val prefiltered =
      if (cfg.numPerms % 64 == 0) {
        val words = cfg.numPerms / 64
        // codegen'd shift-left fold of each lane's low bit into per-64-lane
        // words (interpreted aggregate() would run per sig row per side)
        val parityWords = (0 until words).map { w =>
          graft.functions.LongArrayParityWord.parityWord(col("minhash"), lit(w))
        }
        val slim = sigs.select(col("doc_id") +: col("simhash") +:
          parityWords.zipWithIndex.map { case (c, i) => c.as(s"par$i") }: _*)
        val slimA = slim.toDF("a" +: "sh_a" +: (0 until words).map(i => s"pa$i"): _*)
        val slimB = slim.toDF("b" +: "sh_b" +: (0 until words).map(i => s"pb$i"): _*)
        val parDiff = (0 until words)
          .map(i => bit_count(col(s"pa$i").bitwiseXOR(col(s"pb$i"))))
          .reduce(_ + _)
        pairs
          .join(slimA, "a")
          .join(slimB, "b")
          .where(parDiff <= lit(cfg.numPerms - minEqualLanes) ||
            bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= cfg.hammingMax)
          .select(keep.map(col): _*)
      } else pairs.select(keep.map(col): _*)

    val sa = sigs.select(col("doc_id").as("a"), col("minhash").as("mh_a"), col("simhash").as("sh_a"))
    val sb = sigs.select(col("doc_id").as("b"), col("minhash").as("mh_b"), col("simhash").as("sh_b"))
    prefiltered
      .join(sa, "a")
      .join(sb, "b")
      .withColumn("est_jaccard",
        graft.functions.LongArrayEqualCount.equalLaneCount(col("mh_a"), col("mh_b"))
          / lit(cfg.numPerms.toDouble))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .where(col("est_jaccard") >= cfg.jaccardTau || col("hamming") <= cfg.hammingMax)
      .select("a", "b", "est_jaccard", "src")
  }

  /** Exact Jaccard on shingle arrays — calibration / oracle surface
    * (row 25). Emits the INTEGER intersection/union alongside the ratio so
    * cross-engine comparisons stay float-free.
    */
  def exactJaccard(pairs: DataFrame, shingled: DataFrame): DataFrame = {
    val sa = shingled.select(col("doc_id").as("a"), col("shingles").as("sh_a"))
    val sb = shingled.select(col("doc_id").as("b"), col("shingles").as("sh_b"))
    pairs.join(sa, "a").join(sb, "b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .select("a", "b", "inter", "uni", "jaccard")
  }
}
