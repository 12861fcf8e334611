package graft.lsh

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.conf.DedupConfig

/** T4 → T5 candidate-pair generation with explicit skew handling
  * (SURVEY.md §2 rows 18–19, 22) — the north rule's "explicit salting for
  * skewed bands". AQE cannot fix this: a quadratic (band, band_hash) group
  * is one join key no matter how the join partitions are split, so the salt
  * must change the join key itself.
  *
  * Strategy ([[generateJoin]]: one count pre-pass + one self-join):
  *  1. `groupBy(band, band_hash).count` finds group sizes (cheap additive
  *     agg, map-side partial).
  *  2. Groups > `stopBandSize` are dropped entirely ("stop bands" — license
  *     headers, empty-ish files; logged for recall accounting). True
  *     near-dups still collide in the other 15+ independent bands.
  *  3. Groups in (maxBandSize, stopBandSize] are *salted*: each doc gets
  *     `salt = pmod(xxhash64(doc_id), s)` with `s = ceil(cnt/maxBandSize)`,
  *     and is replicated to the `s` bucket-pairs {(min(x,salt), max(x,salt))
  *     : x ∈ [0,s)} — triangle partitioning. Every unordered doc pair of the
  *     hot group lands in exactly one (i,j) bucket-pair group of ~2·
  *     maxBandSize docs, so the quadratic work is spread over s(s+1)/2
  *     bounded join keys instead of one. The emitted pair SET is identical
  *     to the unsalted one (SaltingSpec checks it against the never-salting
  *     ReferenceOracle).
  *  4. A sort-merge self equi-join on the packed (band_hash, band/i/j) key
  *     emits each pair a<b once per colliding band; [[strongest]] collapses
  *     the bands to one row per pair.
  */
object CandidatePairs {

  /** Canonical pair-source collapse: one row per (a,b) keeping the strongest
    * source. Verified-by-construction sources (exact, suffix) outrank the
    * LSH sources: a containment pair (low Jaccard, Hamming > 3) that ALSO
    * collides in one band must keep src='suffix', or verification would
    * route it through the est/hamming check and silently drop it —
    * alphabetical min("src") had exactly that bug (suffix > minhash).
    *
    * The aggregation runs on a fixed-width INT priority, not the string:
    * min over a string column plans a SortAggregate (strings aren't
    * mutable-agg-buffer types), which double-sorts tens of millions of pair
    * rows; min(int) stays a HashAggregate with map-side partials.
    */
  private val srcPriority: org.apache.spark.sql.Column =
    expr("CASE src WHEN 'exact' THEN 0 WHEN 'suffix' THEN 1 WHEN 'minhash' THEN 2 ELSE 3 END")

  private def srcFromPriority(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    element_at(array(lit("exact"), lit("suffix"), lit("minhash"), lit("simhash")), c + 1)

  /** Dedup (a,b) keeping the strongest src. Input columns: a, b, src. */
  def strongest(pairs: DataFrame): DataFrame =
    pairs.groupBy("a", "b").agg(min(srcPriority).as("srcp"))
      .select(col("a"), col("b"), srcFromPriority(col("srcp")).as("src"))

  /** The salted triangle scheme as a Tungsten self equi-join. A typed
    * groupByKey/flatMapGroups formulation materializes one JVM object per
    * replicated band row and per emitted pair, which made pair generation
    * GC-bound and scale NEGATIVELY from 8→32 local cores; SMJ buffers one
    * bounded (≤ 2·maxBandSize) key group at a time in UnsafeRow form.
    *
    * Shuffle diet (this stage dominates e2e wall time at scale): each join
    * side carries exactly 3 longs — `band_hash`, `pk` (band, i, j packed
    * bit-exactly into one long: no hashing, so no new collision source the
    * oracle doesn't share), and the doc id. The salt-bucket membership
    * filters (`salt = i` on the left, `salt = j` on the right) are applied
    * BEFORE the exchange, so a non-diagonal replica row is shuffled once,
    * not twice, and the post-shuffle join condition only needs `dl < dr` on
    * diagonal buckets (i == j, recovered from pk). Net ≈ 4× fewer shuffled
    * bytes than the naive 6-column both-sides formulation.
    *
    * @return (candidate pairs `a,b,src` deduped with src priority,
    *          stop-band log `band,band_hash,cnt`)
    */
  def generateJoin(spark: SparkSession, bandRows: DataFrame, cfg: DedupConfig): (DataFrame, DataFrame) = {
    // pk layout: band in bits 0-7, i in bits 8-35, j in bits 36-63.
    require(cfg.bands + cfg.simhashBlocks < 256, "band index must fit 8 bits")
    require(cfg.stopBandSize.toLong <= (1L << 28) * cfg.maxBandSize,
      "salt bucket count must fit 28 bits")

    val counts = bandRows.groupBy("band", "band_hash").agg(count(lit(1)).as("cnt"))
    val stop = counts.where(col("cnt") > cfg.stopBandSize)
    val hot = counts
      .where(col("cnt") > cfg.maxBandSize && col("cnt") <= cfg.stopBandSize)
      .select(col("band"), col("band_hash"),
        ceil(col("cnt") / cfg.maxBandSize.toDouble).cast("int").as("s"))

    val salted = bandRows
      .join(broadcast(stop.select("band", "band_hash")), Seq("band", "band_hash"), "left_anti")
      .join(broadcast(hot), Seq("band", "band_hash"), "left")
      .na.fill(Map("s" -> 1))
      .withColumn("salt", pmod(xxhash64(col("doc_id")), col("s")).cast("int"))

    val exploded = salted
      .select(col("band"), col("band_hash"), col("doc_id"), col("salt"),
        explode(transform(sequence(lit(0), col("s") - 1),
          x => struct(least(x, col("salt")).as("i"), greatest(x, col("salt")).as("j")))).as("bp"))
      .select(col("band_hash").as("bh"),
        (col("band").cast("long")
          + shiftleft(col("bp.i").cast("long"), 8)
          + shiftleft(col("bp.j").cast("long"), 36)).as("pk"),
        col("doc_id"), col("salt"), col("bp.i").as("i"), col("bp.j").as("j"))

    // Every replica row has salt == i or salt == j by construction (the
    // bucket-pair is (min(x,salt), max(x,salt))); diagonal rows (i == j)
    // satisfy both and feed both sides of the self-join.
    val l = exploded.where(col("salt") === col("i"))
      .select(col("bh"), col("pk"), col("doc_id").as("dl"))
    val r = exploded.where(col("salt") === col("j"))
      .select(col("bh").as("bh_r"), col("pk").as("pk_r"), col("doc_id").as("dr"))

    val iOf = shiftrightunsigned(col("pk"), 8).bitwiseAND(lit((1L << 28) - 1))
    val jOf = shiftrightunsigned(col("pk"), 36)
    val joined = l.join(r,
      col("bh") === col("bh_r") && col("pk") === col("pk_r") &&
        (iOf =!= jOf || col("dl") < col("dr")) &&
        col("dl") =!= col("dr"))
    val pairs = strongest(joined.select(
      least(col("dl"), col("dr")).as("a"),
      greatest(col("dl"), col("dr")).as("b"),
      when(col("pk").bitwiseAND(lit(255L)) < cfg.bands, "minhash").otherwise("simhash").as("src")))

    (pairs, stop)
  }

  /** Exact-duplicate star pairs by content sha256 (row 20), from the
    * (content_sha256 → rep) table the caller already holds (t1Distinct's
    * projection): every non-rep doc pairs with its sha's rep. Deliberately
    * NOT `collect_list` (a 10^12-file corpus has billion-row
    * identical-content groups — empty files); the join keeps every task
    * linear in its partition. A size-1 sha group only joins its own rep
    * row, which the `doc_id =!= rep` filter drops.
    */
  def exactPairsFromReps(t1: DataFrame, repsBySha: DataFrame): DataFrame =
    t1.select(col("content_sha256"), col("doc_id"))
      .join(repsBySha, "content_sha256")
      .where(col("doc_id") =!= col("rep"))
      .select(col("rep").as("a"), col("doc_id").as("b"), lit("exact").as("src"))
}
