package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.conf.DedupConfig
import graft.kernel.SignatureKernel
import graft.model.DocRow

/** The end-to-end near-duplicate pipeline (SURVEY.md §3.2), declared once
  * as a stage composition ([[compose]]: T1 → t1_distinct → signatures →
  * bands → candidate_pairs → verified_pairs → clusters → cluster_stats) and
  * run by one of two [[Executor]]s:
  *  - [[run]]: lazy and in-session — stages are persisted DataFrames and the
  *    suffix pass runs on its own thread;
  *  - [[graft.Dedup.run]]: staged — every stage is written to a catalog,
  *    read back, and reused on resume by chain fingerprint.
  * SparkEntry.queries exposes individual stages of [[run]] for the driver's
  * correctness/bench loop.
  */
object DedupPipeline {

  final case class Result(
      t1: DataFrame,
      t1Distinct: DataFrame,
      signatures: DataFrame,
      bands: DataFrame,
      candidatePairs: DataFrame,
      verifiedPairs: DataFrame,
      clusters: DataFrame,
      clusterStats: DataFrame,
      stopBands: DataFrame) {
    /** Drop the pipeline-owned cached stages — one-shot callers
      * (benchmarks, repeated run() in one session) must release or the
      * multi-million-row pair caches pin executor memory for the session's
      * life. `t1` is caller-provided (run() persists the caller's handle)
      * and stays cached for the caller to manage.
      */
    def release(): Unit =
      Seq(t1Distinct, signatures, bands, candidatePairs, verifiedPairs, clusters)
        .foreach(_.unpersist(blocking = false))
  }

  /** How [[compose]] materializes its stages. */
  trait Executor {
    /** Materialize stage `name`; returns the handle downstream stages read. */
    def stage(name: String)(build: => DataFrame): DataFrame
    /** Record the candidate_pairs build's stop-band log (band, band_hash, cnt). */
    def stopBands(log: DataFrame): Unit
    /** Start the suffix pass; the thunk, called once inside the
      * candidate_pairs build, yields its pairs.
      */
    def fork(pass: => DataFrame): () => DataFrame
  }

  /** T1 → T3: the fused shingle+MinHash+SimHash typed kernel. Permutation
    * coefficients are built once per partition; the serde boundary
    * (InternalRow → DocRow → Signature) is deliberate and confined to this
    * one stage.
    */
  def signatures(spark: SparkSession, t1: DataFrame, cfg: DedupConfig): DataFrame = {
    import spark.implicits._
    t1.select(col("doc_id"), col("lang"), col("content")).as[DocRow]
      .mapPartitions { it =>
        val coefs = new SignatureKernel.PermCoefs(cfg.numPerms, cfg.seed)
        it.map(d => SignatureKernel.signature(d.doc_id, d.content, cfg, coefs))
      }
      .toDF()
  }

  /** Shingle arrays (T2) — exposed for exact-Jaccard tests/calibration, not
    * on the main path (the fused kernel never materializes T2).
    */
  def shingled(spark: SparkSession, t1: DataFrame, cfg: DedupConfig): DataFrame = {
    import spark.implicits._
    t1.select(col("doc_id"), col("lang"), col("content")).as[DocRow]
      .mapPartitions { it =>
        it.map { d =>
          val sh = SignatureKernel.shingles(
            SignatureKernel.tokenHashes(d.content, cfg.seed), cfg.shingleK, cfg.seed)
          (d.doc_id, sh, sh.length)
        }
      }
      .toDF("doc_id", "shingles", "n_shingles")
  }

  /** The stage sequence, declared once for both executors. Stage names and
    * their order are the staged path's resume contract: each stage's chain
    * fingerprint hashes every name before it.
    */
  def compose(spark: SparkSession, t1in: => DataFrame, cfg: DedupConfig, ex: Executor): Result = {
    val t1 = ex.stage("t1")(t1in)
    // LSH/suffix run over sha-distinct docs only (one representative per
    // identical content): identical docs have identical signatures, so
    // their pairs are fully implied by the exact-star edges — and at
    // 10^12-file scale the identical-content mass (empty files, generated
    // code) is the single biggest pair-explosion source. Cluster output is
    // unchanged: rep↔member exact edges glue the components together.
    val t1Distinct = ex.stage("t1_distinct")(distinctByContent(t1))
    // exact-star pairs and member attach both reuse this (sha → rep)
    // projection instead of re-aggregating the full corpus
    val repsBySha = t1Distinct.select(col("content_sha256"), col("doc_id").as("rep"))
    // independent of the LSH subtree until the candidate union
    val suffixPairs = ex.fork(
      graft.suffix.SuffixPass.containmentPairs(spark, t1Distinct, cfg).select("a", "b", "src"))
    val sigs = ex.stage("signatures")(signatures(spark, t1Distinct, cfg))
    val bands = ex.stage("bands")(lsh.Banding.bandRows(sigs, cfg))

    // a resumed candidate_pairs stage never builds, so the log stays empty
    var stopBands = spark.emptyDataFrame
    val candidates = ex.stage("candidate_pairs") {
      val (lshPairs, stop) = lsh.CandidatePairs.generateJoin(spark, bands, cfg)
      ex.stopBands(stop)
      stopBands = stop
      val exact = lsh.CandidatePairs.exactPairsFromReps(t1, repsBySha)
      // strongest (not alphabetical min): a pair found by BOTH the suffix
      // pass and an LSH band must stay 'suffix' so verification treats it
      // as verified-by-construction
      lsh.CandidatePairs.strongest(lshPairs.unionByName(exact).unionByName(suffixPairs()))
    }

    // LSH-sourced rows pass Jaccard/Hamming; exact and suffix rows are
    // verified by construction. The candidate table holds one row per
    // (a, b), so the two sides are disjoint and need no second collapse.
    val verified = ex.stage("verified_pairs") {
      val lshSide = verify.Verifier.verifyLshPairs(
        candidates.where(col("src").isin("minhash", "simhash")), sigs, cfg)
      val byConstruction = candidates.where(col("src").isin("exact", "suffix"))
        .select(col("a"), col("b"), lit(1.0d).as("est_jaccard"), col("src"))
      lshSide.unionByName(byConstruction)
    }

    // Exact-dup members are pendant vertices: LSH/suffix pairs only touch
    // sha-reps, so a member's sole edge is (rep, member). CC therefore runs
    // on the rep-only edge set and members are attached afterward through
    // the sha→rep mapping — at 10^12-file scale this keeps the iterative
    // CC graph free of the identical-content mass entirely.
    val clusters = ex.stage("clusters") {
      val repEdges = verified.where(col("src") =!= "exact").select("a", "b")
      attachMembersVia(t1, cc.ConnectedComponents.run(spark, repEdges), repsBySha)
    }

    val stats = ex.stage("cluster_stats") {
      clusters.join(t1.select("doc_id", "repo"), "doc_id")
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("size"),
          countDistinct(col("repo")).as("n_repos"),
          min(col("doc_id")).as("rep_doc"))
    }
    Result(t1, t1Distinct, sigs, bands, candidates, verified, clusters, stats, stopBands)
  }

  /** Assemble the full pipeline lazily from a T1 docs table: [[compose]]
    * under the in-session executor.
    *
    * Every stage but the `cluster_stats` leaf feeds several downstream
    * consumers (stats, members, novelty, the driver's per-stage queries),
    * so each is persisted and computed once per session. Besides the jobs
    * ConnectedComponents.run iterates with, only two stages are forced
    * inside run(): t1Distinct before the suffix fork (both
    * branches read it, and two cold racers would otherwise each run the
    * ingest + sha-distinct shuffles), and bands while the suffix pass runs.
    */
  def run(spark: SparkSession, t1in: DataFrame, cfg: DedupConfig = DedupConfig.default): Result =
    compose(spark, t1in, cfg, new InSession)

  /** Persisting executor. The suffix pass materializes its candidate table
    * EAGERLY at call time (localCheckpoint under AQE — see SuffixPass), so
    * it runs on its own thread; the fork and the join each first
    * materialize the newest persisted stage, so the wait is spent on the
    * caches every later action needs anyway — work moved earlier, not
    * added.
    */
  private final class InSession extends Executor {
    private var newest: DataFrame = _

    def stage(name: String)(build: => DataFrame): DataFrame = {
      val df = build
      if (name == "cluster_stats") df
      else { newest = df.persist(); newest }
    }

    def stopBands(log: DataFrame): Unit = ()

    def fork(pass: => DataFrame): () => DataFrame = {
      newest.count(): Unit
      val out = new java.util.concurrent.CompletableFuture[DataFrame]()
      val th = new Thread(() =>
        try out.complete(pass)
        catch { case e: Throwable => out.completeExceptionally(e) },
        "graft-suffix-pass")
      th.setDaemon(true)
      th.start()
      () => {
        newest.count(): Unit
        try out.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    }
  }

  /** First-story / novelty detection — the reference's headline capability
    * (Petrović et al., NAACL-HLT 2010: a document whose nearest neighbor is
    * farther than the threshold "starts a new story"). In the batch engine
    * that is exactly: documents with NO verified near-duplicate neighbor —
    * one left_anti join against the verified edge endpoints. Scale shape:
    * the endpoint set is a projection of the (already bounded) verified
    * edge table, and left_anti plans as a shuffled hash anti-join on doc_id.
    */
  def firstStories(res: Result): DataFrame = {
    val endpoints = res.verifiedPairs.select(col("a").as("doc_id"))
      .unionByName(res.verifiedPairs.select(col("b").as("doc_id")))
    res.t1.join(endpoints, Seq("doc_id"), "left_anti").select("doc_id")
  }

  /** One representative row (min doc_id) per distinct content_sha256.
    *
    * Scale note: this is the pipeline's ONE full-content shuffle (the
    * join-back moves content rows by key). The alternative — sign ALL docs
    * in the narrow kernel and dedup the 1 KB signature rows instead — would
    * avoid it, but the suffix/containment pass needs representative CONTENT
    * anyway, so materializing the rep table once (checkpointed in the
    * staged path) is the cheaper total: every downstream stage then reads
    * the ~dedup'd corpus without touching the identical-content mass.
    */
  def distinctByContent(t1: DataFrame): DataFrame = {
    val reps = t1.groupBy("content_sha256").agg(min("doc_id").as("doc_id"))
    t1.join(reps, Seq("content_sha256", "doc_id"))
  }

  /** Full cluster assignment from a rep-only CC mapping: every doc routes
    * through its sha-rep; reps without an LSH/suffix edge head their own
    * (possibly multi-member) exact cluster.
    */
  def attachMembers(t1: DataFrame, repMapping: DataFrame): DataFrame =
    attachMembersVia(t1, repMapping,
      t1.groupBy("content_sha256").agg(min("doc_id").as("rep")))

  /** [[attachMembers]] with the (content_sha256 → rep) table supplied by the
    * caller — [[compose]] passes t1Distinct's projection so the full corpus
    * is not re-aggregated a second time for a mapping it already holds.
    */
  def attachMembersVia(t1: DataFrame, repMapping: DataFrame, repsBySha: DataFrame): DataFrame = {
    val docRep = t1.select(col("doc_id"), col("content_sha256"))
      .join(repsBySha, "content_sha256")
    docRep
      .join(repMapping.withColumnRenamed("doc_id", "rep"), Seq("rep"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("rep")).as("cluster_id"))
  }
}
