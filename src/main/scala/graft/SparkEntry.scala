package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.conf.DedupConfig
import graft.extra.{Similarity, TextOps, TrainPrep}
import graft.ingest.Ingest

/** Driver contract — see SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (and the training-data
  * extras) gets a `queries` entry; SQL-expressible ones also get a DuckDB
  * oracle in [[oracleSql]]. Column names are aligned 1:1 between the Spark
  * query and the oracle SQL (the driver's compare sorts columns by name).
  */
object SparkEntry {

  private val cfg = DedupConfig.default

  private def docsT1(spark: SparkSession, sfDir: String): DataFrame =
    Ingest.ingest(Ingest.corpusFromDocuments(spark, sfDir))
      // documents.parquet is a single small file = one scan partition;
      // spread so the typed kernels parallelize
      .repartition(spark.sparkContext.defaultParallelism * 2)

  // Eight queries expose stages of the SAME pipeline run; memoize the lazy
  // Result per (session, input) so the driver's Verify/Bench loops don't
  // rebuild the persisted t1/signature/band trees once per query.
  private val pipelines = new SessionMemo[String, DedupPipeline.Result](r => {
    r.release(); r.t1.unpersist(false)
  })

  private def pipeline(spark: SparkSession, sfDir: String): DedupPipeline.Result =
    pipelines(spark, sfDir)(DedupPipeline.run(spark, docsT1(spark, sfDir), cfg))

  /** Shared preamble of the two exact-Jaccard surfaces: the memoized
    * pipeline result plus the sha-distinct reps' shingle arrays. The
    * shingle table is memoized per (session, input) with a persisted
    * DataFrame — dedup_exact_jaccard and dedup_cand_jaccard otherwise each
    * re-ran the ingest + sha-distinct + tokenize/shingle kernel.
    */
  private val shingles = new SessionMemo[String, DataFrame](_.unpersist(blocking = false))

  private def repShingles(s: SparkSession, d: String): (DedupPipeline.Result, DataFrame) = {
    val sh = shingles(s, d)(DedupPipeline.shingled(
      s, DedupPipeline.distinctByContent(docsT1(s, d)), cfg).persist())
    (pipeline(s, d), sh)
  }

  /** Original document id recovered from the canonical path ('doc/<id>') —
    * lets DuckDB oracles reproduce pipeline outputs in the documents table's
    * own id space (the engine's doc_id is xxhash64(repo,path,commit), which
    * DuckDB cannot compute).
    */
  private def origId(c: Column): Column = substring(c, 5, 100).cast("long")

  /** A cluster assignment (engine doc_id → cluster_id) relabeled into
    * original-id space: cluster_id = min original doc_id of the component
    * (same convention as the engine: min member id). `t1` supplies the
    * engine-id → path mapping.
    */
  private def relabelOrig(clusters: DataFrame, t1: DataFrame): DataFrame = {
    val m = t1.select(col("doc_id"), origId(col("path")).as("orig"))
    val j = clusters.join(m, "doc_id")
    val lbl = j.groupBy("cluster_id").agg(min(col("orig")).as("cl"))
    j.join(lbl, "cluster_id").select(col("orig").as("doc_id"), col("cl").as("cluster_id"))
  }

  private def origClusters(res: DedupPipeline.Result): DataFrame =
    relabelOrig(res.clusters, res.t1)

  // ONE shutdown hook draining the temp-dir list (a hook per build was
  // unbounded across many sfDirs/sessions)
  private val incrTmpDirs =
    java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
  private lazy val incrHookOnce: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val ch = f.listFiles(); if (ch != null) ch.foreach(rm); f.delete(); ()
      }
      incrTmpDirs.forEach(d => rm(new java.io.File(d)))
    }))
  }

  private def deleteOnExit(dir: String): Unit = {
    incrHookOnce
    incrTmpDirs.add(dir)
    ()
  }

  private def buildIncrState(spark: SparkSession, sfDir: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-incr-state").toString
    deleteOnExit(dir)
    // Tuned CHILD session (shared SparkContext, own SQL conf): these driver
    // batches are ~1.2k docs each, so the wall is FIXED per-job cost, not
    // compute — AQE's per-stage materialization jobs and 32-way exchanges
    // of near-empty partitions are pure overhead at this batch size
    // (measured: 41 s → 25 s for the 4-batch build). Execution-strategy
    // only: state rows are identical, and the semantics suites
    // (StreamingSpec) still run processBatch under default sessions. A
    // production stream sizes these knobs by micro-batch volume; AQE earns
    // its cost back once a batch is large enough to skew.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    val base = s2.read.parquet(s"$sfDir/documents.parquet")
    def slice(i: Int): DataFrame =
      Ingest.documentsToCorpus(base.where(pmod(col("doc_id"), lit(4)) === i))
        // single-file scan = one partition; spread before the kernels
        .repartition(8)
    val I = graft.streaming.IncrementalDedup
    I.processBatch(s2, slice(0), dir, cfg)
    I.processBatch(s2, slice(1), dir, cfg)
    I.processBatch(s2, slice(2), dir, cfg)
    I.compactState(s2, dir) // merges 0–1 into base gen-1, keeps 2
    require(new java.io.File(s"$dir/docs/batch=-1").exists(),
      "driver-path compaction was a no-op — the incr oracle would stop covering the base")
    I.processBatch(s2, slice(3), dir, cfg)
    dir
  }

  private val incrStates = new SessionMemo[String, String](_ => ())

  /** Incremental-engine state for the driver loop: the corpus fed through
    * [[graft.streaming.IncrementalDedup.processBatch]] in FOUR
    * deterministic splits (original doc_id mod 4) with a MID-STREAM
    * [[graft.streaming.IncrementalDedup.compactState]] after batch 2, so
    * the driver-checked path really exercises batch appends, the
    * generational base AND a post-compaction append. Four batches, not
    * three: compaction always excludes the newest committed batch (the
    * streaming-replay guarantee), so with only two committed batches it is
    * a provable NO-OP — three committed batches is the minimum that
    * actually merges something (base over 0–1, batch 2 preserved, batch 3
    * appended after). `incr_clusters` / `incr_cluster_stats` are then
    * oracled by the SAME recursive-CTE twin as the batch queries, putting
    * incremental ≡ batch under the driver's independent DuckDB check
    * (round-3 VERDICT item #1). Engine doc_ids are xxhash64(repo, path,
    * commit) of the same canonical corpus rows the batch path ingests —
    * the projection is SHARED ([[Ingest.documentsToCorpus]]), not
    * duplicated, so the id spaces cannot silently drift apart. Memoized
    * per (session, sfDir): the state build is the expensive part and is
    * shared by both queries (Bench attributes it to its own `incr_build`
    * entry). Eviction releases nothing: a query may still be reading an
    * evicted dir, so every temp dir is deleted by the shutdown hook only.
    */
  private def incrState(spark: SparkSession, sfDir: String): String =
    incrStates(spark, sfDir)(buildIncrState(spark, sfDir))

  // incr_clusters and incr_cluster_stats both need the SAME relabeled
  // cluster assignment over the incremental state — without sharing, each
  // query re-reads the whole state, re-runs CC and re-relabels (~2 s of
  // identical work per query at sf0.1). In-session reuse only, always
  // computed from the parquet state of THIS run.
  private val incrClusters = new SessionMemo[String, DataFrame](_.unpersist(blocking = false))

  private def incrClustersOrig(s: SparkSession, d: String): DataFrame =
    incrClusters(s, d)(relabelOrig(
      graft.streaming.IncrementalDedup.clusters(s, incrState(s, d), cfg),
      docsT1(s, d)).persist())

  /** Shared DuckDB oracle fragment: the SQL-expressible twin of the dedup
    * core (SURVEY §2 row 11's "SQL-only shingle twin"), mirroring ALL THREE
    * verified edge types of the pipeline:
    *  - `jac`/`rjac`: token 5-shingles over split(lower(text),
    *    /[^a-z0-9_]+/), exact Jaccard by shingle self-join, dup edges at
    *    integer-exact 10·|∩| ≥ 7·|∪| (τ=0.7), restricted to sha-reps for
    *    `rjac` (the pipeline runs LSH over reps only);
    *  - `sfx`: suffix-containment edges — rep docs sharing a 50-token gram
    *    whose doc frequency is in [2, suffixDfMax=64]; with STRING grams,
    *    sharing a 50-gram ⟺ common substring ≥ 50 tokens, exactly the
    *    pipeline's rule (which needs the suffix-array check only to reject
    *    its rolling-HASH collisions);
    *  - `exact_star`: rep→member star edges over identical text.
    * Clusters come from a recursive CTE over the union (cluster_id = min
    * member id). Residual margin vs the pipeline (documented in CLAUDE.md):
    * est-Jaccard vs exact Jaccard near τ, Hamming-only-verified pairs, and
    * gram-hash collisions — all empirically absent at sf0.01 and
    * deterministic there.
    */
  private val tokShCte: String =
    """toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), t -> t <> '') AS tk
      |  FROM documents
      |), sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(tk)-3), i -> array_to_string(tk[i:i+4], ' '))) AS shingles
      |  FROM toks WHERE len(tk) >= 5
      |), ex AS (
      |  SELECT doc_id, unnest(shingles) AS s FROM sh
      |)""".stripMargin

  private val dupCte: String =
    tokShCte + """, nsh AS (
      |  SELECT doc_id, len(shingles)::BIGINT AS n FROM sh
      |), inter AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
      |  FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2
      |), jac AS (
      |  SELECT a, b, i AS inter, na.n + nb.n - i AS uni
      |  FROM inter JOIN nsh na ON na.doc_id = a JOIN nsh nb ON nb.doc_id = b
      |), reps AS (
      |  SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS rep FROM documents
      |), rjac AS (
      |  SELECT a, b FROM jac
      |  JOIN reps ra ON ra.doc_id = a AND ra.rep = a
      |  JOIN reps rb ON rb.doc_id = b AND rb.rep = b
      |  WHERE 10*inter >= 7*uni
      |), ex50 AS (
      |  SELECT t.doc_id, unnest(list_distinct(list_transform(range(1, len(tk)-48), i -> array_to_string(tk[i:i+49], ' ')))) AS g
      |  FROM toks t JOIN reps r ON r.doc_id = t.doc_id AND r.rep = t.doc_id
      |  WHERE len(tk) >= 50
      |), gkeep AS (
      |  SELECT g FROM ex50 GROUP BY g HAVING count(*) BETWEEN 2 AND 64
      |), sfx AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b
      |  FROM ex50 x JOIN ex50 y ON x.g = y.g AND x.doc_id < y.doc_id
      |  JOIN gkeep k ON k.g = x.g
      |  GROUP BY 1, 2
      |), exact_star AS (
      |  SELECT rep AS a, doc_id AS b FROM reps WHERE doc_id <> rep
      |), vedges AS (
      |  SELECT a, b FROM rjac UNION SELECT a, b FROM sfx UNION SELECT a, b FROM exact_star
      |), edges AS (
      |  SELECT a, b FROM vedges UNION ALL SELECT b AS a, a AS b FROM vedges
      |), reach(id, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.b, reach.r FROM edges e JOIN reach ON reach.id = e.a
      |), cl AS (
      |  SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
      |)""".stripMargin.replaceAll("\\s+", " ")

  /** Doc-frequency cap for the SQL Jaccard twin's shingle universe. An
    * uncapped shingle self-join is quadratic in the doc frequency of
    * boilerplate shingles (k docs sharing a shingle → k² join rows) — the
    * same hot-key blowup the real pipeline bounds with stop-bands and the
    * suffix pass's gram df-cap. The twin's semantics are therefore
    * "exact Jaccard over the rare-shingle universe": shingles with
    * df ≤ cap define the universe (df=1 still counts toward the union
    * denominator), and only df ∈ [2, cap] shingles enter the pair join.
    * Applied identically on the Spark side and in [[jacCte]], so the twin
    * stays value-exact by construction.
    */
  private val JaccardDfCap = 64

  /** DuckDB twin of `dedup_jaccard_sql` (df-capped — see [[JaccardDfCap]]). */
  private val jacCte: String =
    (tokShCte + s""", freq AS (
      |  SELECT s, count(*) AS df FROM ex GROUP BY s
      |), exk AS (
      |  SELECT doc_id, s, df FROM ex JOIN freq USING (s) WHERE df <= $JaccardDfCap
      |), nshc AS (
      |  SELECT doc_id, count(*)::BIGINT AS n FROM exk GROUP BY doc_id
      |), exj AS (
      |  SELECT doc_id, s FROM exk WHERE df >= 2
      |), interc AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
      |  FROM exj x JOIN exj y ON x.s = y.s AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2
      |), jacc AS (
      |  SELECT a, b, i AS inter, na.n + nb.n - i AS uni
      |  FROM interc JOIN nshc na ON na.doc_id = a JOIN nshc nb ON nb.doc_id = b
      |)""").stripMargin.replaceAll("\\s+", " ")

  /** Force-build (and memoize) the shared batch pipeline for `sfDir`.
    * Bench times this as its own `pipeline_build` entry so the per-stage
    * query numbers are attributable instead of cost-shifting the rebuild
    * onto the first alphabetical consumer (round-3 VERDICT "wrong" #3).
    * Counts both persisted trees (clusters + candidates) so every stage
    * query afterwards reads warm caches.
    */
  def prewarmPipeline(spark: SparkSession, sfDir: String): Long = {
    val res = pipeline(spark, sfDir)
    res.candidatePairs.count() + res.clusters.count()
  }

  /** Force-build (and memoize) the incremental-engine state for `sfDir`
    * (FOUR processBatch calls with one mid-stream compactState after the
    * third — the post-compaction append is part of the covered surface, see
    * [[buildIncrState]]) — Bench's `incr_build` entry, for the same
    * attribution reason.
    */
  def prewarmIncremental(spark: SparkSession, sfDir: String): Long = {
    incrState(spark, sfDir)
    1L
  }

  /** Flagship: top duplicate clusters over the documents corpus. */
  def entry(spark: SparkSession): DataFrame = {
    val res = pipeline(spark, "/root/testdata/sf0.001")
    res.clusterStats.orderBy(col("size").desc, col("cluster_id")).limit(100)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- near-dup pipeline stages (SURVEY §2.3-2.6) ----
    // Clusters/members/stats run the REAL pipeline (LSH + verify + CC) and
    // are relabeled into original-id space so the DuckDB recursive-CTE
    // oracle can check them value-exactly.
    "dedup_clusters" -> ((s, d) => origClusters(pipeline(s, d)).orderBy("doc_id")),
    "dedup_cluster_stats" -> ((s, d) => {
      val res = pipeline(s, d)
      val src = res.t1.select(origId(col("path")).as("doc_id"), col("repo"))
      origClusters(res).join(src, "doc_id")
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("size"), countDistinct(col("repo")).as("n_repos"))
        .orderBy("cluster_id")
    }),
    // ---- incremental engine, driver-oracled (SURVEY §2.8 rows 41/44):
    // clusters over the APPEND-ONLY streaming state (4 batches + mid-stream
    // compaction, see incrState) must equal the batch answer — checked by
    // the very same DuckDB recursive-CTE twin as dedup_clusters/stats.
    "incr_clusters" -> ((s, d) => incrClustersOrig(s, d).orderBy("doc_id")),
    "incr_cluster_stats" -> ((s, d) => {
      val cl = incrClustersOrig(s, d)
      val src = docsT1(s, d).select(origId(col("path")).as("doc_id"), col("repo"))
      cl.join(src, "doc_id")
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("size"), countDistinct(col("repo")).as("n_repos"))
        .orderBy("cluster_id")
    }),
    "dedup_signatures" -> ((s, d) =>
      pipeline(s, d).signatures.select("doc_id", "simhash", "n_shingles").orderBy("doc_id")),
    // the kernel's tokenize→5-shingle→distinct COUNT, cross-checked against
    // DuckDB's string-shingle count (hash-collision margin ≈ 0, documented)
    "dedup_shingle_counts" -> ((s, d) => {
      val res = pipeline(s, d)
      val m = res.t1.select(col("doc_id"), origId(col("path")).as("orig"))
      res.signatures.join(m, "doc_id")
        .select(col("orig").as("doc_id"), col("n_shingles").cast("long").as("n_shingles"))
        .orderBy("doc_id")
    }),
    "dedup_bands" -> ((s, d) => pipeline(s, d).bands.orderBy("doc_id", "band")),
    "dedup_candidate_pairs" -> ((s, d) =>
      pipeline(s, d).candidatePairs.orderBy("a", "b")),

    // ---- corpus hygiene filter (SURVEY §2 row 7, Q/sql) ----
    "corpus_filter" -> ((s, d) =>
      Ingest.corpusFilter(docsT1(s, d), langs = Seq("en"), minBytes = 100, maxBytes = 400)
        .select("path").orderBy("path")),

    // ---- exact Jaccard on shingle arrays (row 25) + capped members (row 36) ----
    // Integer (inter, uni) over the VERIFIED LSH pair set, original-id
    // space — DuckDB-oracled by the dupCte's jac/rjac branch minus suffix
    // pairs (collapse priority routes a pair that is both to src='suffix').
    // Value equality rests on the measured sf0.01 margins: est-vs-exact
    // separation at τ, no hamming-only-verified pairs, no shingle-hash
    // collisions (all asserted by scripts/oracle_faithfulness_check.sh),
    // plus exact_dup_groups = 0 (so engine reps ≡ oracle reps — with
    // identical-content groups the two engines pick different rep ids and
    // only cluster-level comparison is meaningful, as the dedup-core
    // oracles do).
    "dedup_exact_jaccard" -> ((s, d) => {
      val (res, sh) = repShingles(s, d)
      val pairs = res.verifiedPairs.where(col("src").isin("minhash", "simhash"))
        .select("a", "b")
      val m = res.t1.select(col("doc_id"), origId(col("path")).as("orig"))
      verify.Verifier.exactJaccard(pairs, sh)
        .join(m.select(col("doc_id").as("a"), col("orig").as("oa")), "a")
        .join(m.select(col("doc_id").as("b"), col("orig").as("ob")), "b")
        .select(least(col("oa"), col("ob")).as("a"),
          greatest(col("oa"), col("ob")).as("b"), col("inter"), col("uni"))
        .orderBy("a", "b")
    }),
    // Margin-probe surface: exact integer Jaccard over ALL LSH candidate
    // pairs (pre-verify — sub-τ candidates included). This is what the
    // est-vs-exact margin rests on (scripts/oracle_faithfulness_check.sh
    // asserts no candidate sits in the (0.1, 0.875) gap); inherently
    // LSH-candidate-dependent → rows-only, no SQL oracle.
    "dedup_cand_jaccard" -> ((s, d) => {
      val (res, sh) = repShingles(s, d)
      verify.Verifier.exactJaccard(
        res.candidatePairs.where(col("src").isin("minhash", "simhash")).select("a", "b"), sh)
        .select("a", "b", "inter", "uni")
        .orderBy("a", "b")
    }),
    "cluster_members" -> ((s, d) =>
      // stringified capped member sample (a raw array column crashes the
      // driver's pandas compare and has no stable hash), original-id space
      origClusters(pipeline(s, d))
        .groupBy("cluster_id")
        .agg(concat_ws(",", slice(sort_array(collect_list(col("doc_id"))), 1, 20))
            .as("sample_members"),
          count(lit(1)).as("size"))
        .orderBy("cluster_id")),

    // ---- SQL-expressible dedup-core twin (SURVEY §2 rows 11/18/25 Q/sql):
    // shingle → df-cap → shingle-equality pair-gen → integer-exact Jaccard
    // over the rare-shingle universe (see JaccardDfCap — the uncapped join
    // is quadratic in boilerplate-shingle doc frequency). Same relational
    // math on both sides, so the DuckDB oracle is value-exact.
    "dedup_jaccard_sql" -> ((s, d) => {
      import s.implicits._
      // typed kernel instead of array_distinct(transform(slice(...))):
      // higher-order array expressions are INTERPRETED per element and this
      // string-shingle construction dominated the query's runtime (it was
      // the most expensive entry of the whole bench); the loop below emits
      // the exploded (doc_id, shingle) pairs directly. Values are identical
      // to the DuckDB twin's array_to_string(tk[i:i+k], ' ') construction.
      val k = cfg.shingleK
      val ex = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text"))
        // single small parquet file = one scan partition: spread before the
        // typed kernel or the hot shingling loop runs on one core
        .repartition(s.sparkContext.defaultParallelism * 2)
        .as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, text) =>
          if (text == null) Iterator.empty
          else {
            val tk = text.toLowerCase(java.util.Locale.ROOT)
              .split("[^a-z0-9_]+").filter(_.nonEmpty)
            if (tk.length < k) Iterator.empty
            else {
              val set = new java.util.HashSet[String]()
              var i = 0
              while (i + k <= tk.length) { set.add(tk.slice(i, i + k).mkString(" ")); i += 1 }
              scala.jdk.CollectionConverters.IteratorHasAsScala(set.iterator()).asScala
                .map(sh => (id, sh))
            }
          }
        }).toDF("doc_id", "s")
      // df per shingle via one window over the shingle-partitioned shuffle
      // (the self-join below then reuses that partitioning); universe =
      // df ≤ cap, and only df ≥ 2 shingles can produce a pair, so the
      // self-join input also drops the (dominant) unique-shingle mass
      val exF = ex.withColumn("df",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("s")))
      // the capped shingle table feeds THREE subtrees (both self-join sides
      // + the per-doc counts, which the joins consume twice) and neither
      // ReuseExchange nor AQE collapses the duplicated typed kernel+window
      // pipeline — without the checkpoint the tokenize/shingle kernel ran
      // FOUR times per query (same finding and fix as the suffix pass's
      // candidate checkpoint, whose plan shape PlanSpec guards)
      val exK = exF.where(col("df") <= JaccardDfCap).localCheckpoint(false)
      val n = exK.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val exJ = exK.where(col("df") >= 2).select("doc_id", "s")
      val inter = exJ.as("x").join(exJ.as("y"),
          col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(n.select(col("doc_id").as("a"), col("n").as("na")), "a")
        .join(n.select(col("doc_id").as("b"), col("n").as("nb")), "b")
        .select(col("a"), col("b"), col("inter"),
          (col("na") + col("nb") - col("inter")).as("uni"))
        .withColumn("is_dup",
          (col("inter") * 10 >= col("uni") * 7).cast("int"))
        .orderBy("a", "b")
    }),

    // ---- first-story / novelty detection (the reference's headline
    // capability, [P-FSD]): documents with NO verified near-dup neighbor —
    // one left_anti join over the pipeline's verified edge set.
    "first_stories" -> ((s, d) => {
      val res = pipeline(s, d)
      DedupPipeline.firstStories(res)
        .join(res.t1.select("doc_id", "path"), "doc_id")
        .select(origId(col("path")).as("doc_id"))
        .orderBy("doc_id")
    }),

    // per-doc novelty degree: how many verified near-dup neighbors each doc
    // has (0 = first story) — the per-doc view of the novelty operator
    "novelty_scores" -> ((s, d) => {
      val res = pipeline(s, d)
      val deg = res.verifiedPairs.select(col("a").as("doc_id"))
        .unionByName(res.verifiedPairs.select(col("b").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("n_neighbors"))
      res.t1.select(col("doc_id"), origId(col("path")).as("orig"))
        .join(deg, Seq("doc_id"), "left")
        .select(col("orig").as("doc_id"),
          coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"),
          (coalesce(col("n_neighbors"), lit(0L)) === 0).cast("int").as("is_first_story"))
        .orderBy("doc_id")
    }),

    // ---- ingest / exact dedup (Q/sql) ----
    "doc_sha256" -> ((s, d) =>
      s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), sha2(col("text"), 256).as("sha"),
          length(col("text")).cast("long").as("len_chars"))
        .orderBy("doc_id")),
    "exact_dup_groups" -> ((s, d) =>
      s.read.parquet(s"$d/documents.parquet")
        .groupBy(sha2(col("text"), 256).as("sha"))
        .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("rep"))
        .where(col("cnt") > 1)
        .orderBy("sha")),
    // Non-vacuous twin of exact_dup_groups: sf0.01 has zero byte-identical
    // texts, so group on a normalized key (40-char prefix) that DOES collide
    // — same groupBy-dedup operator, driver row proves real grouping work.
    "norm_dup_groups" -> ((s, d) =>
      s.read.parquet(s"$d/documents.parquet")
        .groupBy(substring(col("text"), 1, 40).as("prefix40"))
        .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("rep"))
        .where(col("cnt") > 1)
        .orderBy("prefix40")),

    // ---- text analysis (Q/sql) ----
    "text_token_counts" -> ((s, d) => TextOps.tokenCounts(s, d)),
    "text_quality" -> ((s, d) => TextOps.qualityScores(s, d)),
    "text_lang_id" -> ((s, d) => TextOps.langId(s, d)),
    "text_fingerprints" -> ((s, d) => TextOps.fingerprints(s, d)),

    // ---- training-set prep (Q/sql; all integer/string outputs) ----
    // deterministic salted-md5 train/val/test assignment (bucket 0..255)
    "train_split" -> ((s, d) => TrainPrep.splitAssign(s, d)),
    // token-budget shard packing via the two-phase distributed prefix sum
    // (the DuckDB twin uses the single-window form the engine must NOT plan)
    "pack_shards" -> ((s, d) => TrainPrep.packShards(s, d)),
    "shard_stats" -> ((s, d) => TrainPrep.shardStats(s, d)),
    // k lowest salted-hash docs per lang — exact quota, reproducible
    "sample_stratified" -> ((s, d) => TrainPrep.stratifiedSample(s, d)),

    // ---- embeddings / similarity ----
    "emb_dims" -> ((s, d) =>
      Similarity.embeddings(s, d)
        .select(col("vec_id"), size(col("embedding")).cast("long").as("dim"))
        .orderBy("vec_id")),
    "emb_profile" -> ((s, d) => Similarity.profile(s, d)),
    // float-free projection (query_id, neighbor_id, rank) so DuckDB can
    // oracle the exact-cosine ground truth; the cos column itself is
    // engine-precision-dependent (DuckDB computes in float32) but the RANK
    // is stable: min adjacent-cosine gap in the top-k at sf0.01 is ~2e-5
    // vs ~3e-8 cross-engine cosine error (measured; documented margin)
    "ann_topk_brute" -> ((s, d) =>
      Similarity.bruteForceTopK(s, d).select("query_id", "neighbor_id", "rank")),
    // the scale-safe config (8 tables × 8-bit blocks, query-side
    // multi-probe, ≈28% corpus candidates/query) is now the lshTopK
    // DEFAULT; kept explicit here so the contract pins the config even if
    // the default ever moves
    "ann_topk_lsh" -> ((s, d) => Similarity.lshTopK(s, d, tables = 8, multiProbe = true)),
    // integer overlap@k of the LSH path vs the oracled brute-force ground
    // truth — rows-only (probe-dependent), but the number is tracked in
    // every round's artifacts; SimilaritySpec asserts the recall floor
    "ann_lsh_recall" -> ((s, d) => Similarity.lshRecall(s, d)),
    // same integer recall surface for the IVF path (round-4 VERDICT item 4):
    // exactness is oracled by ann_topk_ivf; QUALITY under the default
    // nlist/nprobe sizing is tracked here
    "ann_ivf_recall" -> ((s, d) => Similarity.ivfRecall(s, d)),
    // float-free projection (ann_topk_brute precedent) — the IVF path is
    // fully deterministic (√n lowest-id init, one Lloyd step, fixed
    // probes), so a DuckDB twin is expressible; value equality rests on
    // MEASURED margins at sf0.01: min assignment gap 6.2e-5, min
    // probe-boundary gap 2.5e-3, min top-k rank gap 1.9e-5 — all ≫ the
    // ~3e-8 cross-engine cosine error, and float32-rounded vs
    // double-precision Lloyd centroids give identical assignments/probes
    "ann_topk_ivf" -> ((s, d) =>
      Similarity.ivfTopK(s, d).select("query_id", "neighbor_id", "rank")),
    // embeddingDupClusters itself ends with orderBy(vec_id)
    "emb_dup_clusters" -> ((s, d) => Similarity.embeddingDupClusters(s, d)),

    // ---- multimodal binary-column plumbing (decode stubbed; rows-only) ----
    "mm_decode" -> ((s, d) =>
      extra.Multimodal.decode(s, extra.Multimodal.assets(s, d)).toDF().orderBy("asset_id")),
    "mm_frames" -> ((s, d) =>
      // frame sampling: n_frames is pure arithmetic over the payload length,
      // so DuckDB can check the strided-window kernel end-to-end
      extra.Multimodal.frameSample(s, extra.Multimodal.assets(s, d)).toDF()
        .select(col("asset_id"), col("n_frames"))
        .orderBy("asset_id")),
    "mm_resize" -> ((s, d) =>
      // box-fit resize in pure integer math (binding dim by
      // cross-multiplication, floor division) — exactly reproducible by the
      // DuckDB twin from the asset construction rule; the pixel resample is
      // the documented codec stub, the binary re-encode flow is real
      extra.Multimodal.resize(s, extra.Multimodal.assets(s, d)).toDF()
        .select(col("asset_id"), col("kind"), col("width"), col("height"),
          col("out_width"), col("out_height"), col("n_bytes_out"))
        .orderBy("asset_id")),
    "mm_features" -> ((s, d) =>
      // scalar digest per row (raw float arrays crash the driver compare)
      extra.Multimodal.features(s, extra.Multimodal.assets(s, d)).toDF()
        .select(col("asset_id"), size(col("embedding")).cast("long").as("dim"),
          xxhash64(to_json(struct(col("embedding")))).as("emb_digest"))
        .orderBy("asset_id")),

    // ---- relational operator surface (SURVEY §2.7, all Q/sql) ----
    "q_agg_pricing" -> ((s, d) =>
      s.read.parquet(s"$d/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_price_cents"))
        .orderBy("l_returnflag", "l_linestatus")),
    "q_filter_pushdown" -> ((s, d) =>
      s.read.parquet(s"$d/lineitem.parquet")
        .where(col("l_shipdate") >= lit("1995-01-01") && col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")),
    "q_join_agg" -> ((s, d) => {
      val orders = s.read.parquet(s"$d/orders.parquet")
      val cust = s.read.parquet(s"$d/customer.parquet")
      val nation = s.read.parquet(s"$d/nation.parquet")
      orders.join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
        .orderBy("n_name")
    }),
    // TPC-H Q9-shaped 5-table join exercising part/supplier/region: all
    // dimension sides are small → broadcast; revenue in integer
    // cent·percent units so the oracle hash is float-free.
    "q_join5_region" -> ((s, d) => {
      val li = s.read.parquet(s"$d/lineitem.parquet")
      val part = s.read.parquet(s"$d/part.parquet").where(col("p_size") <= 20)
      val supp = s.read.parquet(s"$d/supplier.parquet")
      val nation = s.read.parquet(s"$d/nation.parquet")
      val region = s.read.parquet(s"$d/region.parquet")
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_items"),
          sum(round(col("l_extendedprice") * 100).cast("long")
            * (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_c4"))
        .orderBy("r_name", "n_name")
    }),
    "q_topk" -> ((s, d) =>
      s.read.parquet(s"$d/orders.parquet")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)),
    "q_window_rank" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      s.read.parquet(s"$d/orders.parquet")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
        .orderBy("o_custkey", "rn")
    }),
    "q_semi_join" -> ((s, d) => {
      val cust = s.read.parquet(s"$d/customer.parquet")
      val orders = s.read.parquet(s"$d/orders.parquet")
      cust.join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey").orderBy("c_custkey")
    }),
    "q_anti_join" -> ((s, d) => {
      val cust = s.read.parquet(s"$d/customer.parquet")
      val orders = s.read.parquet(s"$d/orders.parquet")
      // "no big-ticket order" — every customer has *some* order in this
      // data, so anti-join on the bare key would be vacuously empty.
      cust.join(orders.where(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey").orderBy("c_custkey")
    }),
    "q_distinct_agg" -> ((s, d) =>
      s.read.parquet(s"$d/orders.parquet")
        .groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("nd_cust"))
        .orderBy("o_orderstatus")),
    // pivot (wide conditional aggregation) with pinned value columns —
    // deterministic schema, expressible as FILTERed counts in DuckDB
    "q_pivot" -> ((s, d) =>
      s.read.parquet(s"$d/orders.parquet")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("F"),
          coalesce(col("O"), lit(0L)).as("O"),
          coalesce(col("P"), lit(0L)).as("P"))
        .orderBy("o_orderpriority")),
    "q_intersect" -> ((s, d) => {
      val rich = s.read.parquet(s"$d/customer.parquet")
        .where(col("c_acctbal") > 9000).select(col("c_custkey"))
      val haveBig = s.read.parquet(s"$d/orders.parquet")
        .where(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("c_custkey"))
      rich.intersect(haveBig).orderBy("c_custkey")
    }),
    "q_set_except" -> ((s, d) => {
      val rich = s.read.parquet(s"$d/customer.parquet")
        .where(col("c_acctbal") > 9000).select(col("c_custkey"))
      val haveBig = s.read.parquet(s"$d/orders.parquet")
        .where(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("c_custkey"))
      rich.except(haveBig).orderBy("c_custkey")
    }),
    "q_rollup" -> ((s, d) =>
      s.read.parquet(s"$d/orders.parquet")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"), col("n"))
        .orderBy("status", "prio")),
    "q_cube" -> ((s, d) =>
      s.read.parquet(s"$d/orders.parquet")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          col("n"), col("sum_cents"))
        .orderBy("status", "prio")),
    // explicit GROUPING SETS (distinct from rollup/cube lattices), via the
    // SQL entry point — exercises spark.sql over a registered view
    "q_grouping_sets" -> ((s, d) => {
      s.read.parquet(s"$d/orders.parquet").createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS prio,
               count(*) AS n
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        ORDER BY status, prio""")
    }),
    "q_events_hourly" -> ((s, d) =>
      s.read.parquet(s"$d/events.parquet")
        // ts is TIMESTAMP_NTZ in the parquet: cast to session-TZ (UTC)
        // timestamp first, then to epoch seconds — matches DuckDB's epoch().
        .groupBy(window(col("ts"), "1 hour").getField("start")
          .cast("timestamp").cast("long").as("hour_ts"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("sum_value_cents"))
        .orderBy("hour_ts", "event_type")),
    "q_approx_distinct" -> ((s, d) =>
      s.read.parquet(s"$d/lineitem.parquet")
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
          count(lit(1)).as("n"))),
  )

  // DuckDB note: sum(BIGINT) yields HUGEINT, which pandas materializes as
  // float64 and the driver's hash compare then mismatches Spark's int64 even
  // when every value is equal — hence the outer CAST(... AS BIGINT) around
  // every summed column below.
  def oracleSql: Map[String, String] = Map(
    "dedup_jaccard_sql" ->
      s"WITH $jacCte SELECT a, b, inter, uni, CAST(10*inter >= 7*uni AS INTEGER) AS is_dup FROM jacc ORDER BY a, b",
    "dedup_clusters" ->
      s"WITH RECURSIVE $dupCte SELECT doc_id, cluster_id FROM cl ORDER BY doc_id",
    "dedup_shingle_counts" ->
      s"WITH RECURSIVE $dupCte SELECT d.doc_id, CAST(coalesce(len(s.shingles), 0) AS BIGINT) AS n_shingles FROM documents d JOIN reps r ON r.doc_id = d.doc_id AND r.rep = d.doc_id LEFT JOIN sh s ON s.doc_id = d.doc_id ORDER BY d.doc_id",
    "dedup_cluster_stats" ->
      s"WITH RECURSIVE $dupCte SELECT cluster_id, count(*) AS size, count(DISTINCT source) AS n_repos FROM cl JOIN documents USING (doc_id) GROUP BY 1 ORDER BY 1",
    // incremental ≡ batch: the SAME recursive-CTE twins oracle the
    // streaming-state queries — the driver independently proves the
    // append-only incremental path lands on the batch answer
    "incr_clusters" ->
      s"WITH RECURSIVE $dupCte SELECT doc_id, cluster_id FROM cl ORDER BY doc_id",
    "incr_cluster_stats" ->
      s"WITH RECURSIVE $dupCte SELECT cluster_id, count(*) AS size, count(DISTINCT source) AS n_repos FROM cl JOIN documents USING (doc_id) GROUP BY 1 ORDER BY 1",
    "dedup_exact_jaccard" ->
      s"WITH RECURSIVE $dupCte SELECT j.a, j.b, j.inter, j.uni FROM jac j JOIN reps ra ON ra.doc_id = j.a AND ra.rep = j.a JOIN reps rb ON rb.doc_id = j.b AND rb.rep = j.b WHERE 10*j.inter >= 7*j.uni AND NOT EXISTS (SELECT 1 FROM sfx s WHERE s.a = j.a AND s.b = j.b) ORDER BY j.a, j.b",
    "cluster_members" ->
      s"WITH RECURSIVE $dupCte SELECT cluster_id, array_to_string(list_sort(list(doc_id))[1:20], ',') AS sample_members, count(*) AS size FROM cl GROUP BY 1 ORDER BY 1",
    "first_stories" ->
      s"WITH RECURSIVE $dupCte SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT a FROM vedges UNION SELECT b FROM vedges) ORDER BY doc_id",
    "norm_dup_groups" ->
      "SELECT substr(text, 1, 40) AS prefix40, count(*) AS cnt, min(doc_id) AS rep FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY prefix40",
    "novelty_scores" ->
      s"WITH RECURSIVE $dupCte, deg AS (SELECT a AS doc_id FROM vedges UNION ALL SELECT b FROM vedges) SELECT d.doc_id, count(deg.doc_id) AS n_neighbors, CAST(count(deg.doc_id) = 0 AS INTEGER) AS is_first_story FROM documents d LEFT JOIN deg ON d.doc_id = deg.doc_id GROUP BY d.doc_id ORDER BY d.doc_id",
    "q_grouping_sets" ->
      "SELECT coalesce(o_orderstatus, 'ALL') AS status, coalesce(o_orderpriority, 'ALL') AS prio, count(*) AS n FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority)) ORDER BY status, prio",
    "q_join5_region" ->
      "SELECT r_name, n_name, count(*) AS n_items, CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS rev_c4 FROM lineitem JOIN part ON l_partkey = p_partkey JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey WHERE p_size <= 20 GROUP BY 1, 2 ORDER BY 1, 2",
    // lang-ID is a pure column expression on both sides; the stopword lists
    // must stay in lockstep with graft.extra.Stopwords. The scores are exact
    // integer-count divisions, so IEEE doubles compare bit-equal.
    "text_lang_id" ->
      raw"""WITH t AS (SELECT doc_id, lang AS lang_declared, regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents), s AS (SELECT doc_id, lang_declared, len(list_filter(tk, x -> x IN ('the','of','and','a','to','in','is','it','you','that','he','was','for','on','are','with','as','i','his','they'))) * 1.0 / len(tk) AS score_en, len(list_filter(tk, x -> x IN ('der','die','das','und','ist','ich','nicht','ein','eine','zu','mit','auf','für','von','sie','er','wir'))) * 1.0 / len(tk) AS score_de, len(list_filter(tk, x -> x IN ('le','la','les','et','est','je','ne','pas','un','une','de','du','des','que','qui','dans','pour','vous'))) * 1.0 / len(tk) AS score_fr FROM t) SELECT doc_id, lang_declared, CASE WHEN score_en >= score_de AND score_en >= score_fr THEN 'en' WHEN score_de >= score_fr THEN 'de' ELSE 'fr' END AS lang_pred, greatest(score_en, score_de, score_fr) AS confidence FROM s ORDER BY doc_id""",
    // mm_decode round-trips the synthetic binary assets (header encode →
    // kernel decode); every decoded field is derivable from the asset
    // construction rule, so DuckDB can check the full plumbing.
    "mm_decode" ->
      // DuckDB strlen(VARCHAR) is UTF-8 BYTE length (length() is chars;
      // octet_length only accepts BLOB) — it matches the engine's
      // text.getBytes(UTF_8) payload sizing on non-ASCII too, witnessed by
      // the multibyte doc in scripts/oracle_faithfulness_check.sh
      "SELECT doc_id AS asset_id, CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind, CAST(16 + doc_id % 64 AS INTEGER) AS width, CAST(16 + doc_id % 48 AS INTEGER) AS height, CAST(12 + strlen(text) AS BIGINT) AS n_bytes, true AS valid FROM documents ORDER BY asset_id",
    // resize twin: same integer box-fit rule over the construction dims
    // (w = 16 + id%64, h = 16 + id%48, box 32×32); `//` floors like the
    // kernel's long division, and every branch is integer-only
    "mm_resize" ->
      "WITH a AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind, CAST(16 + doc_id % 64 AS INTEGER) AS w, CAST(16 + doc_id % 48 AS INTEGER) AS h FROM documents), r AS (SELECT doc_id, kind, w, h, CASE WHEN w <= 32 AND h <= 32 THEN w WHEN w * 32 >= h * 32 THEN 32 ELSE greatest(1, (w * 32) // h) END AS ow, CASE WHEN w <= 32 AND h <= 32 THEN h WHEN w * 32 >= h * 32 THEN greatest(1, (h * 32) // w) ELSE 32 END AS oh FROM a) SELECT doc_id AS asset_id, kind, w AS width, h AS height, CAST(ow AS INTEGER) AS out_width, CAST(oh AS INTEGER) AS out_height, CAST(12 + ow * oh AS BIGINT) AS n_bytes_out FROM r ORDER BY asset_id",
    // frames = strided windows over the 12-byte-header-stripped payload:
    // count = min(maxFrames=8, floor((len-frameLen=32)/stride=256)+1)
    "mm_frames" ->
      "SELECT doc_id AS asset_id, CAST(CASE WHEN strlen(text) >= 32 THEN least(8, (strlen(text) - 32) // 256 + 1) ELSE 0 END AS INTEGER) AS n_frames FROM documents ORDER BY asset_id",
    "corpus_filter" ->
      // strlen = BYTES in DuckDB, matching the engine's octet_length n_bytes
      "SELECT 'doc/' || doc_id AS path FROM documents WHERE lang = 'en' AND strlen(text) BETWEEN 100 AND 400 ORDER BY path",
    "doc_sha256" ->
      "SELECT doc_id, sha256(text) AS sha, length(text)::BIGINT AS len_chars FROM documents ORDER BY doc_id",
    "exact_dup_groups" ->
      "SELECT sha256(text) AS sha, count(*) AS cnt, min(doc_id) AS rep FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY sha",
    "text_token_counts" ->
      raw"SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_ws_tokens, len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]'))::BIGINT AS n_bpeish_tokens FROM documents ORDER BY doc_id",
    "text_quality" ->
      raw"SELECT doc_id, length(text)::BIGINT AS n_chars, round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / length(text)::DOUBLE, 4) AS alpha_ratio, round(length(regexp_replace(text, '[^0-9]', '', 'g')) / length(text)::DOUBLE, 4) AS digit_ratio, round(length(regexp_replace(text, '[A-Za-z0-9_\s]', '', 'g')) / length(text)::DOUBLE, 4) AS punct_ratio, round(len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t IN ('the','of','and','a','to','in','is','it','you','that','he','was','for','on','are','with','as','i','his','they'))) * 1.0 / len(regexp_split_to_array(trim(text), '\s+')), 4) AS stopword_ratio FROM documents ORDER BY doc_id",
    // train/val/test twin: DuckDB has no conv(hex,16,10), so the bucket is
    // decoded by hex-digit strpos arithmetic — same value, different spelling
    "train_split" ->
      """WITH h AS (SELECT doc_id, md5(doc_id::VARCHAR || ':graft-split-v1') AS hx FROM documents),
        |b AS (SELECT doc_id, ((strpos('0123456789abcdef', substring(hx, 1, 1)) - 1) * 16
        |  + strpos('0123456789abcdef', substring(hx, 2, 1)) - 1)::BIGINT AS hash_bucket FROM h)
        |SELECT doc_id, hash_bucket,
        |  CASE WHEN hash_bucket < 204 THEN 'train' WHEN hash_bucket < 230 THEN 'val' ELSE 'test' END AS split
        |FROM b ORDER BY doc_id
        |""".stripMargin.replaceAll("\\s+", " "),
    // shard-packing twin: the oracle uses the SINGLE global window the
    // engine deliberately avoids (fine over 500 rows in DuckDB; a
    // single-partition sort at scale) — checking the two-phase prefix sum
    // against the textbook definition
    "pack_shards" ->
      raw"""WITH t AS (SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_tokens FROM documents),
        |c AS (SELECT doc_id, n_tokens, COALESCE(SUM(n_tokens) OVER
        |  (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl FROM t)
        |SELECT doc_id, n_tokens, (excl // 2000)::BIGINT AS shard_id FROM c ORDER BY doc_id
        |""".stripMargin.replaceAll("\\s+", " "),
    "shard_stats" ->
      raw"""WITH t AS (SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_tokens FROM documents),
        |c AS (SELECT doc_id, n_tokens, COALESCE(SUM(n_tokens) OVER
        |  (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl FROM t),
        |s AS (SELECT n_tokens, (excl // 2000)::BIGINT AS shard_id FROM c)
        |SELECT shard_id, count(*)::BIGINT AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM s GROUP BY shard_id ORDER BY shard_id
        |""".stripMargin.replaceAll("\\s+", " "),
    "sample_stratified" ->
      """WITH h AS (SELECT doc_id, lang, md5(doc_id::VARCHAR || ':graft-sample-v1') AS hx FROM documents),
        |r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY hx, doc_id)::BIGINT AS sample_rank FROM h)
        |SELECT doc_id, lang, sample_rank FROM r WHERE sample_rank <= 50 ORDER BY doc_id
        |""".stripMargin.replaceAll("\\s+", " "),
    "emb_dims" ->
      "SELECT vec_id, len(embedding)::BIGINT AS dim FROM embeddings ORDER BY vec_id",
    // Embedding-dup clustering twin: the ALL-PAIRS cos ≥ 0.9 rule + the same
    // recursive min-label CC as the dedup-core oracles. The pipeline scopes
    // pairs through the 8×8 sign-sketch buckets, so value equality rests on
    // sketch recall = 1 over the threshold — measured margins make that
    // exact here: the closest pair at sf0.01 sits at cos 0.513 (no pair
    // within 0.387 of the threshold, vs ~3e-8 cross-engine float error), so
    // both sides emit all-singletons; non-vacuous operator behavior (real
    // clusters, salting invariance) is SimilaritySpec's planted coverage at
    // threshold 0.5 — same de-vacuification precedent as exact_dup_groups.
    "emb_dup_clusters" ->
      """WITH RECURSIVE e AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b
        |  FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
        |  WHERE list_cosine_similarity(x.embedding, y.embedding) >= 0.9
        |), eedges AS (
        |  SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e
        |), ereach(id, r) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT g.b, ereach.r FROM eedges g JOIN ereach ON ereach.id = g.a
        |)
        |SELECT id AS vec_id, min(r) AS cluster_id FROM ereach GROUP BY id ORDER BY vec_id
        |""".stripMargin.replaceAll("\\s+", " "),
    "emb_profile" ->
      "SELECT vec_id, len(embedding)::BIGINT AS dim, CAST(floor(sqrt(list_inner_product(embedding, embedding)) * 10000 + 0.5) AS BIGINT) AS norm_e4 FROM embeddings ORDER BY vec_id",
    // exact-cosine ANN ground truth, float-free: ranks are stable across
    // engines (min adjacent-cosine gap ~2e-5 vs ~3e-8 float error at
    // sf0.01); ties broken by neighbor_id on both sides
    // IVF twin: the engine's exact construction — √n lowest-id init,
    // nearest-centroid assignment (ties → lowest cid, the engine's
    // first-strict-max rule), one Lloyd step as per-dimension double means
    // (zipped unnest), re-assignment, top-nprobe probes per query, exact
    // cosine rank over probed lists. Engine centroids are float32-rounded
    // while DuckDB keeps doubles; measured sf0.01 margins (assignment gap
    // 6.2e-5, probe gap 2.5e-3, rank gap 1.9e-5 vs ~3e-8 float error) make
    // the integer (query_id, neighbor_id, rank) output value-exact.
    "ann_topk_ivf" ->
      """WITH emb AS (SELECT vec_id, embedding FROM embeddings),
        |prm AS (SELECT greatest(4, CAST(ceil(sqrt(count(*))) AS INT)) AS nlist, greatest(2, greatest(4, CAST(ceil(sqrt(count(*))) AS INT)) // 4) AS nprobe FROM emb),
        |init AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS c FROM emb ORDER BY vec_id LIMIT (SELECT nlist FROM prm)),
        |a1 AS (SELECT vec_id, cid FROM (SELECT e.vec_id, i.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.embedding, i.c) DESC, i.cid) AS rn FROM emb e CROSS JOIN init i) t WHERE rn = 1),
        |mexp AS (SELECT cid, unnest(range(1, len(embedding)+1)) AS i, unnest(embedding) AS v FROM a1 JOIN emb USING (vec_id)),
        |ref AS (SELECT cid, list(m ORDER BY i) AS c FROM (SELECT cid, i, avg(v) AS m FROM mexp GROUP BY cid, i) t GROUP BY cid),
        |a2 AS (SELECT vec_id, cid FROM (SELECT e.vec_id, r.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.embedding, r.c) DESC, r.cid) AS rn FROM emb e CROSS JOIN ref r) t WHERE rn = 1),
        |q AS (SELECT vec_id, embedding FROM emb ORDER BY vec_id LIMIT 20),
        |probes AS (SELECT query_id, cid FROM (SELECT q.vec_id AS query_id, r.cid, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, r.c) DESC, r.cid) AS rn FROM q CROSS JOIN ref r) t WHERE rn <= (SELECT nprobe FROM prm)),
        |cand AS (SELECT p.query_id, a2.vec_id AS neighbor_id FROM probes p JOIN a2 ON a2.cid = p.cid WHERE a2.vec_id <> p.query_id),
        |scored AS (SELECT c.query_id, c.neighbor_id, list_cosine_similarity(qe.embedding, ne.embedding) AS cos FROM cand c JOIN emb qe ON qe.vec_id = c.query_id JOIN emb ne ON ne.vec_id = c.neighbor_id),
        |r AS (SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS "rank" FROM scored)
        |SELECT query_id, neighbor_id, "rank" FROM r WHERE "rank" <= 5 ORDER BY query_id, "rank"
        |""".stripMargin.replaceAll("\\s+", " "),
    "ann_topk_brute" ->
      """WITH q AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 20), s AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, list_cosine_similarity(q.embedding, e.embedding) AS cos FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.vec_id), r AS (SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS "rank" FROM s) SELECT query_id, neighbor_id, "rank" FROM r WHERE "rank" <= 5 ORDER BY query_id, "rank"""",
    "q_agg_pricing" ->
      "SELECT l_returnflag, l_linestatus, count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS sum_qty, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2",
    "q_filter_pushdown" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_quantity > 45 ORDER BY l_orderkey, l_linenumber",
    "q_join_agg" ->
      "SELECT n_name, count(*) AS n_orders, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey GROUP BY 1 ORDER BY 1",
    "q_topk" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100",
    "q_window_rank" ->
      "SELECT o_custkey, o_orderkey, rn FROM (SELECT o_custkey, o_orderkey, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) t WHERE rn <= 3 ORDER BY o_custkey, rn",
    "q_semi_join" ->
      "SELECT c_custkey FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders) ORDER BY c_custkey",
    "q_anti_join" ->
      "SELECT c_custkey FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000) ORDER BY c_custkey",
    "q_distinct_agg" ->
      "SELECT o_orderstatus, count(DISTINCT o_custkey) AS nd_cust FROM orders GROUP BY 1 ORDER BY 1",
    "q_set_except" ->
      "SELECT c_custkey FROM customer WHERE c_acctbal > 9000 EXCEPT SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000 ORDER BY c_custkey",
    "q_pivot" ->
      "SELECT o_orderpriority, count(*) FILTER (WHERE o_orderstatus = 'F') AS F, count(*) FILTER (WHERE o_orderstatus = 'O') AS O, count(*) FILTER (WHERE o_orderstatus = 'P') AS P FROM orders GROUP BY 1 ORDER BY 1",
    "q_intersect" ->
      "SELECT c_custkey FROM customer WHERE c_acctbal > 9000 INTERSECT SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000 ORDER BY c_custkey",
    "q_rollup" ->
      "SELECT coalesce(o_orderstatus, 'ALL') AS status, coalesce(o_orderpriority, 'ALL') AS prio, count(*) AS n FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority) ORDER BY status, prio",
    "q_events_hourly" ->
      "SELECT CAST(epoch(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) AS hour_ts, event_type, count(*) AS n, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents FROM events GROUP BY 1, 2 ORDER BY 1, 2",
    "q_cube" ->
      "SELECT coalesce(o_orderstatus, 'ALL') AS status, coalesce(o_orderpriority, 'ALL') AS prio, count(*) AS n, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority) ORDER BY status, prio",
  )
}
