package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{Chains, DedupPipeline}
import graft.conf.DedupConfig
import graft.io.{Counted, StageMeta}
import graft.io.ParquetCatalog.readParquet

/** Incremental / streaming dedup (SURVEY.md §2.8).
  *
  * Batch-incremental core ([[processBatch]]): new docs are ingested; the
  * sha-new ones' first carriers (one representative per previously-unseen
  * content_sha256 — the incremental analogue of the batch pipeline's
  * rep-only LSH over sha-distinct docs) are signed and banded; candidates
  * are new×(old ∪ new) via an equi-join of the new band rows against the
  * accumulated band table — only pairs touching a new rep are generated,
  * old×old never recomputed. Because signatures/bands/counts are functions
  * of CONTENT alone, the accumulated band state and its running counts are
  * row-for-row the ones the batch pipeline computes over the same corpus
  * (rep doc_ids differ — first arrival vs global min — but exact-star edges
  * glue members identically, so the cluster partition is the same).
  *
  * State layout — ALL pair/band/doc state is APPEND-ONLY, partitioned by
  * `batch=<id>`; a micro-batch writes ONLY its own partitions, so per-batch
  * write volume is ∝ batch size (an earlier design merge-rewrote a `pairs`
  * table through a delete+rename swap every batch — O(pairs) I/O per batch
  * plus a non-atomic crash window; with per-batch partitions there is no
  * rewrite and no swap at all).
  *
  * Exactly-once: a batch id is committed by writing a `_commits/batch-<id>`
  * marker LAST. A replayed id (Structured Streaming restart, crash between
  * the partition writes and the marker) is either skipped (marker present)
  * or safely re-run: readers ([[edges]], the in-batch state reads) only
  * trust COMMITTED partitions, and partition writes are
  * overwrite-idempotent. Re-ingest of an already-known doc_id (at any
  * batch) is dropped by an anti-join against the accumulated docs, so state
  * rows stay unique per doc and candidate joins never inflate.
  *
  * Probe-side pruning: the accumulated band/gram/signature state is
  * O(corpus), but only rows whose key occurs in THIS batch can produce a
  * candidate — a semi-join against the new batch's distinct keys turns the
  * per-batch O(corpus) shuffle into a scan+filter (no exchange of the
  * accumulated side; per-batch shuffle volume is ∝ batch + matches,
  * asserted sublinear by StreamingSpec). The key side is broadcast only
  * while provably small ([[prune]]): gram fingerprints scale with token
  * count (~10^8 distinct for a 50k-doc batch), and an unconditional
  * broadcast() hint bypasses every driver-memory safety.
  *
  * Stop-bands, retroactive with EXACT batch semantics: the batch pass drops
  * a band whose FINAL rep-count exceeds `stopBandSize`; a stream cannot
  * un-emit, so each batch appends its verified LSH pairs WITH (band,
  * band_hash) provenance (`lsh_pairs/batch=<id>`) plus per-batch band
  * counts (`band_counts/batch=<id>`), and [[edges]] filters at READ time: a
  * pair is live iff ≥1 of its emitting bands has final accumulated count ≤
  * stopBandSize. Counts only grow, so "emitted under the running cap, then
  * filtered by the final cap" equals the batch rule exactly — a band under
  * the final cap was under the running cap at every emission, so every pair
  * it holds carries its provenance row; a band over the final cap is dead
  * regardless of when its pairs were emitted (StreamingSpec asserts cluster
  * equality against the batch pipeline across a mid-stream cap crossing).
  * The running-cap filter at emission time is the cost guard (a hot band in
  * a stream must not grow unbounded candidate emission); the read-time
  * filter is the semantics.
  *
  * The suffix/containment pass is the same design over another key space:
  * per-rep token/gram state, candidates under the running gram df-cap,
  * verified pairs appended with anchor-gram provenance
  * (`sfx_pairs/batch=<id>`), final-df filtering at read time. Both are
  * [[KeyedIndex]] instances ([[Lsh]], [[Suffix]]) run by ONE
  * [[increment]] and read by ONE [[livePairsOf]]: per-batch key counts are
  * partition aggregates merged by an associative sum, so one algebra serves
  * both key spaces, and only the head (reps → rows + key rows) and the
  * verify step differ.
  *
  * Exact-duplicate edges are linear, not pairwise: each batch appends a
  * within-batch star (batch-min doc per sha → its batch members) plus one
  * glue edge per sha that crosses batches (accumulated rep ↔ batch min) to
  * `exact_pairs/batch=<id>`. The edge SET differs from the batch pipeline's
  * global-rep star but spans the same components (a chain of stars), so the
  * cluster partition is identical — and a sha group of k docs arriving over
  * a stream's life costs O(k) edge rows, not the O(k²) a new×all-old
  * content_sha256 join would write.
  *
  * The streaming face ([[startStream]]) is `readStream` →
  * `foreachBatch(processBatch)` with the real batch id passed through.
  */
object IncrementalDedup {

  /** New verified pairs of one batch: LSH ∪ exact edges, and suffix
    * containment pairs, each as distinct (a, b). Both are zero for a
    * replayed batch.
    */
  final case class BatchResult(newPairs: Long, newSuffixPairs: Long)

  /** What one state chain wrote: rows per table, and its new pairs. */
  private final case class ChainOut(rows: Map[String, Long], newPairs: Long)

  /** Keys-side row cap for broadcasting the semi-join prunes; above it fall
    * back to a shuffle semi-join (correct, just pays an exchange — a batch
    * that large dominates the join cost anyway).
    */
  private val BroadcastKeyCap = 2000000L

  /** `state` semi- or anti-joined (`how`) against `keys` on `keyCols`,
    * broadcasting the key side only while `keyRowsUpperBound` keeps it
    * under [[BroadcastKeyCap]].
    */
  private def prune(state: DataFrame, keys: DataFrame, keyCols: Seq[String],
      keyRowsUpperBound: Long, how: String): DataFrame =
    state.join(if (keyRowsUpperBound <= BroadcastKeyCap) broadcast(keys) else keys, keyCols, how)

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commit(spark: SparkSession, stateDir: String, id: Long): Unit = {
    val f = fs(spark, stateDir)
    f.mkdirs(new Path(s"$stateDir/_commits"))
    f.create(new Path(s"$stateDir/_commits/batch-$id"), true).close()
  }

  /** Compaction base marker: `base-<gen>-<upto>` declares that partition
    * `batch=-<gen>` of every state table holds the union of all regular
    * batches ≤ upto (see [[compactState]]).
    */
  private case class BaseInfo(gen: Long, upto: Long)

  private def commitMarkers(spark: SparkSession, stateDir: String): Seq[String] = {
    val p = new Path(s"$stateDir/_commits")
    val f = fs(spark, stateDir)
    if (!f.exists(p)) Nil
    else f.listStatus(p).map(_.getPath.getName).toSeq
  }

  private def baseInfo(markers: Seq[String]): Option[BaseInfo] =
    markers.collect { case s if s.startsWith("base-") =>
      val parts = s.stripPrefix("base-").split("-")
      BaseInfo(parts(0).toLong, parts(1).toLong)
    }.sortBy(_.gen).lastOption

  private def regularIds(markers: Seq[String]): Seq[Long] =
    markers.collect { case s if s.startsWith("batch-") =>
      s.stripPrefix("batch-").toLong
    }

  /** Live committed partition ids: the newest base (as `-gen`) plus every
    * regular batch it does not supersede. Regular ids are engine batch ids
    * (≥ 0), so the negative base id can never collide with a replay.
    */
  private def committedIds(spark: SparkSession, stateDir: String): Seq[Long] =
    liveIds(commitMarkers(spark, stateDir))

  private def liveIds(markers: Seq[String]): Seq[Long] =
    baseInfo(markers) match {
      case Some(b) => (-b.gen) +: regularIds(markers).filter(_ > b.upto)
      case None => regularIds(markers)
    }

  private def nextBatchId(spark: SparkSession, stateDir: String): Long = {
    val markers = commitMarkers(spark, stateDir)
    (regularIds(markers) ++ baseInfo(markers).map(_.upto))
      .foldLeft(-1L)(math.max) + 1L
  }

  /** Read an append-only state table restricted to COMMITTED batch
    * partitions (plus optionally the current batch's own, just-written
    * one). An uncommitted partition is a crashed batch's half-written
    * leftovers: trusting it during replay would make the re-ingest
    * anti-join see the batch's own docs, compute an empty "fresh" set and
    * overwrite the partitions with empty data — silently losing the batch.
    * For the same reason the read schema comes from the footer of a file in
    * one of the partitions read, never from an uncommitted one.
    */
  private def readState(spark: SparkSession, stateDir: String, name: String,
      committed: Seq[Long], alsoBatch: Long = -1L): Option[DataFrame] = {
    val p = new Path(s"$stateDir/$name")
    if (!fs(spark, stateDir).exists(p)) None
    else {
      val ids = committed ++ (if (alsoBatch >= 0) Seq(alsoBatch) else Nil)
      if (ids.isEmpty) None
      else Some(readParquet(spark, p.toString, ids.map(id => s"$p/batch=$id"))
        .where(col("batch").isin(ids: _*)))
    }
  }

  /** Every state write is a [[Counted.write]]: the lineage rows and the
    * [[BatchResult]] come from what the writes observed, never from a
    * follow-up job over the written partitions.
    *
    * @param batchId streaming micro-batch id for exactly-once replay
    *        detection; pass -1 (default) to auto-assign the next id for
    *        direct/batch callers.
    */
  def processBatch(
      spark: SparkSession,
      corpusBatch: DataFrame,
      stateDir: String,
      cfg: DedupConfig = DedupConfig.default,
      batchId: Long = -1L): BatchResult = {
    val tBatch0 = System.nanoTime()
    val id = if (batchId >= 0) batchId else nextBatchId(spark, stateDir)
    // a compacted-away id must fail LOUDLY: committing fresh docs under an
    // id ≤ base.upto would write state that committedIds filters out
    // forever (silent data loss). A legitimate crash-replay of the LATEST
    // epoch can never trip this — compactState always leaves the newest
    // committed batch un-superseded — so reaching here means a stream
    // checkpoint was recreated against an old compacted state dir; the
    // operator must use a fresh state dir or auto-assigned ids.
    val markers = commitMarkers(spark, stateDir)
    baseInfo(markers).foreach { b =>
      require(id > b.upto,
        s"batch id $id is superseded by compaction (base upto=${b.upto}); " +
          "a recreated stream checkpoint cannot reuse compacted-away ids")
    }
    val done = liveIds(markers)
    // replayed batch: state already reflects it, and nothing is read
    if (done.contains(id)) return BatchResult(0L, 0L)

    val docsOld = readState(spark, stateDir, "docs", done)
      .map(_.select("doc_id", "content_sha256"))

    // every frame the batch persists, released however the batch ends: a
    // failed batch (chain error, deadline, a bad row) must not leave its
    // plans cached in the session, one more set per retry
    val cached = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def persisted(df: DataFrame): DataFrame = { cached += df.persist(); df }
    val (written, result) = try {
      // genuinely-new docs only: replay/re-ingest of a known doc_id must not
      // duplicate state rows. Both anti-joins below are phrased as "prune
      // the O(corpus) accumulated side down to the batch's hits first" — the
      // accumulated side is never the broadcast candidate and never enters
      // an exchange (scan+filter), same discipline as the key-probe prune.
      // t1New is PERSISTED rather than round-tripped through a scratch
      // parquet table (an earlier design wrote + re-read `incoming_t1` every
      // batch — two extra jobs on the fixed per-batch floor for the same
      // materialize-once effect the cache gives).
      val t1Raw = persisted(graft.ingest.Ingest.ingest(corpusBatch)
        .select("doc_id", "repo", "lang", "content_sha256", "content")
        .dropDuplicates("doc_id"))
      // nRaw is counted before any doc-level prune plan is built: it
      // upper-bounds the doc_id/sha broadcast-vs-shuffle decisions (nNew ≤
      // nRaw, and a bound only gates broadcastability — the looser raw count
      // never changes emitted rows, it can only fall back to a shuffle
      // semi-join sooner); the key-level prunes take theirs from the key
      // write's observation. Counting t1Raw unconditionally (the first batch
      // included) also materializes the cache every chain reads.
      val nRaw = t1Raw.count()
      val t1New = docsOld match {
        case Some(old) =>
          val oldIdHit = prune(old.select("doc_id"),
            t1Raw.select("doc_id"), Seq("doc_id"), nRaw, "left_semi")
          persisted(prune(t1Raw, oldIdHit, Seq("doc_id"), nRaw, "left_anti"))
        case None => t1Raw
      }

      // the write materializes the t1New cache (its attached observation is
      // the batch's exact doc count, recorded in lineage); running it BEFORE
      // the concurrent chains keeps their first actions from racing to
      // compute t1New's prune subtree 3–4× in parallel — duplicated upstream
      // shuffle reads that the flat-shuffle guarantee (StreamingSpec) counts
      val nNew = Counted.write(t1New.select("doc_id", "content_sha256"), s"$stateDir/docs/batch=$id")

      // First carrier per previously-unseen sha (min doc_id within the
      // batch) — the only docs that enter LSH/suffix state. Docs whose sha
      // is already known contribute exact-star edges only, exactly like the
      // batch pipeline's members.
      val newShaDocs = docsOld match {
        case Some(old) =>
          val oldShaHit = prune(old.select("content_sha256"),
            t1New.select("content_sha256").distinct(), Seq("content_sha256"), nRaw, "left_semi")
            .distinct()
          prune(t1New, oldShaHit, Seq("content_sha256"), nRaw, "left_anti")
        case None => t1New
      }
      // persisted: both keyed indexes start from the reps — without the
      // cache each chain re-runs the sha-group shuffle
      val repsNew = persisted(newShaDocs.join(
        newShaDocs.groupBy("content_sha256").agg(min("doc_id").as("doc_id")),
        Seq("content_sha256", "doc_id")))
      // materialize ONCE before the chains fork: the four chain-head jobs
      // (signature/band/token/gram writes) all read repsNew, and cold racers
      // would each re-run its sha-group shuffle (the duplicated shuffle
      // reads would also be charged against StreamingSpec's flat-shuffle
      // budget)
      repsNew.count(): Unit

      // The three state-building chains are INDEPENDENT until the commit
      // marker (disjoint tables: each keyed index's four vs exact_pairs) —
      // run them concurrently so their fixed per-job costs overlap (the
      // measured 8–10 s/batch floor was ~17 SEQUENTIAL driver-coordinated
      // jobs).
      val Seq(lsh, sfx, exact) = Chains.inParallel(spark.sparkContext, Seq[(String, () => ChainOut)](
        "lsh" -> (() => increment(Lsh, spark, stateDir, repsNew, done, id, cfg)),
        "suffix" -> (() => increment(Suffix, spark, stateDir, repsNew, done, id, cfg)),
        "exact" -> (() => exactIncrement(spark, stateDir, t1New, docsOld, nRaw, id))
      ))
      // LSH pairs join reps of distinct shas and exact edges join docs of
      // one sha, so the two sets are disjoint and their counts add
      (lsh.rows ++ sfx.rows ++ exact.rows + ("docs" -> nNew),
        BatchResult(lsh.newPairs + exact.newPairs, sfx.newPairs))
    } finally cached.foreach(_.unpersist(blocking = false))

    commit(spark, stateDir, id)
    recordBatchLineage(spark, stateDir, s"batch=$id", s"incr-$id", cfg.fingerprint,
      (System.nanoTime() - tBatch0) / 1000000L, written)
    result
  }

  /** One keyed index of the incremental state: per-rep `rows`, the
    * `keyRows` derived from them (one row per (key, doc)), per-batch
    * per-key `counts` and the verified `pairs` with key provenance, each an
    * append-only `batch=<id>` table. `cap` bounds a key's accumulated count;
    * `jobs` names the four sub-chains (rows write, key-rows write, counts
    * write, pair path). Everything the two indexes do not share lives in
    * `head` (new reps → (rows, key rows), both over columns `doc_id`, ...)
    * and `verify` ((provenance pairs, endpoint-pruned rows) → verified
    * pairs with at most one row per (a, b)).
    */
  private final case class KeyedIndex(
      rows: String, keyRows: String, counts: String, pairs: String,
      keys: Seq[String],
      cap: DedupConfig => Int,
      jobs: (String, String, String, String),
      head: (DataFrame, DedupConfig) => (DataFrame, DataFrame),
      verify: (DataFrame, DataFrame, DedupConfig) => DataFrame)

  /** LSH: signatures keyed by (band, band_hash) under the stop-band cap,
    * verified by the batch Verifier rule. Bands derive from the signature
    * PLAN, not the written partition: the kernel re-runs over the
    * already-materialized repsNew cache (batch-sized — trivial), which lets
    * the two state writes overlap instead of serializing on a
    * write→read-back. Rows are identical (deterministic kernel).
    */
  private val Lsh = KeyedIndex("signatures", "bands", "band_counts", "lsh_pairs",
    Seq("band", "band_hash"), _.stopBandSize,
    ("sigs.write", "bands.write", "bcounts.write", "lsh.pairs"),
    head = (reps, cfg) => {
      val sigs = DedupPipeline.signatures(reps.sparkSession, reps, cfg)
      (sigs, graft.lsh.Banding.bandRows(sigs, cfg))
    },
    verify = (prov, sigs, cfg) => graft.verify.Verifier.verifyLshPairs(
      graft.lsh.CandidatePairs.strongest(prov.select(col("a"), col("b"),
        when(col("band") < cfg.bands, "minhash").otherwise("simhash").as("src"))),
      sigs, cfg))

  /** Suffix/containment: token streams keyed by their index fingerprints
    * (`SuffixPass.indexFps`: minLen-grams or winnowed k-grams) under the
    * gram df-cap, verified by the batch pass's exact O(n) shared-run test
    * (suffix array only as the hash-collision fallback). Grams derive from
    * the token PLAN, like bands from signatures.
    */
  private val Suffix = KeyedIndex("toks", "grams", "gram_counts", "sfx_pairs",
    Seq("fp"), _.suffixDfMax,
    ("toks.write", "grams.write", "gcounts.write", "sfx.pairs"),
    head = (reps, cfg) => {
      val (toks, fps) = graft.suffix.SuffixPass.indexRows(reps.sparkSession, reps, cfg)
      (toks.toDF(), fps)
    },
    verify = (prov, toks, cfg) => graft.suffix.SuffixPass.verifyRuns(
      prov.select("a", "b").distinct(), toks, cfg.suffixMinLen).select("a", "b"))

  private val Indexes = Seq(Lsh, Suffix)

  /** Per-key totals of a count table: the associative merge of per-batch
    * counts (compaction writes it; [[overCap]] filters it).
    */
  private def sumCounts(counts: DataFrame, keys: Seq[String]): DataFrame =
    counts.groupBy(keys.map(col): _*).agg(sum("cnt").as("cnt"))

  /** The keys whose accumulated count exceeds the index's cap — the running
    * cap at emission time and the final cap at read time.
    */
  private def overCap(ix: KeyedIndex, counts: DataFrame, cfg: DedupConfig): DataFrame =
    sumCounts(counts, ix.keys).where(col("cnt") > ix.cap(cfg)).select(ix.keys.map(col): _*)

  /** One micro-batch of a keyed index: append the new reps' rows, key rows
    * and key counts, generate candidates against the pruned accumulated
    * key-row state under the running cap, verify, and append the verified
    * pairs with key provenance. Each index touches only its own four
    * tables, so processBatch runs the two (and the exact chain)
    * concurrently. Returns the rows each write observed and the verified
    * pair count, observed where the pair write consumes the verified frame
    * (one row per (a, b), each one joining its provenance rows).
    *
    * Execution strategy (state rows unchanged): the counts write does not
    * serialize the candidate path — the prune plans read `committed count
    * partitions ∪ a recount of the just-written key-row partition`
    * (row-identical: key rows are written before their counts are
    * consumed, and the recount is the same aggregation the write runs), so
    * the counts write runs CONCURRENTLY with the candidate→verify→pair-write
    * path. All intermediates stay parquet-backed: an earlier attempt to
    * cache them instead broke exchange reuse inside the prune plans (each
    * broadcast build recomputed the whole upstream pipeline — per-batch
    * shuffle 2.6×) and starved the planner of size estimates. With the two
    * head writes overlapping, the critical path is 3 serial jobs
    * (max(rows, key rows) write → provenance count → pair write).
    */
  private def increment(ix: KeyedIndex, spark: SparkSession, stateDir: String,
      repsNew: DataFrame, done: Seq[Long], id: Long, cfg: DedupConfig): ChainOut = {
    val (rowsJob, keyRowsJob, countsJob, pairsJob) = ix.jobs
    def partition(table: String) = s"$stateDir/$table/batch=$id"
    def accumulated(table: String) = readState(spark, stateDir, table, done, alsoBatch = id).get
    val keyCols = ix.keys.map(col)
    val keyDocCols = keyCols :+ col("doc_id")
    val (rowsNew, keyRowsNew) = ix.head(repsNew, cfg)
    // the key-row count rides the key write's observation (gram keys scale
    // with TOKENS, not docs, and a follow-up count job is a job the fixed
    // floor can't spare); it bounds the row count of every pruned key side
    val Seq(nRows, nKeyRows) = Chains.inParallel(spark.sparkContext, Seq[(String, () => Long)](
      rowsJob -> (() => Counted.write(rowsNew, partition(ix.rows))),
      keyRowsJob -> (() => Counted.write(keyRowsNew, partition(ix.keyRows)))))
    val keyRowsD = readParquet(spark, partition(ix.keyRows)).select(keyDocCols: _*)
    val countsNew = keyRowsD.groupBy(keyCols: _*).agg(count(lit(1)).as("cnt"))

    // (rows written, verified pairs) of each job; the counts write has no
    // pairs
    val Seq((nCounts, _), (nPairs, nVerified)) = Chains.inParallel(spark.sparkContext,
      Seq[(String, () => (Long, Long))](
      countsJob -> (() => (Counted.write(countsNew, partition(ix.counts)), 0L)),
      pairsJob -> (() => {
        // committed counts ∪ recount of the written key-row partition — the
        // counts write above need not finish before this plan runs
        val countsAll = readState(spark, stateDir, ix.counts, done)
          .map(_.select(keyCols :+ col("cnt"): _*).unionByName(countsNew))
          .getOrElse(countsNew)
        // probe-side prune + running cap (see the object scaladoc)
        val newKeys = keyRowsD.select(keyCols: _*).distinct()
        val hot = overCap(ix, prune(countsAll, newKeys, ix.keys, nKeyRows, "left_semi"), cfg)
        val kept = prune(keyRowsD, hot, ix.keys, nKeyRows, "left_anti")
        val probe = prune(prune(accumulated(ix.keyRows).select(keyDocCols: _*),
          newKeys, ix.keys, nKeyRows, "left_semi"), hot, ix.keys, nKeyRows, "left_anti")

        // candidates touching a new rep, WITH key provenance (the read-time
        // retroactive cap needs to know which keys emitted a pair).
        // Persisted: it feeds the endpoint prune, the verify join and the
        // provenance write, and its count bounds the endpoint broadcast
        val prov = kept.withColumnRenamed("doc_id", "n")
          .join(probe.withColumnRenamed("doc_id", "m"), ix.keys)
          .where(col("n") =!= col("m"))
          .select(least(col("n"), col("m")).as("a") +: greatest(col("n"), col("m")).as("b") +:
            keyCols: _*)
          .distinct()
          .persist()
        try {
          val nProv = prov.count()
          // verify against endpoint-pruned rows: candidates touch ≤ 2·|prov|
          // docs, so the O(corpus) row state stays out of the verify joins
          val ends = prov.select(col("a").as("doc_id"))
            .unionByName(prov.select(col("b").as("doc_id"))).distinct()
          val verified = Counted(ix.verify(prov,
            prune(accumulated(ix.rows), ends, Seq("doc_id"), 2 * nProv, "left_semi"), cfg))
          (Counted.write(prov.join(verified.frame, Seq("a", "b")), partition(ix.pairs)), verified.rows)
        } finally prov.unpersist(blocking = false)
      })))
    ChainOut(Map(ix.rows -> nRows, ix.keyRows -> nKeyRows, ix.counts -> nCounts,
      ix.pairs -> nPairs), nVerified)
  }

  /** Exact-dup chain of one micro-batch: within-batch star + one cross-batch
    * glue edge per sha (see the object scaladoc — O(k) edges per sha group,
    * never a new×all-old join). Touches only `exact_pairs`; every edge it
    * writes is a distinct new pair.
    */
  private def exactIncrement(spark: SparkSession, stateDir: String,
      t1New: DataFrame, docsOld: Option[DataFrame], nNew: Long, id: Long): ChainOut = {
    val newMin = t1New.groupBy("content_sha256").agg(min("doc_id").as("nm"))
    val withinBatch = t1New.select(col("content_sha256"), col("doc_id"))
      .join(newMin, "content_sha256")
      .where(col("doc_id") =!= col("nm"))
      .select(col("nm").as("a"), col("doc_id").as("b"))
    val glue = docsOld match {
      case Some(old) =>
        val prevReps = prune(old, newMin.select("content_sha256"),
            Seq("content_sha256"), nNew, "left_semi")
          .groupBy("content_sha256").agg(min("doc_id").as("pr"))
        newMin.join(prevReps, "content_sha256")
          .select(least(col("nm"), col("pr")).as("a"), greatest(col("nm"), col("pr")).as("b"))
      case None => withinBatch.limit(0)
    }
    val n = Counted.write(withinBatch.unionByName(glue), s"$stateDir/exact_pairs/batch=$id")
    ChainOut(Map("exact_pairs" -> n), n)
  }

  /** One lineage row per state table per committed batch / compaction
    * generation (north rule: "checkpoint every stage ... with per-partition
    * lineage and metrics") — appended to `stage_meta` in the
    * [[graft.io.StageMeta.MetaRow]] schema so the batch CLI's lineage
    * readers work unchanged on a stream's state dir. `rows` holds the
    * count each table's write observed (one entry per table written to
    * `partition`); byte sizes come from the FS listing (free).
    */
  private def recordBatchLineage(spark: SparkSession, stateDir: String,
      partition: String, runId: String, fingerprint: String, wallMs: Long,
      rows: Map[String, Long]): Unit = {
    val f = fs(spark, stateDir)
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val lineage = StateTables.flatMap(t => rows.get(t).map { n =>
      StageMeta.MetaRow(runId, t, partition, Some(n),
        f.getContentSummary(new Path(s"$stateDir/$t/$partition")).getLength,
        fingerprint, wallMs, now)
    })
    StageMeta.append(spark, s"$stateDir/${StageMeta.StageMetaDir}", lineage)
  }

  private val StateTables = "docs" +:
    Indexes.flatMap(ix => Seq(ix.rows, ix.keyRows, ix.counts, ix.pairs)) :+ "exact_pairs"

  /** Compact the committed state into one generational base partition per
    * table, bounding partition/file count over a long stream (thousands of
    * micro-batches otherwise mean thousands of tiny partitions per table —
    * the per-batch O(corpus) state read pays their listing + open overhead
    * every batch). Semantics-preserving by construction: every table is the
    * plain union of the partitions it replaces, except the count tables,
    * which re-aggregate to one row per key (sum is associative — the
    * retroactive cap filters see identical totals).
    *
    * Crash-safe without any rewrite-in-place: the union is written to a
    * FRESH dir `batch=-<gen>` (never overwriting live state), then a single
    * atomic marker create (`_commits/base-<gen>-<upto>`) flips readers over;
    * superseded partitions and markers are deleted lazily AFTER the marker
    * is durable. A crash before the marker leaves an orphan dir that the
    * next compaction overwrites; a crash mid-cleanup leaves garbage that
    * readers already ignore and the next compaction's cleanup removes.
    *
    * Streaming-replay safety: the NEWEST committed regular batch is never
    * compacted away (exclusion in the impl) — a restart that replays the
    * latest epoch (engine marker durable, streaming checkpoint commit lost)
    * finds its marker live and no-ops. A replay of a genuinely superseded
    * id — only possible with a recreated/foreign checkpoint pointed at an
    * old compacted state dir — fails loudly in [[processBatch]] rather than
    * silently committing into a partition no reader would ever include.
    *
    * Run between batches (same single-writer discipline as processBatch);
    * a typical cadence is every N micro-batches or on a size trigger.
    */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    compactStateImpl(spark, stateDir, failBeforeMarker = false)

  private[graft] def compactStateImpl(spark: SparkSession, stateDir: String,
      failBeforeMarker: Boolean): Unit = {
    val tComp0 = System.nanoTime()
    val markers = commitMarkers(spark, stateDir)
    val base = baseInfo(markers)
    // The NEWEST committed regular batch is excluded from compaction: a
    // Structured Streaming restart can legitimately replay the LATEST epoch
    // (the engine's commit marker became durable, then the crash ate the
    // streaming checkpoint's own epoch commit) — that id must still resolve
    // to a live committed batch so processBatch short-circuits the replay,
    // instead of crash-looping forever on the superseded-id guard. Older
    // epochs cannot replay this way (the checkpoint commits epoch N before
    // starting N+1), so compacting them away stays safe.
    val regsAll = regularIds(markers).filter(id => base.forall(id > _.upto)).sorted
    val regs = regsAll.dropRight(1)
    if (regs.size + base.size <= 1) return // nothing to merge
    val ids = base.map(b => -b.gen).toSeq ++ regs
    val gen = base.map(_.gen).getOrElse(0L) + 1L
    val upto = regs.max

    // stage the unions OUTSIDE the table roots (Spark refuses to overwrite
    // a path it is reading), then rename each into place — rename is cheap
    // (same fs) and the target dirs are fresh, so nothing live is touched
    // before the marker flip
    val f = fs(spark, stateDir)
    val tmpRoot = s"$stateDir/_compact_tmp"
    f.delete(new Path(tmpRoot), true)
    // one staging write per table, all independent → overlap their fixed
    // job costs (same lever as processBatch's concurrent chains)
    // (count tables re-aggregate to one row per key; every other table is
    // the plain union, minus the partition-discovery column)
    val countKeys = Indexes.map(ix => ix.counts -> ix.keys).toMap
    val staged = Chains.inParallel(spark.sparkContext, StateTables.map { t => t -> { () =>
      readState(spark, stateDir, t, ids).map { df =>
        Counted.write(countKeys.get(t).fold(df.drop("batch"))(sumCounts(df, _)), s"$tmpRoot/$t")
      }
    }})
    if (failBeforeMarker) return
    StateTables.foreach { t =>
      val staged = new Path(s"$tmpRoot/$t")
      if (f.exists(staged)) {
        val target = new Path(s"$stateDir/$t/batch=-$gen")
        f.delete(target, true) // orphan from a crashed earlier attempt
        // rename returns false instead of throwing on several fs failure
        // modes; proceeding to the marker without the table would let the
        // cleanup below delete the only copy of its rows
        require(f.rename(staged, target),
          s"compaction rename failed for $t — aborting before the marker flip")
      }
    }
    f.create(new Path(s"$stateDir/_commits/base-$gen-$upto"), true).close()
    f.delete(new Path(tmpRoot), true)
    recordBatchLineage(spark, stateDir, s"batch=-$gen", s"incr-compact-$gen",
      s"compact-upto-$upto", (System.nanoTime() - tComp0) / 1000000L,
      StateTables.zip(staged).collect { case (t, Some(n)) => t -> n }.toMap)

    // Cleanup sweeps EVERYTHING the new base supersedes — not just this
    // run's `regs`/`base` lists — so orphans from a previous crash
    // mid-cleanup are also removed (a partition is live iff its id is the
    // new base or a regular id > upto; regular ids ≤ upto and older bases
    // are dead by the marker's definition, even half-deleted ones).
    def dead(idStr: String): Boolean =
      idStr.toLongOption.exists(i => if (i < 0) i != -gen else i <= upto)
    StateTables.foreach { t =>
      val root = new Path(s"$stateDir/$t")
      if (f.exists(root)) f.listStatus(root).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("batch=") && dead(n.stripPrefix("batch=")))
          f.delete(st.getPath, true)
      }
    }
    commitMarkers(spark, stateDir).foreach {
      case m if m.startsWith("batch-") && dead(m.stripPrefix("batch-")) =>
        f.delete(new Path(s"$stateDir/_commits/$m"), false)
      case m if m.startsWith("base-") && m != s"base-$gen-$upto" =>
        f.delete(new Path(s"$stateDir/_commits/$m"), false)
      case _ => ()
    }
    ()
  }

  /** Verified LSH pairs still live under the FINAL stop-band cap: a pair
    * survives iff ≥1 of its emitting (band, band_hash) keys has accumulated
    * count ≤ stopBandSize (retroactive batch semantics — see scaladoc).
    */
  def liveLshPairs(spark: SparkSession, stateDir: String,
      cfg: DedupConfig = DedupConfig.default): DataFrame =
    livePairsOf(Lsh, spark, stateDir, cfg, committedIds(spark, stateDir))

  /** Verified suffix pairs still live under the FINAL gram df-cap. */
  def liveSuffixPairs(spark: SparkSession, stateDir: String,
      cfg: DedupConfig = DedupConfig.default): DataFrame =
    livePairsOf(Suffix, spark, stateDir, cfg, committedIds(spark, stateDir))

  /** A keyed index's verified pairs with ≥1 emitting key under its FINAL
    * cap — the read-time half of the retroactive cap.
    */
  private def livePairsOf(ix: KeyedIndex, spark: SparkSession, stateDir: String,
      cfg: DedupConfig, committed: Seq[Long]): DataFrame =
    (readState(spark, stateDir, ix.pairs, committed),
      readState(spark, stateDir, ix.counts, committed)) match {
      case (Some(pairs), Some(counts)) =>
        pairs.join(overCap(ix, counts, cfg), ix.keys, "left_anti").select("a", "b").distinct()
      case _ => emptyPairs(spark)
    }

  /** Accumulated exact-duplicate edges (within-batch stars + glue edges). */
  private def exactEdgesOf(spark: SparkSession, stateDir: String,
      committed: Seq[Long]): DataFrame =
    readState(spark, stateDir, "exact_pairs", committed)
      .map(_.select("a", "b")).getOrElse(emptyPairs(spark))

  private def emptyPairs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF("a", "b")
  }

  /** The composed live edge set: retroactively-capped LSH pairs ∪ exact
    * edges ∪ retroactively-capped suffix pairs (committed batches only).
    * The commit-marker listing happens once per call, not once per branch.
    */
  def edges(spark: SparkSession, stateDir: String,
      cfg: DedupConfig = DedupConfig.default): DataFrame =
    edgesOf(spark, stateDir, cfg, committedIds(spark, stateDir))

  private def edgesOf(spark: SparkSession, stateDir: String,
      cfg: DedupConfig, committed: Seq[Long]): DataFrame =
    Indexes.map(livePairsOf(_, spark, stateDir, cfg, committed))
      .foldLeft(exactEdgesOf(spark, stateDir, committed))(_ unionByName _)
      .distinct()

  /** Final clusters over the accumulated live edge set (committed state
    * only).
    */
  def clusters(spark: SparkSession, stateDir: String,
      cfg: DedupConfig = DedupConfig.default): DataFrame = {
    val committed = committedIds(spark, stateDir)
    val docs = readState(spark, stateDir, "docs", committed)
      .map(_.select("doc_id")).getOrElse(spark.emptyDataFrame.withColumn("doc_id", lit(0L)))
    val mapping = graft.cc.ConnectedComponents.run(spark,
      edgesOf(spark, stateDir, cfg, committed))
    graft.cc.ConnectedComponents.assignAll(docs, mapping)
  }

  /** Streaming entry: parquet file stream → foreachBatch incremental, with
    * the engine's batch id threaded through for replay detection.
    *
    * @param maxFilesPerTrigger bound files per micro-batch (None = Spark
    *        default, all available) — lets tests drive one epoch per file
    * @param onBatchDone test seam invoked AFTER the engine commit marker is
    *        durable but BEFORE the streaming checkpoint commits the epoch;
    *        throwing here reproduces exactly the crash window the
    *        latest-epoch replay guarantee covers (see [[compactState]])
    */
  def startStream(
      spark: SparkSession,
      inputDir: String,
      schema: org.apache.spark.sql.types.StructType,
      stateDir: String,
      cfg: DedupConfig = DedupConfig.default,
      maxFilesPerTrigger: Option[Int] = None,
      onBatchDone: Long => Unit = _ => ()): StreamingQuery = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader
      .parquet(inputDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        processBatch(spark, batch, stateDir, cfg, id)
        onBatchDone(id)
      }
      .option("checkpointLocation", s"$stateDir/_stream_checkpoint")
      .start()
  }
}
