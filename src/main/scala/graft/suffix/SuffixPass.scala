package graft.suffix

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Hashing
import graft.conf.DedupConfig
import graft.kernel.SignatureKernel
import graft.model.{DocRow, TokenDoc}

/** Contained-duplicate pass (SURVEY.md §2 row 21): catches file A embedded
  * verbatim in file B, which Jaccard misses when |A| ≪ |B| (resemblance vs
  * containment, Broder '97).
  *
  * A corpus-global suffix array is not distributable on Spark, so the pass is
  * two-stage, both stages bounded:
  *
  *  1. **minLen-gram index**: per doc, the distinct hashes of every
  *     minLen-token gram. A shared substring of ≥ minLen tokens shares a
  *     minLen-gram by definition, so `groupBy(gram)` with a doc-frequency
  *     cap (2..suffixDfMax) yields complete candidate pairs; frequent grams
  *     are boilerplate (license headers) and are dropped — by design they
  *     must not create pairs. The cap is applied on the grams themselves,
  *     NOT on winnowed fingerprints: winnowing's selection is
  *     context-dependent, so boilerplate k-grams selected by only a few
  *     docs (near the header/body boundary) would leak past a
  *     fingerprint-level cap — observed on the boilerplate fixture.
  *     [[winnow]] is kept as the documented sampling option for corpora
  *     where the ×minLen gram blow-up matters more than cap precision.
  *  2. **Per-pair generalized suffix array** ([[SuffixArrays]]): exact
  *     longest shared substring over the two token streams; emit pairs with
  *     shared_len ≥ minLen. Each kernel call is O((|A|+|B|)·log) and
  *     independent → embarrassingly parallel.
  */
object SuffixPass {

  /** Distinct hashes of every L-token gram of the stream. */
  def grams(tokens: Array[Long], L: Int): Array[Long] = {
    // O(n) polynomial rolling hash over the token-hash sequence — the
    // xxhash64 chain would cost O(n·L), 50 hash rounds per position, which
    // dominated the suffix stage. Hash collisions only ever ADD candidates
    // (the suffix-array verification rejects them); the oracle shares this
    // exact function, so fixture equality is by construction.
    val n = tokens.length - L + 1
    if (n <= 0) return Array.emptyLongArray
    val B = 0x9E3779B97F4A7C15L // odd multiplier; arithmetic mod 2^64
    var bl = 1L // becomes B^(L-1)
    var i = 0
    while (i < L - 1) { bl *= B; i += 1 }
    val set = new java.util.TreeSet[java.lang.Long]()
    var h = 0L
    i = 0
    while (i < L) { h = h * B + tokens(i); i += 1 }
    set.add(h)
    i = 1
    while (i < n) {
      h = (h - tokens(i - 1) * bl) * B + tokens(i + L - 1)
      set.add(h)
      i += 1
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  /** Pure kernel: distinct winnowed fingerprint values of a token stream. */
  def winnow(tokens: Array[Long], k: Int, w: Int): Array[Long] = {
    val n = tokens.length - k + 1 // number of k-grams
    if (n <= 0) return Array.emptyLongArray
    val kh = new Array[Long](n)
    var i = 0
    while (i < n) { kh(i) = Hashing.sparkXxhash64(k, tokens, i, i + k); i += 1 }
    val out = new java.util.TreeSet[java.lang.Long]()
    if (n <= w) { // short doc: single window
      var m = kh(0); i = 1
      while (i < n) { if (kh(i) < m) m = kh(i); i += 1 }
      out.add(m)
    } else {
      // monotonic deque of indices, increasing hash value
      val dq = new java.util.ArrayDeque[Int]()
      i = 0
      while (i < n) {
        while (!dq.isEmpty && kh(dq.peekLast()) >= kh(i)) dq.pollLast()
        dq.addLast(i)
        if (dq.peekFirst() <= i - w) dq.pollFirst()
        if (i >= w - 1) out.add(kh(dq.peekFirst()))
        i += 1
      }
    }
    val res = new Array[Long](out.size)
    val it = out.iterator()
    i = 0
    while (it.hasNext) { res(i) = it.next(); i += 1 }
    res
  }

  /** Suffix-index fingerprints of one token stream under the configured
    * mode (see DedupConfig.suffixIndexMode): distinct minLen-gram rolling
    * hashes, or winnowed k-gram fingerprints at ~13× fewer rows. Shared by
    * the batch pass, the incremental pass and the in-repo oracle so the
    * three can never drift.
    */
  def indexFps(tokens: Array[Long], cfg: DedupConfig): Array[Long] =
    if (cfg.suffixIndexMode == "winnow") winnow(tokens, cfg.winnowKEff, cfg.winnowW)
    else grams(tokens, cfg.suffixMinLen)

  /** Ordered token-hash stream per doc (re-tokenized from content so the
    * main pipeline never has to carry token arrays between stages).
    */
  def tokenDocs(spark: SparkSession, docs: DataFrame, cfg: DedupConfig): Dataset[TokenDoc] = {
    import spark.implicits._
    docs.select(col("doc_id"), col("lang"), col("content")).as[DocRow]
      .mapPartitions { it =>
        it.map(d => TokenDoc(d.doc_id, SignatureKernel.tokenHashes(d.content, cfg.seed)))
      }
  }

  /** The index head shared by the batch and incremental passes: docs →
    * (their token streams long enough to hold a minLen run, the index
    * fingerprint rows (fp, doc_id) of those streams).
    */
  def indexRows(spark: SparkSession, docs: DataFrame,
      cfg: DedupConfig): (Dataset[TokenDoc], DataFrame) = {
    import spark.implicits._
    val toks = tokenDocs(spark, docs, cfg)
      .filter(_.tokens.length >= cfg.suffixMinLen) // can't hold a minLen run otherwise
    (toks, toks.flatMap(d => indexFps(d.tokens, cfg).map(fp => (fp, d.doc_id))).toDF("fp", "doc_id"))
  }

  /** The verify step shared by the batch and incremental passes: candidate
    * pairs (a, b) → those whose token streams (from `toks`: doc_id, tokens)
    * share a run of ≥ minLen tokens, as (a, b, shared_len). The decision is
    * exact and O(n), with the suffix array only as the hash-collision
    * fallback (see [[SuffixArrays.commonRunAtLeast]]); shared_len is a
    * witness run length ≥ minLen, not necessarily the global maximum (no
    * consumer needs the max; the pipeline gates on ≥ minLen).
    */
  def verifyRuns(cands: DataFrame, toks: DataFrame, minLen: Int): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    cands.join(toks.select(col("doc_id").as("a"), col("tokens").as("toks_a")), "a")
      .join(toks.select(col("doc_id").as("b"), col("tokens").as("toks_b")), "b")
      .select(col("a"), col("b"), col("toks_a"), col("toks_b"))
      .as[(Long, Long, Array[Long], Array[Long])]
      .mapPartitions(_.flatMap { case (a, b, tA, tB) =>
        val len = SuffixArrays.commonRunAtLeast(tA, tB, minLen)
        if (len >= minLen) Some((a, b, len)) else None
      })
      .toDF("a", "b", "shared_len")
  }

  /** Full pass: docs (doc_id, lang, content) → verified containment pairs
    * (a, b, shared_len, src='suffix').
    */
  def containmentPairs(spark: SparkSession, docs: DataFrame, cfg: DedupConfig): DataFrame = {
    import spark.implicits._
    val dfMax = cfg.suffixDfMax

    val (toks, fps) = indexRows(spark, docs, cfg)

    // Size the gram exchange by BYTES, not core count (round-5 finding,
    // promoted from the bench env knob into the engine): with partitions
    // pinned to the session default (= cores on this box) the content-shape
    // sort buffers ~50× a sized deployment's share and spills 3.8 GB/run;
    // 4× cores removed the spill and cut both protocol walls 25%. The gram
    // index is ≈ 16 bytes per surviving token (winnow mode: ×2/(w+1)), and
    // tokens ≈ content bytes / 6, so one cheap content-byte aggregation
    // (scanning only the content column — the pass tokenizes that column
    // twice anyway) sizes each sort task at ~32 MB of gram rows. Floored at
    // the session setting so small corpora keep their plans unchanged.
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val contentBytes = docs
      .agg(coalesce(sum(octet_length(col("content"))), lit(0L))).head().getLong(0)
    val density = if (cfg.suffixIndexMode == "winnow") 2.0 / (cfg.winnowW + 1) else 1.0
    val gramBytesEst = (contentBytes / 6.0 * 16.0 * density).toLong
    val gramParts = math.max(sessionParts, (gramBytesEst / (32L << 20) + 1).toInt)

    // Candidate pairs from shared rare fingerprints: one fp-hash shuffle +
    // in-partition sort, then a streaming group scan.
    //
    // Deliberately NOT the self-join formulation that won for LSH bands:
    // gram keys are overwhelmingly unique (most grams appear in one doc),
    // so a count pre-pass gets no map-side compression and the join
    // shuffles the gram table twice more — measured 4× SLOWER than this
    // single-shuffle typed path at 500k docs (18 s vs 4.5 s at 16 cores).
    //
    // Group-LIST dedup before emission: a shared token run of length L
    // contributes L−minLen+1 gram groups that all hold the SAME doc list,
    // so naive per-group emission writes each pair once per anchor gram —
    // C(df,2)·(L−minLen+1) rows per run through the exchange. Measured at
    // content-weighted shape (100k docs × ~1.7k tokens, 20-doc shared-run
    // cliques): 1.5·10⁹ emitted rows, 33 GB shuffle, 540 s of a 677 s e2e.
    // A partition-local HashSet over the (sorted, distinct) doc lists
    // collapses the per-run repetition before the exchange — identical
    // emitted SET (dropDuplicates still dedups across partitions/lists);
    // same corpus drops to ~10⁷ rows. The dedup is OPPORTUNISTIC — a
    // duplicate emission is always corrected downstream — so the set is
    // hard-capped: on a shape with millions of DISTINCT small lists per
    // partition it clears and keeps streaming instead of accumulating
    // O(partition pair output) heap.
    val cands = fps
      .repartition(gramParts, col("fp"))
      .sortWithinPartitions("fp")
      .as[(Long, Long)]
      .mapPartitions { rows =>
        val it = rows.buffered
        val SeenCap = 1 << 21 // ~2M lists ≈ low hundreds of MB worst case
        // Access-order LRU, not clear()-on-full: gram fps of one shared
        // run are scattered across the fp-sorted scan, so a full clear right
        // when the partition holds millions of distinct small lists throws
        // away every accumulated list at once and the dedup rate collapses
        // exactly when the pair exchange is largest. accessOrder=true makes
        // set.add's internal put refresh an existing key's position, so
        // recent lists — the ones still being re-emitted — really do stay
        // resident (an insertion-order map would be FIFO: a hot list
        // inserted early gets evicted first — round-5 ADVICE). Dedup
        // remains opportunistic: an evicted list re-emits and
        // dropDuplicates corrects it.
        val seenLists = java.util.Collections.newSetFromMap(
          new java.util.LinkedHashMap[scala.collection.immutable.ArraySeq[Long], java.lang.Boolean](
              1 << 10, 0.75f, true) {
            override def removeEldestEntry(
                e: java.util.Map.Entry[scala.collection.immutable.ArraySeq[Long], java.lang.Boolean]): Boolean =
              size() > SeenCap
          })
        // Allocation-light group scan: at content-weighted doc lengths the
        // partition holds tens of millions of gram groups, the vast
        // majority singletons (a unique gram per position) — a per-group
        // ArrayBuffer + toArray + distinct costs ~6 heap objects per group
        // and was measured as 10s of seconds of pure GC in this stage.
        // One reusable long buffer + in-place sort/dedupe allocates only
        // for groups that actually emit (df ∈ [2, dfMax]); semantics
        // (sorted distinct doc list per gram, df-cap, seen-list dedup,
        // emitted pair set) are identical.
        new Iterator[(Long, Long)] {
          private var buf = new Array[Long](64)
          private var pending: Iterator[(Long, Long)] = Iterator.empty
          private def advance(): Unit = {
            while (!pending.hasNext && it.hasNext) {
              val fp = it.head._1
              var n = 0
              while (it.hasNext && it.head._1 == fp) {
                if (n == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
                buf(n) = it.next()._2
                n += 1
              }
              if (n >= 2) { // singleton fast-path: no sort, no allocation
                java.util.Arrays.sort(buf, 0, n)
                var w = 1 // in-place dedupe of the sorted prefix
                var r = 1
                while (r < n) {
                  if (buf(r) != buf(w - 1)) { buf(w) = buf(r); w += 1 }
                  r += 1
                }
                if (w >= 2 && w <= dfMax) {
                  // copy out: the seen-set key must not alias the reused buffer
                  val docsArr = java.util.Arrays.copyOf(buf, w)
                  if (seenLists.add(
                      scala.collection.immutable.ArraySeq.unsafeWrapArray(docsArr))) {
                    pending = for {
                      x <- docsArr.indices.iterator
                      y <- (x + 1 until docsArr.length).iterator
                    } yield (docsArr(x), docsArr(y))
                  }
                }
              }
            }
          }
          def hasNext: Boolean = { advance(); pending.hasNext }
          def next(): (Long, Long) = { advance(); pending.next() }
        }
      }
      .dropDuplicates()
      .toDF("a", "b")
      // Local checkpoint: the candidate table feeds FIVE subtrees below
      // (2× in ends, 2× via toksC in ta/tb, 1× in the verify join) and
      // neither plan-time ReuseExchange nor AQE stage reuse collapses the
      // duplicated typed gram pipeline (verified on the executed adaptive
      // plan: five fp-repartition exchanges). The checkpoint materializes
      // the bounded pair table once and every consumer reads the cached
      // RDD. NOTE (measured round 5): under AQE this is NOT construction-
      // lazy even with eager=false — Dataset.localCheckpoint calls
      // queryExecution.toRdd, which forces the adaptive plan and EXECUTES
      // every upstream query stage right here (the gram shuffle + group
      // scan run when containmentPairs is CALLED, before any action on its
      // result). Callers that may skip the suffix pass must defer the call
      // itself, as the staged CLI does by constructing inside the stage
      // closure; eager=false only avoids the extra final count job.
      .localCheckpoint(false)

    // Attach both token streams and run the per-pair verify kernel.
    // The token state is endpoint-pruned first (same discipline as the
    // incremental path): only docs that appear in a candidate pair need
    // their streams in the join — at 100 TB the full token table is the
    // corpus itself and must stay out of the exchange. Checkpointed for
    // the same reason as cands (both verify joins would otherwise
    // re-tokenize).
    val ends = cands.select(col("a").as("doc_id"))
      .unionByName(cands.select(col("b").as("doc_id"))).distinct()
    val toksC = toks.toDF().join(ends, Seq("doc_id"), "left_semi")
      .localCheckpoint(false)
    verifyRuns(cands, toksC, cfg.suffixMinLen)
      .withColumn("src", lit("suffix"))
  }
}
