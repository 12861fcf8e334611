package graft.testutil

import scala.collection.mutable

import graft.Hashing
import graft.conf.DedupConfig
import graft.kernel.SignatureKernel
import graft.model.{CorpusRow, Signature}
import graft.suffix.SuffixPass

/** Single-threaded, dictionary-based oracle implementing DefaultConfig v1
  * semantics end-to-end (SURVEY.md §5.2). With `/root/reference` empty in
  * this sandbox (SURVEY.md §0.1), this is the reference-faithful golden
  * generator: same pinned hash/shingle/band spec, but flat loops + HashMaps +
  * union-find instead of Spark — so pipeline-vs-oracle equality exercises
  * exactly the distributed machinery (partitioning, salting, joins, CC).
  */
object ReferenceOracle {

  final case class Result(
      docIds: Vector[Long],
      sha256: Map[Long, String],
      signatures: Map[Long, Signature],
      candidatePairs: Set[(Long, Long)],
      verifiedPairs: Set[(Long, Long)],
      clusters: Map[Long, Long])

  def docId(r: CorpusRow): Long = {
    // replicates Spark xxhash64(repo, path, commit) seed chaining
    var h = Hashing.xxString(r.repo, Hashing.DefaultSeed)
    h = Hashing.xxString(r.path, h)
    Hashing.xxString(r.commit, h)
  }

  def sha256Hex(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
  }

  def run(corpus: Seq[CorpusRow], cfg: DedupConfig = DedupConfig.default): Result = {
    val coefs = new SignatureKernel.PermCoefs(cfg.numPerms, cfg.seed)
    val ids = corpus.map(docId).toVector
    require(ids.distinct.size == ids.size, "fixture corpus has doc_id collisions")

    val sha = mutable.Map.empty[Long, String]
    val sigs = mutable.Map.empty[Long, Signature]
    val toks = mutable.Map.empty[Long, Array[Long]]
    corpus.zip(ids).foreach { case (r, id) =>
      sha(id) = sha256Hex(r.content)
      val t = SignatureKernel.tokenHashes(r.content, cfg.seed)
      toks(id) = t
      val sh = SignatureKernel.shingles(t, cfg.shingleK, cfg.seed)
      sigs(id) = Signature(id, SignatureKernel.minhash(sh, coefs), SignatureKernel.simhash(sh), sh.length)
    }

    // LSH/suffix run over sha-distinct representatives only (min doc_id per
    // content hash) — mirrors DedupPipeline.distinctByContent; exact-star
    // edges reconnect the members, so clusters are unaffected.
    val repOf: Map[Long, Long] = ids.groupBy(sha).values
      .flatMap { g => val m = g.min; g.map(_ -> m) }.toMap
    val reps: Vector[Long] = ids.filter(id => repOf(id) == id)

    // banding: (band, band_hash) -> docs
    val buckets = mutable.Map.empty[(Int, Long), mutable.ArrayBuffer[Long]]
    val blockBits = cfg.simhashBlockBits
    val mask = (1L << blockBits) - 1
    for (id <- reps; s = sigs(id) if s.n_shingles > 0) {
      var b = 0
      while (b < cfg.bands) {
        val h = Hashing.sparkXxhash64(b, s.minhash, b * cfg.rowsPerBand, (b + 1) * cfg.rowsPerBand)
        buckets.getOrElseUpdate((b, h), mutable.ArrayBuffer.empty) += id
        b += 1
      }
      var blk = 0
      while (blk < cfg.simhashBlocks) {
        val v = (s.simhash >>> (blk * blockBits)) & mask
        buckets.getOrElseUpdate((cfg.bands + blk, v), mutable.ArrayBuffer.empty) += id
        blk += 1
      }
    }

    val lshPairs = mutable.Set.empty[(Long, Long)]
    buckets.values.foreach { docs =>
      if (docs.size >= 2 && docs.size <= cfg.stopBandSize) {
        val arr = docs.toArray.sorted
        var i = 0
        while (i < arr.length) {
          var j = i + 1
          while (j < arr.length) {
            lshPairs += ((arr(i), arr(j)))
            j += 1
          }
          i += 1
        }
      }
    }

    // exact pairs: star from min doc per sha
    val bySha = ids.groupBy(sha)
    val starPairs = mutable.Set.empty[(Long, Long)]
    bySha.values.foreach { g =>
      if (g.size > 1) {
        val m = g.min
        g.foreach(d => if (d != m) starPairs += ((m, d)))
      }
    }

    // suffix/containment pairs: docs sharing a minLen-token gram whose
    // doc-frequency is in [2, suffixDfMax] (same scoping rule as the
    // pipeline; sharing a minLen-gram ⟺ sharing a substring ≥ minLen).
    val fpIndex = mutable.Map.empty[Long, mutable.ArrayBuffer[Long]]
    for (id <- reps if toks(id).length >= cfg.suffixMinLen) {
      // indexFps mirrors the engine's suffixIndexMode (grams|winnow) so
      // fixture equality holds in BOTH modes
      SuffixPass.indexFps(toks(id), cfg).foreach { fp =>
        fpIndex.getOrElseUpdate(fp, mutable.ArrayBuffer.empty) += id
      }
    }
    // Candidates from shared grams, then the SAME suffix-array verification
    // the pipeline applies (maxCommonSubstring >= minLen) — the rolling
    // gram hash can collide, and the pipeline rejects such pairs in the SA
    // kernel, so the oracle must share the full rule, not just the scoping.
    val suffixPairs = mutable.Set.empty[(Long, Long)]
    fpIndex.values.foreach { docs =>
      val arr = docs.distinct.sorted
      if (arr.length >= 2 && arr.length <= cfg.suffixDfMax) {
        for (i <- arr.indices; j <- i + 1 until arr.length) {
          val p = (arr(i), arr(j))
          if (!suffixPairs.contains(p) &&
              graft.suffix.SuffixArrays.maxCommonSubstring(toks(p._1), toks(p._2)) >= cfg.suffixMinLen)
            suffixPairs += p
        }
      }
    }

    // verification
    def estJaccard(a: Long, b: Long): Double = {
      val ma = sigs(a).minhash; val mb = sigs(b).minhash
      var eq = 0; var i = 0
      while (i < ma.length) { if (ma(i) == mb(i)) eq += 1; i += 1 }
      eq.toDouble / cfg.numPerms
    }
    def hamming(a: Long, b: Long): Int =
      java.lang.Long.bitCount(sigs(a).simhash ^ sigs(b).simhash)

    val verified = mutable.Set.empty[(Long, Long)]
    lshPairs.foreach { case p @ (a, b) =>
      if (estJaccard(a, b) >= cfg.jaccardTau || hamming(a, b) <= cfg.hammingMax) verified += p
    }
    verified ++= starPairs
    verified ++= suffixPairs

    // union-find clustering
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    verified.foreach { case (a, b) => union(a, b) }
    // normalize: cluster id = min member
    val members = mutable.Map.empty[Long, mutable.ArrayBuffer[Long]]
    ids.foreach(d => members.getOrElseUpdate(find(d), mutable.ArrayBuffer.empty) += d)
    val clusters = mutable.Map.empty[Long, Long]
    members.values.foreach { g =>
      val m = g.min
      g.foreach(d => clusters(d) = m)
    }

    Result(ids, sha.toMap, sigs.toMap,
      (lshPairs ++ starPairs ++ suffixPairs).toSet,
      verified.toSet, clusters.toMap)
  }
}
