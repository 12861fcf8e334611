package graft.conf

/** Pinned pipeline configuration ("DefaultConfig v1", SURVEY.md §1.3).
  *
  * The north rule (BASELINE.json `north_rule`) requires reproducing cluster
  * assignments "at the same shingle/signature config", so the config is a
  * first-class serialized value: it is written into stage lineage
  * ([[graft.io.StageMeta]]) and resume refuses to mix configs.
  *
  * Algorithm parameters derive from public papers only:
  *  - MinHash permutation family h_i(x) = (a_i*x + b_i) mod (2^61-1)
  *    (Broder 1997; Leskovec/Rajaraman/Ullman, MMDS ch.3).
  *  - Banding b=16, r=8 => collision threshold ~ (1/16)^(1/8) ~ 0.707 (MMDS 3.4).
  *  - 64-bit SimHash, Hamming <= 3 (Charikar STOC'02; Manku et al. WWW'07).
  *  - Suffix/substring pass >= 50 shared tokens (Lee et al. ACL'22).
  */
final case class DedupConfig(
    shingleK: Int = 5,
    numPerms: Int = 128,
    bands: Int = 16,
    rowsPerBand: Int = 8,
    // SimHash: 4 blocks of 16 bits. Pigeonhole: hammingMax=3 bit errors over
    // 4 blocks leaves >=1 block intact, so a single-block index has full
    // recall for Hamming<=3 (Manku et al. WWW'07 block-permute scheme).
    simhashBlocks: Int = 4,
    hammingMax: Int = 3,
    jaccardTau: Double = 0.7,
    suffixMinLen: Int = 50,
    // (band, band_hash) groups larger than this are salted into buckets of
    // ~maxBandSize so no single task is quadratic in the hot-group size.
    maxBandSize: Int = 500,
    // Groups larger than this are dropped entirely ("stop bands", logged to
    // lineage) - analogous to stop-words; recall survives because true
    // near-dups collide in many independent bands.
    stopBandSize: Int = 20000,
    // Rare-shingle doc-frequency cap used to scope the suffix/containment
    // pass: only shingles shared by 2..dfMax docs anchor candidate groups.
    suffixDfMax: Int = 64,
    // Suffix-index mode: "grams" (default — one index row per token
    // position, so the df-cap acts on exact boilerplate gram frequency) or
    // "winnow" (Schleimer et al. SIGMOD'03 robust winnowing over winnowK-
    // grams with window suffixMinLen−winnowK+1: any shared run ≥ minLen
    // still shares a selected fingerprint, at ~2/(w+1) rows per token —
    // measured 13.5× smaller index at verified recall 1.0, BASELINE
    // round-5 — the memory lever for corpora whose gram index doesn't
    // fit). CAVEAT (measured, SuffixPass scaladoc): in winnow mode the
    // df-cap acts on winnowed fingerprints whose selection is context-
    // dependent, so a boilerplate run selected by only a few docs can leak
    // past the cap, and shorter k admits ≥k-token candidates the exact
    // verifier must then reject. SEMANTIC knob (the emitted pair set can
    // differ near the cap) → fingerprinted when non-default.
    suffixIndexMode: String = "grams",
    // k-gram size for winnow mode; 0 derives max(4, suffixMinLen/2).
    winnowK: Int = 0,
    seed: Long = 42L,
    version: String = "v1",
) {
  require(numPerms == bands * rowsPerBand, "numPerms must equal bands*rowsPerBand")
  require(64 % simhashBlocks == 0, "simhashBlocks must divide 64")
  require(suffixIndexMode == "grams" || suffixIndexMode == "winnow",
    s"unknown suffixIndexMode '$suffixIndexMode' (grams|winnow)")

  def simhashBlockBits: Int = 64 / simhashBlocks

  /** Effective winnow k-gram size (winnow mode only). */
  def winnowKEff: Int = {
    val k = if (winnowK > 0) winnowK else math.max(4, suffixMinLen / 2)
    require(k <= suffixMinLen, s"winnowK $k must be ≤ suffixMinLen $suffixMinLen")
    k
  }

  /** Winnow window: w + k − 1 = suffixMinLen preserves the ≥minLen
    * detection guarantee (SuffixArraySpec proves it on the kernel).
    */
  def winnowW: Int = suffixMinLen - winnowKEff + 1

  /** Stable fingerprint of the config, stamped into lineage rows.
    *
    * Rule: SEMANTIC knobs (they change the emitted pair/cluster sets) go in;
    * execution-strategy knobs stay out. stopBandSize changes which band
    * groups are dropped and suffixDfMax changes which grams anchor
    * containment candidates — both semantic. maxBandSize only re-shards hot
    * groups (pair set provably invariant, SaltingSpec), so it is excluded:
    * changing it resumes cleanly instead of invalidating every stage.
    */
  def fingerprint: String =
    s"$version:k$shingleK:p$numPerms:b${bands}x$rowsPerBand:sb$simhashBlocks" +
      s":h$hammingMax:tau$jaccardTau:sfx$suffixMinLen:stop$stopBandSize" +
      s":dfx$suffixDfMax:seed$seed" +
      // appended only when non-default so every existing grams-mode
      // fingerprint (lineage rows, resumable state dirs) stays byte-stable
      (if (suffixIndexMode != "grams") s":sfxmode$suffixIndexMode-k$winnowKEff" else "")
}

object DedupConfig {
  val default: DedupConfig = DedupConfig()
}
