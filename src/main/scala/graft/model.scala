package graft.model

/** Row models for the pipeline stage tables (SURVEY.md §1.2 T0–T9), as
  * top-level case classes so Catalyst serializer/deserializer codegen never
  * needs an outer instance. Arrays are Array[Long] (ArrayType(LongType)).
  */

/** T0 — canonical input (BASELINE.json input_hint). */
final case class CorpusRow(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String)

/** T1 minus the provenance columns — what the kernels need. */
final case class DocRow(doc_id: Long, lang: String, content: String)

/** T3 — fused signature output of the mapPartitions kernel. */
final case class Signature(
    doc_id: Long,
    minhash: Array[Long],
    simhash: Long,
    n_shingles: Int)

/** T4 — one row per (doc, band); band ids 0..bands-1 are MinHash bands,
  * bands..bands+simhashBlocks-1 are SimHash blocks.
  */
final case class BandRow(doc_id: Long, band: Int, band_hash: Long)

/** Candidate pair with its emitting bucket key — the provenance that lets a
  * read-time filter apply the stop-band rule retroactively (streaming
  * emission cannot be taken back; see StreamingLsh.retroLive /
  * IncrementalDedup.liveLshPairs).
  */
final case class ProvPair(a: Long, b: Long, src: String, band: Int, band_hash: Long)

/** Suffix-pass tokens: ordered (non-distinct) token hashes per doc. */
final case class TokenDoc(doc_id: Long, tokens: Array[Long])

/** Per-(band, band_hash) streaming-LSH state: doc ids seen in the bucket;
  * `stopped` buckets crossed the stop cap and emit nothing further (the
  * streaming analogue of batch stop-bands — state is dropped, not grown).
  */
final case class BucketState(docs: Array[Long], stopped: Boolean)

