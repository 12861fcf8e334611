package graft.model

/** Row models for the stage tables a typed kernel reads or writes
  * (SURVEY.md §1.2 T0–T9), as top-level case classes so Catalyst
  * serializer/deserializer codegen never needs an outer instance. Arrays
  * are Array[Long] (ArrayType(LongType)). Band, pair and count tables (the
  * batch stages and the incremental keyed indexes alike) are untyped
  * DataFrames and have no model here.
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

/** Suffix-pass tokens: ordered (non-distinct) token hashes per doc. */
final case class TokenDoc(doc_id: Long, tokens: Array[Long])

