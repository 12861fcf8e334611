package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.conf.DedupConfig
import graft.model.CorpusRow
import graft.streaming.StreamingLsh
import graft.testutil.FixtureGen

/** Streaming LSH with per-bucket flatMapGroupsWithState (SURVEY §2.8 row
  * 44): candidates emitted in-stream across micro-batches must equal the
  * batch pair generator's set over the same docs (same kernels, same
  * banding, same stop rule; fixture buckets stay under the stop cap, where
  * the two cap semantics coincide).
  */
class StreamingLshSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val cfg = DedupConfig.default
  private lazy val corpus = FixtureGen.corpus(400, 13L)

  test("stateful in-stream candidates == batch candidate set over the same docs") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[CorpusRow]
    val pairs = StreamingLsh.candidateStream(spark, input.toDF(), cfg)
    val q = pairs.writeStream
      .format("memory")
      .queryName("stream_lsh_pairs")
      .outputMode(OutputMode.Append)
      .start()
    try {
      corpus.grouped((corpus.size + 2) / 3).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()

    val streamed = spark.table("stream_lsh_pairs")
      .select("a", "b").as[(Long, Long)].collect().toSet

    // batch twin: same full doc set (no sha-distinct here — the stream
    // bands every doc), the batch pipeline's generator
    val t1 = ingest.Ingest.ingest(
      spark.createDataFrame(corpus).select("repo", "path", "commit", "lang", "content"))
    val sigs = DedupPipeline.signatures(spark, t1, cfg)
    val (batchPairs, _) = lsh.CandidatePairs.generateJoin(
      spark, lsh.Banding.bandRows(sigs, cfg), cfg)
    val expected = batchPairs.select("a", "b").as[(Long, Long)].collect().toSet

    assert(streamed === expected,
      s"extra=${(streamed -- expected).take(5)} missing=${(expected -- streamed).take(5)}")
    assert(streamed.nonEmpty)
  }

  test("in-stream emit -> verify (stream-static) == batch verify over the same candidates") {
    implicit val sqlCtx = spark.sqlContext
    // static signature table covering the streamed docs (in production:
    // the incremental state's accumulated signatures, re-read per batch)
    val t1 = ingest.Ingest.ingest(
      spark.createDataFrame(corpus).select("repo", "path", "commit", "lang", "content"))
    val sigs = DedupPipeline.signatures(spark, t1, cfg).persist()

    val input = MemoryStream[CorpusRow]
    val q = StreamingLsh.verifiedStream(spark, input.toDF(), sigs, cfg)
      .writeStream.format("memory").queryName("stream_lsh_verified")
      .outputMode(OutputMode.Append).start()
    try {
      corpus.grouped((corpus.size + 2) / 3).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()

    val streamed = spark.table("stream_lsh_verified")
      .select("a", "b").as[(Long, Long)].collect().toSet

    val (batchPairs, _) = lsh.CandidatePairs.generateJoin(
      spark, lsh.Banding.bandRows(sigs, cfg), cfg)
    val expected = verify.Verifier.verifyLshPairs(batchPairs, sigs, cfg)
      .select("a", "b").as[(Long, Long)].collect().toSet
    sigs.unpersist(blocking = false)

    assert(streamed === expected,
      s"extra=${(streamed -- expected).take(5)} missing=${(expected -- streamed).take(5)}")
    assert(streamed.nonEmpty)
  }

  test("dedupBySha enforces the sha-distinct precondition: exact-dup flood no longer under-emits") {
    implicit val sqlCtx = spark.sqlContext
    // 20 byte-identical copies of content A + one genuine near-dup B.
    // Per-DOC bucket counting (the documented caveat): every A-bucket holds
    // 21 > cap → tombstoned, the true (A, B) near-dup pair is LOST. With
    // dedupBySha only A's first carrier is banded → bucket size 2 → the
    // pair the rep-only batch pipeline finds is emitted.
    val tiny = cfg.copy(stopBandSize = 10, maxBandSize = 5)
    val contentA = (0 until 150).map(i => s"tok$i").mkString(" ")
    val contentB = contentA + " zz"
    val docs = (0 until 20).map(i => CorpusRow("r", s"a$i.txt", "c", "en", contentA)) :+
      CorpusRow("r", "b.txt", "c", "en", contentB)

    def run(name: String, dedup: Boolean): Set[(Long, Long)] = {
      val input = MemoryStream[CorpusRow]
      val q = StreamingLsh.candidateStream(spark, input.toDF(), tiny, dedupBySha = dedup)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try { input.addData(docs); q.processAllAvailable() } finally q.stop()
      spark.table(name).select("a", "b").as[(Long, Long)].collect().toSet
    }

    assert(run("lsh_dup_raw", dedup = false).isEmpty,
      "per-doc counting must tombstone the flooded buckets (the caveat being enforced)")

    val deduped = run("lsh_dup_sha", dedup = true)
    // compare in CONTENT space (stream reps are first carriers, batch reps
    // are min ids — same discipline as StreamingSpec)
    val t1 = ingest.Ingest.ingest(
      spark.createDataFrame(docs).select("repo", "path", "commit", "lang", "content"))
    val shaOf = t1.select($"doc_id", $"content_sha256").as[(Long, String)].collect().toMap
    def shaPairs(ps: Set[(Long, Long)]) = ps.map { case (a, b) =>
      val (x, y) = (shaOf(a), shaOf(b)); if (x <= y) (x, y) else (y, x)
    }
    val reps = DedupPipeline.distinctByContent(t1)
    val (batchPairs, _) = lsh.CandidatePairs.generateJoin(
      spark, lsh.Banding.bandRows(DedupPipeline.signatures(spark, reps, tiny), tiny), tiny)
    val expected = shaPairs(batchPairs.select("a", "b").as[(Long, Long)].collect().toSet)
    assert(expected.nonEmpty, "scenario broken: rep-only batch must find the (A, B) pair")
    assert(shaPairs(deduped) === expected)
  }

  test("stop cap tombstones a hot bucket: no quadratic state, no emissions past the cap") {
    implicit val sqlCtx = spark.sqlContext
    // 30 identical docs → identical signatures → every bucket is hot under
    // a tiny cap; with stopBandSize=10 the stream must emit only the pairs
    // generated before each bucket crossed the cap (here: batch 1 alone)
    val tiny = cfg.copy(stopBandSize = 10, maxBandSize = 5)
    val docs = (0 until 30).map(i =>
      CorpusRow("r", s"f$i.txt", "c", "scala", "identical content tokens " * 20))
    val input = MemoryStream[CorpusRow]
    val q = StreamingLsh.candidateStream(spark, input.toDF(), tiny)
      .writeStream.format("memory").queryName("stream_lsh_hot")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(docs.take(8)); q.processAllAvailable()   // under cap: C(8,2) pairs/bucket
      input.addData(docs.drop(8)); q.processAllAvailable()   // crosses cap: tombstoned, 0 new
    } finally q.stop()
    val got = spark.table("stream_lsh_hot").select("a", "b")
      .as[(Long, Long)].collect().toSet
    assert(got.size === 8 * 7 / 2, s"expected C(8,2)=28 distinct pairs, got ${got.size}")

    // retroLive closes the gap the stream itself cannot: those 28 pairs
    // were emitted while every bucket was under the cap, but the FINAL
    // band state (all 30 docs) puts every bucket over it — the batch
    // pipeline would emit nothing, and the provenance filter agrees
    val t1All = ingest.Ingest.ingest(
      spark.createDataFrame(docs).select("repo", "path", "commit", "lang", "content"))
    val bandsAll = lsh.Banding.bandRows(DedupPipeline.signatures(spark, t1All, tiny), tiny)
    val liveAll = StreamingLsh.retroLive(spark.table("stream_lsh_hot"), bandsAll, tiny)
      .as[(Long, Long)].collect().toSet
    assert(liveAll.isEmpty,
      s"pairs from buckets that crossed the cap must be retroactively dead: $liveAll")

    // against the under-cap prefix state the same filter keeps everything
    val t1Pre = ingest.Ingest.ingest(
      spark.createDataFrame(docs.take(8)).select("repo", "path", "commit", "lang", "content"))
    val bandsPre = lsh.Banding.bandRows(DedupPipeline.signatures(spark, t1Pre, tiny), tiny)
    val livePre = StreamingLsh.retroLive(spark.table("stream_lsh_hot"), bandsPre, tiny)
      .as[(Long, Long)].collect().toSet
    assert(livePre === got, "under-cap buckets' pairs must all survive the filter")
  }
}
