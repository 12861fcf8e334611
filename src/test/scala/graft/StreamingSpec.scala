package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.conf.DedupConfig
import graft.streaming.IncrementalDedup
import graft.testutil.FixtureGen

/** Incremental mode must converge to the batch pipeline's answer: feeding
  * the corpus in K batches yields the same near-dup edge set (compared in
  * content space — both engines are rep-only but pick reps differently) and
  * the same clusters as one batch run, INCLUDING the retroactive stop-band
  * and gram df-cap semantics for caps crossed mid-stream.
  */
class StreamingSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val cfg = DedupConfig.default
  private lazy val corpus = FixtureGen.corpus(600, 11L)

  test("3 incremental batches == one batch run (pairs and clusters)") {
    val stateDir = Files.createTempDirectory("graft-stream").toString
    val parts = corpus.grouped((corpus.size + 2) / 3).toSeq
    val results = parts.map { chunk =>
      IncrementalDedup.processBatch(spark,
        spark.createDataFrame(chunk).select("repo", "path", "commit", "lang", "content"),
        stateDir, cfg)
    }
    // the counts a batch reports ride its writes: they equal a recount of
    // the distinct (a, b) its partitions hold
    def distinctPairsByBatch(tables: String*): Map[Long, Long] =
      tables.map(t => spark.read.parquet(s"$stateDir/$t").select("batch", "a", "b"))
        .reduce(_ unionByName _).distinct()
        .groupBy("batch").count().as[(Long, Long)].collect().toMap.withDefaultValue(0L)
    val lshOrExact = distinctPairsByBatch("lsh_pairs", "exact_pairs")
    val sfx = distinctPairsByBatch("sfx_pairs")
    results.zipWithIndex.foreach { case (r, i) =>
      assert(r.newPairs === lshOrExact(i.toLong), s"batch $i newPairs")
      assert(r.newSuffixPairs === sfx(i.toLong), s"batch $i newSuffixPairs")
    }
    assert(results.map(_.newPairs).sum > 0L, "scenario produced no pairs")

    // append-only state: each micro-batch wrote ONLY its own partition —
    // per-batch write volume ∝ batch size, never O(corpus-so-far)
    val docsByBatch = spark.read.parquet(s"$stateDir/docs")
      .groupBy("batch").count().as[(Long, Long)].collect().toMap
    assert(docsByBatch.keySet === Set(0L, 1L, 2L))
    parts.zipWithIndex.foreach { case (chunk, i) =>
      assert(docsByBatch(i.toLong) === chunk.size.toLong, s"batch $i rewrote state")
    }
    val bandsByBatch = spark.read.parquet(s"$stateDir/bands")
      .groupBy("batch").count().as[(Long, Long)].collect().toMap
    parts.zipWithIndex.foreach { case (chunk, i) =>
      assert(bandsByBatch(i.toLong) <= chunk.size.toLong * (cfg.bands + cfg.simhashBlocks),
        s"batch $i band partition larger than its own docs' bands")
    }

    // replaying a committed batch id is a no-op (exactly-once marker) that
    // runs no Spark job
    val before = IncrementalDedup.edges(spark, stateDir, cfg).count()
    val replayInput =
      spark.createDataFrame(parts.head).select("repo", "path", "commit", "lang", "content")
    val replayJobs = new AtomicInteger()
    val replay = listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = replayJobs.incrementAndGet(): Unit
    })(IncrementalDedup.processBatch(spark, replayInput, stateDir, cfg, batchId = 0L))
    assert(replay === IncrementalDedup.BatchResult(0L, 0L))
    assert(replayJobs.get === 0, s"the replay ran ${replayJobs.get} Spark jobs")
    assert(IncrementalDedup.edges(spark, stateDir, cfg).count() === before)

    // re-ingesting known docs under a FRESH batch id is also a no-op for
    // state rows (anti-join on doc_id): no duplicate bands/docs appear
    IncrementalDedup.processBatch(spark,
      spark.createDataFrame(parts.head).select("repo", "path", "commit", "lang", "content"),
      stateDir, cfg)
    val docsAfter = spark.read.parquet(s"$stateDir/docs").count()
    assert(docsAfter === corpus.size.toLong, "re-ingest duplicated doc state")

    val t1 = ingest.Ingest.ingest(
      spark.createDataFrame(corpus).select("repo", "path", "commit", "lang", "content"))
    val batch = DedupPipeline.run(spark, t1, cfg)

    // Both engines run LSH/suffix over sha-distinct reps, but pick reps
    // differently (global min doc_id vs first arrival), so the near-dup
    // edge sets are compared in CONTENT space: map endpoints to their sha
    // and assert set EQUALITY — signatures, band counts, verify and df-cap
    // decisions are all functions of content, so the rep choice is the only
    // legitimate difference. (Collapse asymmetry makes per-source sets
    // incomparable: a containment pair that also LSH-collides is
    // src='suffix' in the batch union but lives in the incremental lsh_pairs
    // table too — hence the union comparison.)
    val shaOf = t1.select($"doc_id", $"content_sha256").as[(Long, String)]
      .collect().toMap
    def shaPairs(ps: Set[(Long, Long)]): Set[(String, String)] =
      ps.map { case (a, b) =>
        val (x, y) = (shaOf(a), shaOf(b))
        if (x <= y) (x, y) else (y, x)
      }
    val incNearDup = shaPairs(
      IncrementalDedup.liveLshPairs(spark, stateDir, cfg)
        .unionByName(IncrementalDedup.liveSuffixPairs(spark, stateDir, cfg))
        .as[(Long, Long)].collect().toSet)
    val batchNearDup = shaPairs(batch.verifiedPairs.where($"src" =!= "exact")
      .select("a", "b").as[(Long, Long)].collect().toSet)
    assert(incNearDup === batchNearDup,
      s"near-dup edge sets differ: inc-only=${(incNearDup -- batchNearDup).size} " +
        s"batch-only=${(batchNearDup -- incNearDup).size}")

    val incClusters = IncrementalDedup.clusters(spark, stateDir, cfg)
      .as[(Long, Long)].collect().toMap
    val batchClusters = batch.clusters.as[(Long, Long)].collect().toMap
    assert(incClusters === batchClusters)

    // per-batch lineage: every committed batch leaves one stage_meta row per
    // state table (rows/wall/bytes/config fingerprint), each row count the
    // one its write observed — a long-running stream's history is
    // queryable, not only in Spark logs
    val meta = spark.read.parquet(s"$stateDir/stage_meta")
      .select($"run_id", $"stage", $"rows", $"bytes", $"input_fingerprint", $"wall_ms")
      .as[(String, String, Option[Long], Long, String, Long)].collect()
    val partitionRows = rowsByPartition(stateDir)
    (0 to 2).foreach { b =>
      val rows = meta.filter(_._1 == s"incr-$b")
      assert(rows.map(_._2).toSet === StateTables, s"batch $b lineage tables: ${rows.map(_._2).toSeq}")
      rows.foreach { r =>
        assert(r._3 === Some(partitionRows((r._2, b.toLong))), s"batch $b ${r._2} row count")
      }
      assert(rows.find(_._2 == "docs").get._3 === Some(parts(b).size.toLong), s"batch $b docs")
      assert(rows.forall(r => r._4 > 0L && r._6 > 0L), "bytes/wall must be recorded")
      assert(rows.forall(_._5 == cfg.fingerprint), "config fingerprint stamped")
    }
  }

  private val StateTables = Set("docs", "signatures", "bands", "band_counts", "lsh_pairs",
    "toks", "grams", "gram_counts", "sfx_pairs", "exact_pairs")

  /** Rows per (state table, batch partition) of a state dir. */
  private def rowsByPartition(stateDir: String): Map[(String, Long), Long] =
    StateTables.toSeq.flatMap { t =>
      spark.read.parquet(s"$stateDir/$t").groupBy("batch").count().as[(Long, Long)].collect()
        .map { case (b, n) => (t, b) -> n }
    }.toMap.withDefaultValue(0L)

  test("incremental suffix pass: containment found across batches; retroactive df-cap") {
    // doc 0 (batch A) is contained verbatim in doc 1 (batch B) — the pair
    // must be found even though the endpoints arrive in different batches.
    // Docs 100.. share a 60-token boilerplate header; the header's gram df
    // crosses suffixDfMax only once batch B lands, so the header pairs
    // emitted while batch A was under the cap must be RETROACTIVELY dead in
    // the composed edge set (exact batch semantics), while the containment
    // pair (whose grams stay rare) survives.
    def tok(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val contained = tok("inner", 60)
    val big = tok("pre", 200) + " " + contained + " " + tok("post", 200)
    val header = tok("hdr", 60)
    val scfg = cfg.copy(suffixDfMax = 8)
    def boiler(i: Int) =
      graft.model.CorpusRow("rb", s"b/$i", "c", "en", header + " " + tok(s"tail${i}_", 150))
    val batchA = Seq(graft.model.CorpusRow("r", "p/0", "c", "en", contained)) ++
      (100 until 106).map(boiler) // 6 header carriers: under cap
    val batchB = Seq(graft.model.CorpusRow("r", "p/1", "c", "en", big)) ++
      (106 until 112).map(boiler) // 12 total: over cap=8 → retroactively dead

    val stateDir = Files.createTempDirectory("graft-stream-sfx").toString
    def df(rows: Seq[graft.model.CorpusRow]) =
      spark.createDataFrame(rows).select("repo", "path", "commit", "lang", "content")
    val rA = IncrementalDedup.processBatch(spark, df(batchA), stateDir, scfg)
    assert(rA.newSuffixPairs > 0, "under-cap header pairs should be emitted in batch A")
    IncrementalDedup.processBatch(spark, df(batchB), stateDir, scfg)

    val ids = ingest.Ingest.ingest(df(batchA ++ batchB))
      .select($"path", $"doc_id").as[(String, Long)].collect().toMap
    val live = IncrementalDedup.edges(spark, stateDir, scfg)
      .as[(Long, Long)].collect().toSet
      .map { p: (Long, Long) => (math.min(p._1, p._2), math.max(p._1, p._2)) }
    val cPair = (math.min(ids("p/0"), ids("p/1")), math.max(ids("p/0"), ids("p/1")))
    assert(live.contains(cPair), "cross-batch containment pair missing")
    val boilerIds = (100 until 112).map(i => ids(s"b/$i")).toSet
    assert(!live.exists(p => boilerIds(p._1) && boilerIds(p._2)),
      "boilerplate header pairs must be retroactively dead once df > cap")

    // and the batch pipeline agrees end-to-end on this corpus
    val batchClusters = DedupPipeline.run(spark,
        ingest.Ingest.ingest(df(batchA ++ batchB)), scfg)
      .clusters.as[(Long, Long)].collect().toMap
    val incClusters = IncrementalDedup.clusters(spark, stateDir, scfg)
      .as[(Long, Long)].collect().toMap
    assert(incClusters === batchClusters)
  }

  test("crash-before-commit replay recomputes the batch instead of wiping it") {
    val stateDir = Files.createTempDirectory("graft-stream-crash").toString
    val parts = corpus.grouped(corpus.size / 2 + 1).toSeq
    def df(chunk: Seq[graft.model.CorpusRow]) =
      spark.createDataFrame(chunk).select("repo", "path", "commit", "lang", "content")
    IncrementalDedup.processBatch(spark, df(parts.head), stateDir, cfg, batchId = 0L)
    // batch 1 completes, then we simulate a crash AFTER the partition
    // writes but BEFORE the commit marker by deleting the marker
    val r1 = IncrementalDedup.processBatch(spark, df(parts(1)), stateDir, cfg, batchId = 1L)
    val marker = new org.apache.hadoop.fs.Path(s"$stateDir/_commits/batch-1")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(marker, false)
    // Structured Streaming replays batch 1: the uncommitted batch=1
    // partitions must NOT be trusted by the re-ingest anti-join (a replay
    // that saw its own half-written docs would overwrite the partitions
    // with empty data and lose the batch)
    val r2 = IncrementalDedup.processBatch(spark, df(parts(1)), stateDir, cfg, batchId = 1L)
    assert(IncrementalDedup.clusters(spark, stateDir, cfg).count() === corpus.size.toLong,
      "replay lost batch docs")
    assert(r2.newPairs === r1.newPairs, "replay changed the emitted pair set")
    val docs1 = spark.read.parquet(s"$stateDir/docs/batch=1").count()
    assert(docs1 === parts(1).size.toLong, "batch-1 partition was wiped by the replay")
  }

  test("stop-band crossing mid-stream is retroactive: emitted pairs die, clusters == batch") {
    // Periodic docs: P repeated m times (m >= 2) all share the SAME distinct
    // shingle set (every k-window of P^m is a cyclic window of P), hence
    // bitwise-identical MinHash/SimHash signatures and identical band keys —
    // while being DISTINCT contents (distinct shas → each its own rep). So a
    // 12-member clique splits 6/6 across two batches: every clique bucket
    // counts 6 (under cap 9) at batch A — 15 pairs emitted and verified
    // (est_jaccard = 1) — then counts 12 (over cap) once batch B lands. The
    // batch pipeline stop-bands every clique bucket, so those 15 emitted
    // pairs must be RETROACTIVELY dead in the incremental live set. The
    // clique still clusters together on BOTH sides via the suffix pass
    // (P^2 = 60 tokens is a shared substring ≥ suffixMinLen), which keeps
    // the end-state comparison honest rather than trivially disconnected.
    val period = (0 until 30).map(i => s"per$i").mkString(" ")
    def cliqueDoc(m: Int) = graft.model.CorpusRow("r", s"q/$m", "c", "en",
      Seq.fill(m)(period).mkString(" "))
    // control: a cross-batch near-dup pair whose buckets stay tiny → alive
    val ctl = (0 until 150).map(i => s"w$i").mkString(" ")
    def ctlDoc(i: Int) = graft.model.CorpusRow("r", s"ctl/$i", "c", "en", s"$ctl z$i")
    val scfg = cfg.copy(stopBandSize = 9)
    val batchA = (2 until 8).map(cliqueDoc) :+ ctlDoc(0)
    val batchB = (8 until 14).map(cliqueDoc) :+ ctlDoc(1)

    val stateDir = Files.createTempDirectory("graft-stream-retro").toString
    def df(rows: Seq[graft.model.CorpusRow]) =
      spark.createDataFrame(rows).select("repo", "path", "commit", "lang", "content")
    val rA = IncrementalDedup.processBatch(spark, df(batchA), stateDir, scfg)
    assert(rA.newPairs >= 15, s"batch A should emit the 6-clique's pairs, got ${rA.newPairs}")
    IncrementalDedup.processBatch(spark, df(batchB), stateDir, scfg)

    val ids = ingest.Ingest.ingest(df(batchA ++ batchB))
      .select($"path", $"doc_id").as[(String, Long)].collect().toMap
    val cliqueIds = (2 until 14).map(m => ids(s"q/$m")).toSet
    val raw = spark.read.parquet(s"$stateDir/lsh_pairs")
      .select("a", "b").distinct().as[(Long, Long)].collect().toSet
    assert(raw.count(p => cliqueIds(p._1) && cliqueIds(p._2)) === 15,
      "scenario broken: batch A's clique pairs were not emitted")
    val live = IncrementalDedup.liveLshPairs(spark, stateDir, scfg)
      .as[(Long, Long)].collect().toSet
    assert(!live.exists(p => cliqueIds(p._1) && cliqueIds(p._2)),
      "clique pairs must be retroactively dead once every emitting band crossed the cap")
    val ctlPair = (math.min(ids("ctl/0"), ids("ctl/1")), math.max(ids("ctl/0"), ids("ctl/1")))
    assert(IncrementalDedup.edges(spark, stateDir, scfg).as[(Long, Long)].collect().toSet
      .contains(ctlPair), "under-cap control pair must survive")

    // and the batch pipeline agrees end-to-end on this corpus
    val batchClusters = DedupPipeline.run(spark,
        ingest.Ingest.ingest(df(batchA ++ batchB)), scfg)
      .clusters.as[(Long, Long)].collect().toMap
    val incClusters = IncrementalDedup.clusters(spark, stateDir, scfg)
      .as[(Long, Long)].collect().toMap
    assert(incClusters === batchClusters)
  }

  test("randomized batch splits converge to the batch answer (seeded property)") {
    // the fixed 3-way split can mask split-sensitive bugs (first-carrier
    // rep selection, cross-batch glue edges, running-cap timing); two
    // seeded random partitions of a fresh fixture corpus must still land
    // on the exact batch-pipeline clusters
    val rc = FixtureGen.corpus(400, 17L)
    val batchClusters = DedupPipeline.run(spark,
        ingest.Ingest.ingest(
          spark.createDataFrame(rc).select("repo", "path", "commit", "lang", "content")),
        cfg)
      .clusters.as[(Long, Long)].collect().toMap
    Seq(7L, 23L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val k = 2 + rnd.nextInt(4) // 2..5 batches
      val tagged = rc.map(r => (rnd.nextInt(k), r))
      val stateDir = Files.createTempDirectory(s"graft-stream-rand$seed").toString
      (0 until k).foreach { b =>
        val chunk = tagged.collect { case (`b`, r) => r }
        if (chunk.nonEmpty)
          IncrementalDedup.processBatch(spark,
            spark.createDataFrame(chunk).select("repo", "path", "commit", "lang", "content"),
            stateDir, cfg)
      }
      val incClusters = IncrementalDedup.clusters(spark, stateDir, cfg)
        .as[(Long, Long)].collect().toMap
      assert(incClusters === batchClusters, s"seed=$seed k=$k")
    }
  }

  test("state compaction preserves edges/clusters, bounds partitions, survives crash") {
    val stateDir = Files.createTempDirectory("graft-stream-compact").toString
    val parts = corpus.grouped((corpus.size + 3) / 4).toSeq // 4 batches
    def df(chunk: Seq[graft.model.CorpusRow]) =
      spark.createDataFrame(chunk).select("repo", "path", "commit", "lang", "content")
    parts.take(3).foreach(chunk => IncrementalDedup.processBatch(spark, df(chunk), stateDir, cfg))
    val edgesBefore = IncrementalDedup.edges(spark, stateDir, cfg)
      .as[(Long, Long)].collect().toSet
    val clustersBefore = IncrementalDedup.clusters(spark, stateDir, cfg)
      .as[(Long, Long)].collect().toMap

    // crash window: unions staged, marker never written → nothing visible
    IncrementalDedup.compactStateImpl(spark, stateDir, failBeforeMarker = true)
    assert(IncrementalDedup.edges(spark, stateDir, cfg)
      .as[(Long, Long)].collect().toSet === edgesBefore,
      "a crashed compaction must not change the visible state")

    IncrementalDedup.compactState(spark, stateDir)
    // batches 0..1 collapsed into the gen-1 base; batch 2 — the NEWEST
    // committed epoch, the one a streaming restart may legitimately replay —
    // is deliberately left un-superseded (ADVICE round 3: compacting it away
    // turned a latest-epoch replay into a permanent crash loop)
    val hfs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partDirs(t: String) =
      hfs.listStatus(new org.apache.hadoop.fs.Path(s"$stateDir/$t"))
        .map(_.getPath.getName).filter(_.startsWith("batch=")).toSeq.sorted
    Seq("docs", "bands", "band_counts", "lsh_pairs", "exact_pairs").foreach { t =>
      assert(partDirs(t) === Seq("batch=-1", "batch=2"), s"$t: ${partDirs(t)}")
    }
    assert(IncrementalDedup.edges(spark, stateDir, cfg)
      .as[(Long, Long)].collect().toSet === edgesBefore)
    assert(IncrementalDedup.clusters(spark, stateDir, cfg)
      .as[(Long, Long)].collect().toMap === clustersBefore)
    // the compaction itself leaves lineage rows for the new base partition,
    // one per state table, each with the rows its staging write observed
    val compactMeta = spark.read.parquet(s"$stateDir/stage_meta")
      .where($"run_id" === "incr-compact-1").select($"stage", $"rows")
      .as[(String, Option[Long])].collect()
    assert(compactMeta.map(_._1).sorted.toSeq === StateTables.toSeq.sorted)
    val baseRows = rowsByPartition(stateDir)
    compactMeta.foreach { case (t, n) =>
      assert(n === Some(baseRows((t, -1L))), s"compaction lineage rows of $t")
    }

    // a streaming replay of the NEWEST epoch (id 2) after compaction is a
    // committed-marker no-op — not a superseded-id crash
    val replay = IncrementalDedup.processBatch(spark, df(parts(2)), stateDir, cfg, batchId = 2L)
    assert(replay.newPairs === 0L, "latest-epoch replay after compaction must no-op")
    assert(IncrementalDedup.edges(spark, stateDir, cfg)
      .as[(Long, Long)].collect().toSet === edgesBefore)

    // a compacted-away batch id must be REJECTED, not silently committed
    // into a partition no reader will ever include (a recreated stream
    // checkpoint restarting at 0 would otherwise lose fresh data)
    intercept[IllegalArgumentException] {
      IncrementalDedup.processBatch(spark, df(parts(3)), stateDir, cfg, batchId = 1L)
    }

    // processing continues on the compacted base and still matches the
    // batch pipeline on the full corpus; a second compaction (gen 2,
    // merging base + batch 2, leaving the new newest batch 3) holds too
    IncrementalDedup.processBatch(spark, df(parts(3)), stateDir, cfg)
    val batchClusters = DedupPipeline.run(spark,
        ingest.Ingest.ingest(df(corpus)), cfg)
      .clusters.as[(Long, Long)].collect().toMap
    assert(IncrementalDedup.clusters(spark, stateDir, cfg)
      .as[(Long, Long)].collect().toMap === batchClusters)
    IncrementalDedup.compactState(spark, stateDir)
    assert(partDirs("docs") === Seq("batch=-2", "batch=3"))
    assert(IncrementalDedup.clusters(spark, stateDir, cfg)
      .as[(Long, Long)].collect().toMap === batchClusters)
  }

  test("running stop-band counts suppress hot buckets; bookkeeping matches a recount") {
    def mk(i: Int) = graft.model.CorpusRow(s"r$i", s"p/$i", "c", "en",
      s"u$i " + (0 until 150).map(t => s"tok$t").mkString(" ")) // near-dups, no exact dups
    def df(rows: Seq[graft.model.CorpusRow]) =
      spark.createDataFrame(rows).select("repo", "path", "commit", "lang", "content")

    // control: default stop cap → the near-dup clique is found
    val ctlDir = Files.createTempDirectory("graft-stream-stopctl").toString
    IncrementalDedup.processBatch(spark, df((0 until 6).map(mk)), ctlDir, cfg)
    val r2c = IncrementalDedup.processBatch(spark, df((6 until 12).map(mk)), ctlDir, cfg)
    assert(r2c.newPairs > 0, "control: near-dup batch produced no pairs")

    // stopBandSize=1: every bucket with >=2 members is hot → zero LSH
    // candidates can ever be emitted (and there are no exact edges)
    val stopDir = Files.createTempDirectory("graft-stream-stop").toString
    val scfg = cfg.copy(stopBandSize = 1)
    val r1 = IncrementalDedup.processBatch(spark, df((0 until 6).map(mk)), stopDir, scfg)
    val r2 = IncrementalDedup.processBatch(spark, df((6 until 12).map(mk)), stopDir, scfg)
    assert(r1.newPairs === 0L && r2.newPairs === 0L,
      s"stop-banded stream emitted pairs: ${r1.newPairs}/${r2.newPairs}")

    // the running per-key counts must equal a direct recount of the
    // accumulated band state (accumulation across batches is exact)
    val fromCounts = spark.read.parquet(s"$stopDir/band_counts")
      .groupBy("band", "band_hash")
      .agg(org.apache.spark.sql.functions.sum("cnt").as("n"))
      .as[(Int, Long, Long)].collect().map { case (b, h, n) => ((b, h), n) }.toMap
    val direct = spark.read.parquet(s"$stopDir/bands")
      .groupBy("band", "band_hash").count()
      .as[(Int, Long, Long)].collect().map { case (b, h, n) => ((b, h), n) }.toMap
    assert(fromCounts === direct, "running band counts drifted from the band state")
    assert(direct.values.exists(_ > 1), "scenario produced no multi-member bucket")
  }

  test("per-batch shuffle read stays ~flat while accumulated state grows (probe-side prune)") {
    val stateDir = Files.createTempDirectory("graft-stream-shuffle").toString
    val parts = corpus.grouped((corpus.size + 3) / 4).toSeq // 4 equal batches
    def df(chunk: Seq[graft.model.CorpusRow]) =
      spark.createDataFrame(chunk).select("repo", "path", "commit", "lang", "content")

    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) bytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val perBatch = parts.map { chunk =>
        bytes.set(0L)
        IncrementalDedup.processBatch(spark, df(chunk), stateDir, cfg)
        org.apache.spark.GraftTestBridge.waitListenerBus(spark.sparkContext)
        bytes.get()
      }
      // accumulated band/gram/signature state quadruples from batch 1 to
      // batch 4; the broadcast semi-join prunes keep it OUT of the
      // exchanges, so per-batch shuffle volume must track the BATCH
      // (constant here) plus output-sized terms (pairs merge, cross-batch
      // matches) — allow 1.5x headroom over the equal-sized first batch;
      // an unpruned probe side would re-shuffle the full accumulated
      // band+gram state (multiples of a batch's own volume) and blow
      // far past it
      assert(perBatch(3) < (perBatch(0) * 1.5).toLong,
        s"per-batch shuffle grew with corpus: ${perBatch.mkString(", ")} bytes")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("streaming restart from checkpoint: crash after engine commit, compaction mid-stream") {
    // The END-TO-END scenario the compaction replay guarantee was designed
    // for (round-4 VERDICT item 2), through the REAL Structured Streaming
    // recovery path, not simulated ids: ≥4 epochs commit via a file stream,
    // compactState runs mid-stream, then the stream crashes in the exact
    // window where the ENGINE marker for the newest epoch is durable but
    // the STREAMING checkpoint's epoch commit is not. The restart must
    // replay that epoch from the checkpoint, hit the committed marker,
    // no-op — and land on the batch pipeline's clusters.
    val stateDir = Files.createTempDirectory("graft-stream-restart").toString
    val inDir = Files.createTempDirectory("graft-stream-restart-in").toString
    val parts = corpus.grouped((corpus.size + 4) / 5).toSeq // 5 epochs
    def df(chunk: Seq[graft.model.CorpusRow]) =
      spark.createDataFrame(chunk).select("repo", "path", "commit", "lang", "content")
    val schema = df(parts.head).schema
    // one file per chunk + maxFilesPerTrigger=1 → one epoch per chunk
    parts.take(4).zipWithIndex.foreach { case (c, i) =>
      df(c).coalesce(1).write.mode("append").parquet(inDir)
    }

    val q1 = IncrementalDedup.startStream(spark, inDir, schema, stateDir, cfg,
      maxFilesPerTrigger = Some(1))
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(s"$stateDir/docs").count() === parts.take(4).map(_.size).sum.toLong)

    // mid-stream compaction between epochs (single-writer discipline):
    // epochs 0..2 merge into the gen-1 base, epoch 3 — the newest committed
    // batch, the one a restart may replay — stays un-superseded
    IncrementalDedup.compactState(spark, stateDir)
    assert(new java.io.File(s"$stateDir/docs/batch=-1").exists())

    // epoch 4 arrives; crash AFTER its engine commit marker is durable but
    // BEFORE the checkpoint commits the epoch (onBatchDone throws)
    df(parts(4)).coalesce(1).write.mode("append").parquet(inDir)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q2 = IncrementalDedup.startStream(spark, inDir, schema, stateDir, cfg,
      maxFilesPerTrigger = Some(1),
      onBatchDone = { id => seen.synchronized { seen += id }
        sys.error(s"injected crash after engine commit of epoch $id") })
    val crashed =
      try intercept[Exception] { q2.processAllAvailable(); q2.awaitTermination() }
      finally { if (q2.isActive) q2.stop() }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ messages(t.getCause)
    assert(messages(crashed).exists(_.contains("injected crash")),
      s"unexpected failure: ${messages(crashed)}")
    val crashedEpoch = seen.synchronized(seen.toList)
    assert(crashedEpoch === List(4L), s"expected exactly epoch 4 to commit+crash: $crashedEpoch")
    assert(new java.io.File(s"$stateDir/_commits/batch-4").exists(),
      "scenario broken: the engine marker must be durable before the crash")

    // restart from the checkpoint: epoch 4 replays, hits its marker, no-ops
    val replayed = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q3 = IncrementalDedup.startStream(spark, inDir, schema, stateDir, cfg,
      maxFilesPerTrigger = Some(1),
      onBatchDone = { id => replayed.synchronized { replayed += id }; () })
    try q3.processAllAvailable() finally q3.stop()
    assert(replayed.synchronized(replayed.toList) === List(4L),
      s"restart must replay exactly the crashed epoch: ${replayed.toList}")

    // no lost or duplicated docs, and the final clusters == one batch run
    assert(spark.read.parquet(s"$stateDir/docs").count() === corpus.size.toLong)
    assert(spark.read.parquet(s"$stateDir/docs").select("doc_id").distinct().count()
      === corpus.size.toLong)
    val batchClusters = DedupPipeline.run(spark, ingest.Ingest.ingest(df(corpus)), cfg)
      .clusters.as[(Long, Long)].collect().toMap
    val incClusters = IncrementalDedup.clusters(spark, stateDir, cfg)
      .as[(Long, Long)].collect().toMap
    assert(incClusters === batchClusters)
  }

  test("streaming query over a parquet file stream drives the same state") {
    val stateDir = Files.createTempDirectory("graft-stream2").toString
    val inDir = Files.createTempDirectory("graft-stream-in").toString
    val df = spark.createDataFrame(corpus.take(200))
      .select("repo", "path", "commit", "lang", "content")
    df.coalesce(1).write.mode("append").parquet(inDir)

    val q = IncrementalDedup.startStream(spark, inDir, df.schema, stateDir, cfg)
    try {
      q.processAllAvailable()
    } finally q.stop()

    val docs = new io.ParquetCatalog(stateDir).read(spark, "docs").count()
    assert(docs === 200L)
  }
}
