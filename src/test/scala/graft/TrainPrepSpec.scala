package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.extra.TrainPrep

/** Training-set prep operators: deterministic split assignment, two-phase
  * shard packing (incl. bucket-count invariance — the property that makes
  * the distributed prefix sum correct), stratified quota sampling.
  */
class TrainPrepSpec extends AnyFunSuite with SparkTestBase {

  private val d = "/root/testdata/sf0.001"

  test("splitAssign: deterministic, bucketed 0..255, sane fractions") {
    val a = TrainPrep.splitAssign(spark, d).collect()
    val b = TrainPrep.splitAssign(spark, d).collect()
    assert(a.toSeq == b.toSeq, "same salt must give identical assignment")
    assert(a.forall { r => val v = r.getLong(1); v >= 0 && v < 256 })
    val n = a.length.toDouble
    val frac = a.groupBy(_.getString(2)).view.mapValues(_.length / n).toMap
    // 50 docs at sf0.001 — loose envelopes around 79.7/10.2/10.1%
    assert(frac("train") > 0.6 && frac("train") < 0.95, frac.toString)
    assert(frac.getOrElse("val", 0.0) + frac.getOrElse("test", 0.0) > 0.05)
    // bucket↔split rule is exactly the thresholds
    assert(a.forall { r =>
      val (v, s) = (r.getLong(1), r.getString(2))
      s == (if (v < 204) "train" else if (v < 230) "val" else "test")
    })
    // a different salt must reshuffle at least one doc (non-vacuous salt)
    val c = TrainPrep.splitAssign(spark, d, salt = "other").collect()
    assert(a.map(_.getLong(1)).toSeq != c.map(_.getLong(1)).toSeq)
  }

  test("packShards: invariant to bucket count, budget respected, monotone") {
    val budget = 500L
    val p8 = TrainPrep.packShards(spark, d, budget, numBuckets = 8).collect()
    val p64 = TrainPrep.packShards(spark, d, budget, numBuckets = 64).collect()
    val p1 = TrainPrep.packShards(spark, d, budget, numBuckets = 1).collect()
    assert(p8.map(r => (r.getLong(0), r.getLong(2))).toSeq ==
      p64.map(r => (r.getLong(0), r.getLong(2))).toSeq,
      "shard assignment must not depend on the bucketing")
    assert(p8.map(r => (r.getLong(0), r.getLong(2))).toSeq ==
      p1.map(r => (r.getLong(0), r.getLong(2))).toSeq)
    assert(p8.length > 0 && p8.last.getLong(2) > 0, "multiple shards expected")
    // shard ids are non-decreasing in doc_id order (contiguous packing)
    val ids = p8.map(_.getLong(2))
    assert(ids.zip(ids.tail).forall { case (x, y) => y == x || y == x + 1 })
    // floor-packing bound: each shard ≤ budget + (max doc tokens − 1)
    val maxTok = p8.map(_.getLong(1)).max
    val perShard = p8.groupBy(_.getLong(2)).view.mapValues(_.map(_.getLong(1)).sum)
    assert(perShard.values.forall(_ <= budget + maxTok - 1), perShard.toMap.toString)
    // every shard except possibly the last crossed its budget boundary:
    // the cumulative token mass at each interior shard's close must reach
    // (shard_id+1)·budget, and no shard id is skipped (the round-5 ADVICE
    // pointed out the old `forall(_ >= 1)` was vacuous — groupBy values
    // are ≥ 1 by construction)
    val lastShard = ids.max
    assert((0L to lastShard).forall(perShard.keySet.contains), "gap in shard ids")
    var cum = 0L
    val closeCum = scala.collection.mutable.Map.empty[Long, Long]
    p8.foreach { r => cum += r.getLong(1); closeCum(r.getLong(2)) = cum }
    assert(closeCum.collect { case (s, c) if s != lastShard => (s, c) }
      .forall { case (s, c) => c >= (s + 1) * budget },
      s"interior shard closed before its budget boundary: $closeCum")
  }

  test("packShards skew guard: clustered id space is auto-rebucketed to a bounded plan") {
    // dense id block (2000 ids spaced 15 apart) + one far outlier: with 8
    // buckets the whole block lands in bucket 0 — the near-single-task
    // window the guard exists to catch. The auto-raise must refine until
    // no bucket exceeds the row cap, without changing the assignment.
    val dir = java.nio.file.Files.createTempDirectory("graft-skewids").toString
    val ids = (0 until 2000).map(_.toLong * 15) :+ 1000000L
    spark.createDataFrame(ids.map(i => (i, s"tok$i word$i more$i", "en")))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val budget = 100L
    val (cached, out, effBuckets) =
      TrainPrep.buildPacked(spark, dir, budget, 8, maxBucketRows = 256L)
    val packed = out.orderBy("doc_id").collect()
    cached.unpersist(blocking = false)
    assert(effBuckets > 8, "skewed id space was not rebucketed")
    // bounded plan: recompute the bucket histogram at the effective grid
    val minId = ids.min; val maxId = ids.max
    val width = math.max(1L, (maxId - minId) / effBuckets + 1)
    val hist = ids.groupBy(i => (i - minId) / width).view.mapValues(_.size).toMap
    assert(hist.values.max <= 256, s"bucket still oversized: max=${hist.values.max}")
    // correctness unchanged: matches the single-window reference
    val nTok = packed.map(r => r.getLong(0) -> r.getLong(1)).toMap
    var run = 0L
    val ref = ids.sorted.map { i => val s = run / budget; run += nTok(i); (i, s) }
    assert(packed.map(r => (r.getLong(0), r.getLong(2))).toSeq == ref.toSeq,
      "rebucketed assignment differs from the global-window reference")
  }

  private def persisted: Int = spark.sparkContext.getPersistentRDDs.size

  /** A small corpus of its own: a distinct input, so a distinct cached plan. */
  private def tinyCorpus(tag: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-pack-$tag").toString
    spark.createDataFrame((0 until 40).map(i => (i.toLong, s"w$tag t$i " * (1 + i % 5), "en")))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("packShards memo is bounded: 6 inputs in one session leave at most 4 persisted projections") {
    val dirs = (1 to 6).map(tinyCorpus)
    val before = persisted
    dirs.zipWithIndex.foreach { case (dir, i) =>
      assert(TrainPrep.packShards(spark, dir, budget = 50L + i).count() == 40)
    }
    assert(persisted - before <= graft.SessionMemo.Capacity,
      s"${persisted - before} persisted projections after 6 inputs")
  }

  test("packShards memo across sessions: 6 fresh sessions leave at most 4 persisted projections") {
    val dirs = (1 to 6).map(i => tinyCorpus(10 + i))
    val before = persisted
    val shared = TrainPrep.packShards(spark, d).collect().toSeq
    dirs.foreach { dir =>
      val s = spark.newSession()
      assert(TrainPrep.packShards(s, d).collect().toSeq == shared)
      assert(TrainPrep.packShards(s, dir).count() == 40)
    }
    assert(persisted - before <= graft.SessionMemo.Capacity,
      s"${persisted - before} persisted projections after 6 sessions")
  }

  test("packShards memo: evicting one budget of an input keeps the projection its other budgets use") {
    val x = tinyCorpus(30)
    val others = (31 to 33).map(tinyCorpus)
    // the tokenized projection every packing of `x` shares; the cache is
    // matched by plan, so this handle reports the cache the memo holds
    val projection = spark.read.parquet(s"$x/documents.parquet").select(
      col("doc_id"), size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
    def pack(dir: String, budget: Long): Unit =
      assert(TrainPrep.packShards(spark, dir, budget).count() == 40)
    pack(x, 50L); pack(x, 60L)
    pack(others(0), 50L); pack(others(1), 50L)
    pack(x, 60L) // x at 60 is now the most recently used, x at 50 the eldest
    pack(others(2), 50L) // one more key past the bound evicts x at 50 only
    assert(projection.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "evicting one budget of an input uncached the projection its live budget packs from")
  }

  test("stratifiedSample pre-filter: exact on skewed groups, loud fallback when starved") {
    // planted skewed corpus: group sizes 3 / 60 / 600
    val dir = java.nio.file.Files.createTempDirectory("graft-strat").toString
    val rows = (0 until 3).map(i => (i.toLong, s"t$i", "aa")) ++
      (100 until 160).map(i => (i.toLong, s"t$i", "bb")) ++
      (1000 until 1600).map(i => (i.toLong, s"t$i", "cc"))
    spark.createDataFrame(rows).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val plain = TrainPrep.stratifiedSample(spark, dir, k = 5).collect().toSeq
    val filtered = TrainPrep.stratifiedSample(spark, dir, k = 5, preFilter = true).collect().toSeq
    assert(filtered == plain, "pre-filtered sample differs from the unfiltered window")
    // starved pre-filter (overshoot ≈ 0 → cut keeps almost nothing) must
    // fall back to the exact unfiltered result, not silently under-sample
    val starved = TrainPrep.stratifiedSample(spark, dir, k = 5, preFilter = true,
      overshoot = 1e-9).collect().toSeq
    assert(starved == plain, "fallback path returned a different sample")
  }

  test("packShards plans no globally-partitioned window (the 100-TB trap)") {
    val df = TrainPrep.packShards(spark, d, budget = 500L)
    df.count() // materialize so executedPlan is the final adaptive plan
    // The prefix window must be partitioned by pid; a windowspecdefinition
    // without it is the single-task global scan the two-phase design
    // exists to avoid. String assertion (PlanSpec pattern) because AQE's
    // QueryStageExec leaves hide the inner plan from tree collect.
    val lines = df.queryExecution.executedPlan.toString().linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(lines.nonEmpty, "expected the within-bucket prefix window")
    assert(lines.forall(_.contains("pid#")),
      s"window not partitioned by pid:\n${lines.mkString("\n")}")
  }

  test("stratifiedSample: exact quota per lang, deterministic, consistent") {
    val k = 5
    val s1 = TrainPrep.stratifiedSample(spark, d, k).collect()
    val s2 = TrainPrep.stratifiedSample(spark, d, k).collect()
    assert(s1.toSeq == s2.toSeq)
    val langSizes = spark.read.parquet(s"$d/documents.parquet")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = s1.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    langSizes.foreach { case (lang, n) =>
      assert(got.getOrElse(lang, 0) == math.min(k.toLong, n),
        s"lang $lang: quota ${math.min(k.toLong, n)} got ${got.getOrElse(lang, 0)}")
    }
    assert(s1.forall(r => r.getLong(2) >= 1 && r.getLong(2) <= k))
    // sampled rows carry the document's true lang
    val docLang = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s1.forall(r => docLang(r.getLong(0)) == r.getString(1)))
  }
}
