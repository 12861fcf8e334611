package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The in-session memo behind SparkEntry's and TrainPrep's shared builds:
  * one build per (session, key) under concurrent first callers, keyed by
  * session identity, bounded with least-recently-used release, and a
  * released entry's DataFrame still answers (by recomputing).
  */
class SessionMemoSpec extends AnyFunSuite with SparkTestBase {

  test("concurrent first callers of one key run the build exactly once") {
    val builds = new AtomicInteger(0)
    val memo = new SessionMemo[String, Int](_ => ())
    val pool = Executors.newFixedThreadPool(8)
    val go = new CountDownLatch(1)
    try {
      val futs = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            go.await()
            memo(spark, "k") { Thread.sleep(300); builds.incrementAndGet() }
          }
        })
      }
      go.countDown()
      val got = futs.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get == 1, s"${builds.get} builds for one key")
      assert(got.forall(_ == 1))
    } finally pool.shutdownNow()
  }

  test("keyed by session; past the bound the least-recently-used entry is released") {
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    val memo = new SessionMemo[String, String](v => released.synchronized(released += v))
    val other = spark.newSession()
    assert(memo(spark, "a")("a@main") == "a@main")
    assert(memo(other, "a")("a@other") == "a@other", "a second session must get its own entry")
    assert(memo(spark, "a")("rebuilt") == "a@main")
    memo(spark, "b")("b"); memo(spark, "c")("c")
    memo(spark, "a")("rebuilt") // touch: "a@other" is now the eldest
    memo(spark, "d")("d")
    assert(released.toSeq == Seq("a@other"))
    assert(memo(spark, "a")("rebuilt") == "a@main")
    assert(memo(other, "a")("a@other2") == "a@other2", "an evicted entry is rebuilt")
    assert(released.toSeq == Seq("a@other", "b"))
    assert(SessionMemo.Capacity == 4)
  }

  test("a DataFrame taken from an evicted entry still collects the same rows") {
    val memo = new SessionMemo[Int, org.apache.spark.sql.DataFrame](_.unpersist(blocking = true))
    val df = memo(spark, 0)(spark.range(0, 1000).selectExpr("id", "id * 7 % 13 AS v").persist())
    val rows = df.orderBy("id").collect().toSeq
    val others = (1 to SessionMemo.Capacity).map(i => memo(spark, i)(spark.range(i).toDF().persist()))
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "entry 0 was not released by the bound")
    assert(df.orderBy("id").collect().toSeq == rows)
    others.foreach(_.unpersist(blocking = true))
  }
}
