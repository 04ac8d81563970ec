package graft

import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Fixtures

/** The one memo's contract: compute once per key under concurrency,
  * nesting without deadlock, and session ownership.
  */
class MemoSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.withDefaults(SparkSession.builder())
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val ids = new AtomicInteger
  private def key(name: String) = (s"memospec.$name", ids.incrementAndGet())

  /** Runs `f(i)` for i in 0 until 8 on 8 threads released together. */
  private def concurrently[A](f: Int => A): Seq[A] = {
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val start = new CountDownLatch(1)
    try {
      val fs = (0 until 8).map(i => Future { start.await(); f(i) })
      start.countDown()
      Await.result(Future.sequence(fs), 60.seconds)
    } finally pool.shutdownNow()
  }

  test("a key is computed once under 8 concurrent callers") {
    val k = key("once")
    val calls = new AtomicInteger
    val vs = concurrently { _ =>
      Memo(k) { calls.incrementAndGet(); Thread.sleep(200); new Object }
    }
    assert(calls.get == 1)
    assert(vs.forall(_ eq vs.head))
  }

  test("nested Memo calls from concurrent callers do not deadlock") {
    val (w, h, a) = (key("world"), key("history"), key("archive"))
    val calls = new AtomicInteger
    def world(): Int = Memo(w) { calls.incrementAndGet(); Thread.sleep(100); 1 }
    def history(): Int =
      Memo(spark, h) { calls.incrementAndGet(); Thread.sleep(100); world() + 1 }
    def archive(): Int =
      Memo(spark, a) { calls.incrementAndGet(); history() + 1 }
    // callers enter the chain at every level at once
    val vs = concurrently { i =>
      i % 3 match { case 0 => archive(); case 1 => history(); case _ => world() }
    }
    assert(vs == (0 until 8).map(i => 3 - i % 3))
    assert(calls.get == 3)
  }

  test("a session-bound value is rebuilt for another session; a plain one is not") {
    val other = spark.newSession()
    val k = key("bound")
    val calls = new AtomicInteger
    def bound(s: SparkSession) = Memo(s, k) { calls.incrementAndGet(); new Object }
    val a = bound(spark)
    assert(bound(spark) eq a)
    val b = bound(other)
    assert((b ne a) && calls.get == 2)
    assert(bound(other) eq b)

    val w1 = Fixtures.generate(spark, nAddresses = 5, nBlocks = 11, seed = 77L)
    assert(Fixtures.generate(spark, 5, 11, 77L) eq w1)
    val w2 = Fixtures.generate(other, 5, 11, 77L)
    assert(w2 ne w1)
    assert(w2.accountChangeset.sparkSession eq other)
    val sim = Fixtures.simulate(5, 11, 77L)
    assert(Fixtures.simulate(5, 11, 77L) eq sim)
  }

  test("Fixtures.simulate needs no SparkSession") {
    val active = SparkSession.getActiveSession
    val default = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val sim = Fixtures.simulate(6, 13, 78L)
      assert(sim.accountChangeset.nonEmpty)
      assert(Fixtures.simulate(6, 13, 78L) eq sim)
      assert(SparkSession.getActiveSession.isEmpty)
      assert(SparkSession.getDefaultSession.isEmpty)
    } finally {
      default.foreach(SparkSession.setDefaultSession)
      active.foreach(SparkSession.setActiveSession)
    }
  }
}
