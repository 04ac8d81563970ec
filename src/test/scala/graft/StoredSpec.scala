package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.scalatest.funsuite.AnyFunSuite

/** The write-once directory store's contract: a committed directory is
  * served as is, anything else is rebuilt from empty, and builds are
  * serialized per path only.
  */
class StoredSpec extends AnyFunSuite {

  private def fresh(): Path =
    Files.createTempDirectory("graft-stored").resolve("store")

  private def write(dir: String, name: String, text: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name), text.getBytes("UTF-8"))
  }

  test("a warm call does not run build and returns the absolute path") {
    val p = fresh()
    val calls = new AtomicInteger
    def store() = Stored.dir(p.toString) { d =>
      calls.incrementAndGet(); write(d, "a", "1")
    }
    val first = store()
    assert(first == p.toAbsolutePath.normalize.toString)
    assert(Files.isRegularFile(p.resolve(Stored.Marker)))
    assert(store() == first)
    assert(calls.get == 1)
    // a relative spelling of the same path is the same store
    val rel = Paths.get("").toAbsolutePath.relativize(p).toString
    assert(Stored.dir(rel)(_ => calls.incrementAndGet()) == first)
    assert(calls.get == 1)
  }

  test("an unmarked directory is wiped before the build") {
    val p = fresh()
    write(p.toString, "stale", "left by a crashed build")
    Stored.dir(p.toString)(d => write(d, "a", "1"))
    assert(!Files.exists(p.resolve("stale")))
    assert(Files.exists(p.resolve("a")))
  }

  test("a throwing build leaves no directory; the next call builds from empty") {
    val p = fresh()
    val ex = intercept[IllegalStateException] {
      Stored.dir(p.toString) { d =>
        write(d, "partial", "x"); throw new IllegalStateException("boom")
      }
    }
    assert(ex.getMessage == "boom")
    assert(!Files.exists(p))
    Stored.dir(p.toString) { d =>
      assert(!Files.exists(Paths.get(d)), "build did not start from empty")
      write(d, "a", "1")
    }
    assert(Files.isRegularFile(p.resolve(Stored.Marker)))
    assert(!Files.exists(p.resolve("partial")))
  }

  test("deleting the marker forces a rebuild") {
    val p = fresh()
    val calls = new AtomicInteger
    def store() = Stored.dir(p.toString) { d =>
      write(d, "n", calls.incrementAndGet().toString)
    }
    store()
    Files.delete(p.resolve(Stored.Marker))
    store()
    assert(calls.get == 2)
    assert(new String(Files.readAllBytes(p.resolve("n")), "UTF-8") == "2")
    store()
    assert(calls.get == 2)
  }

  test("two threads on one path run build once") {
    val p = fresh()
    val calls = new AtomicInteger
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val start = new CountDownLatch(1)
    try {
      val fs = (0 until 2).map(_ => Future {
        start.await()
        Stored.dir(p.toString) { d =>
          calls.incrementAndGet(); Thread.sleep(200); write(d, "a", "1")
        }
      })
      start.countDown()
      val paths = Await.result(Future.sequence(fs), 60.seconds)
      assert(paths.distinct.size == 1)
    } finally pool.shutdownNow()
    assert(calls.get == 1)
  }

  test("a build blocked on path A does not block a call for path B") {
    val (a, b) = (fresh(), fresh())
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val pool = Executors.newSingleThreadExecutor()
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fa = Future(Stored.dir(a.toString) { d =>
        entered.countDown(); release.await(60, TimeUnit.SECONDS)
        write(d, "a", "1")
      })
      assert(entered.await(30, TimeUnit.SECONDS))
      // runs on this thread while A's build holds A's lock
      val t0 = System.nanoTime()
      Stored.dir(b.toString)(d => write(d, "b", "1"))
      assert((System.nanoTime() - t0) / 1e9 < 10.0, "path B waited on A")
      assert(!fa.isCompleted)
      release.countDown()
      Await.result(fa, 60.seconds)
    } finally { release.countDown(); pool.shutdownNow() }
    assert(Files.isRegularFile(a.resolve(Stored.Marker)))
    assert(Files.isRegularFile(b.resolve(Stored.Marker)))
  }
}
