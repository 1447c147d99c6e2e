package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** FittedCache's contract, on stand-in contexts (an application id
  * plus a stopped flag) so no SparkContext has to stop. */
class FittedCacheSpec extends AnyFunSuite with Matchers {

  private val live = () => false

  private def tempFile(content: String): String = {
    val p = Files.createTempDirectory("fitted-cache").resolve("input.bin")
    Files.writeString(p, content)
    p.toString
  }

  private def build(counter: AtomicInteger): AnyRef = {
    counter.incrementAndGet()
    new Object
  }

  test("the same key returns the same instance and builds once") {
    val in = tempFile("abc")
    val n = new AtomicInteger()
    val a = FittedCache.getFor("app-same", live, "spec.same", Seq(in), Seq(1, "x"))(build(n))
    val b = FittedCache.getFor("app-same", live, "spec.same", Seq(in), Seq(1, "x"))(build(n))
    (a eq b) shouldBe true
    n.get shouldBe 1
    // other params are another entry
    val c = FittedCache.getFor("app-same", live, "spec.same", Seq(in), Seq(2, "x"))(build(n))
    (c eq a) shouldBe false
  }

  test("a changed input fingerprint rebuilds and replaces the old entry") {
    val in = tempFile("first")
    val n = new AtomicInteger()
    val a = FittedCache.getFor("app-fp", live, "spec.fp", Seq(in), Nil)(build(n))
    Files.writeString(Paths.get(in), "second, longer")
    val b = FittedCache.getFor("app-fp", live, "spec.fp", Seq(in), Nil)(build(n))
    (b eq a) shouldBe false
    n.get shouldBe 2
    FittedCache.entriesOf("spec.fp") shouldBe 1
    val c = FittedCache.getFor("app-fp", live, "spec.fp", Seq(in), Nil)(build(n))
    (c eq b) shouldBe true
  }

  test("the fingerprint covers every file under a directory") {
    val dir = Files.createTempDirectory("fitted-cache-dir")
    Files.writeString(dir.resolve("part-0"), "aaaa")
    val before = FittedCache.fingerprint(dir.toString)
    before._1 shouldBe 4L
    Files.writeString(dir.resolve("part-1"), "bb")
    val after = FittedCache.fingerprint(dir.toString)
    after._1 shouldBe 6L
    after should not be before
    FittedCache.fingerprint(dir.resolve("missing").toString) shouldBe ((0L, 0L))
  }

  test("two owners over the same inputs and params do not share an entry") {
    val in = tempFile("shared")
    val a = FittedCache.getFor("app-own", live, "spec.ownerA", Seq(in), Seq(1))("A")
    val b = FittedCache.getFor("app-own", live, "spec.ownerB", Seq(in), Seq(1))("B")
    a shouldBe "A"
    b shouldBe "B"
  }

  test("entries of a stopped context are evicted on the next get") {
    val in = tempFile("ctx")
    val stopped = new AtomicBoolean(false)
    FittedCache.getFor("app-stop", () => stopped.get, "spec.stopped", Seq(in), Nil)("v")
    FittedCache.entriesOf("spec.stopped") shouldBe 1
    stopped.set(true)
    FittedCache.getFor("app-other", live, "spec.other", Seq(in), Nil)("w")
    FittedCache.entriesOf("spec.stopped") shouldBe 0
  }

  test("a get nested inside another entry's build succeeds") {
    val in = tempFile("nested")
    val v = FittedCache.getFor("app-nest", live, "spec.outer", Seq(in), Nil) {
      FittedCache.getFor("app-nest", live, "spec.inner", Seq(in), Nil)(20) + 1
    }
    v shouldBe 21
    FittedCache.getFor("app-nest", live, "spec.inner", Seq(in), Nil)(-1) shouldBe 20
  }

  test("a build that throws is retried by the next get") {
    val in = tempFile("retry")
    an[IllegalStateException] should be thrownBy
      FittedCache.getFor[String]("app-retry", live, "spec.retry", Seq(in), Nil)(
        throw new IllegalStateException("boom"))
    FittedCache.getFor("app-retry", live, "spec.retry", Seq(in), Nil)("ok") shouldBe "ok"
  }

  test("concurrent gets of one key share a single build") {
    val in = tempFile("concurrent")
    val n = new AtomicInteger()
    val threads = (1 to 4).map { _ =>
      new Thread(() => {
        FittedCache.getFor("app-conc", live, "spec.conc", Seq(in), Nil) {
          Thread.sleep(50); build(n)
        }
        ()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    n.get shouldBe 1
  }
}
