package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** [[Fixture.once]]: one build per key under concurrency, failed builds
  * retried, and a build that memoizes another fixture (the `join_spj` →
  * `db.part` shape) completing without a recursive-update error; and
  * `txCatalogWarehouse`'s one-corpus-dir-per-JVM refusal. */
class FixtureSpec extends AnyFunSuite {
  private def key(): String = java.util.UUID.randomUUID().toString

  test("two concurrent callers with one key run build once") {
    val k = key()
    val builds = new AtomicInteger()
    val bothStarted = new CountDownLatch(2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map(_ => pool.submit(() => {
        bothStarted.countDown()
        bothStarted.await(10, TimeUnit.SECONDS)
        Fixture.once("concurrent", k) {
          builds.incrementAndGet()
          Thread.sleep(200) // hold the build so the other caller arrives
          "built"
        }
      }))
      assert(calls.map(_.get(30, TimeUnit.SECONDS)) == Seq("built", "built"))
      assert(builds.get() == 1)
    } finally pool.shutdownNow(): Unit
  }

  test("a throwing build is not memoized: the next call retries") {
    val k = key()
    val builds = new AtomicInteger()
    val e = intercept[IllegalStateException](
      Fixture.once[Long]("retry", k) {
        builds.incrementAndGet()
        throw new IllegalStateException("first build fails")
      })
    assert(e.getMessage == "first build fails")
    assert(Fixture.once("retry", k) { builds.incrementAndGet(); 7L } == 7L)
    assert(Fixture.once("retry", k) { builds.incrementAndGet(); 8L } == 7L)
    assert(builds.get() == 2)
  }

  test("a nested once (a fixture building another) returns without error") {
    val k = key()
    def inner(i: Int): Long = Fixture.once("nested-inner", s"$k/$i")(i.toLong)
    // enough inner fixtures that a build run inside the shared map's
    // computeIfAbsent would meet its own reserved bin or a resize
    val outer = Fixture.once("nested-outer", k)((0 until 64).map(inner).sum)
    assert(outer == (0 until 64).sum.toLong)
    assert(inner(5) == 5L)
  }

  test("txCatalogWarehouse: a second corpus dir is refused, graft_tx stays bound") {
    // binds graft_tx for the rest of this JVM: no other test may call
    // txCatalogWarehouse with a different dir
    val spark = TestSpark.spark
    def corpus(n: Int): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-corpus").toString
      spark.range(n).selectExpr("id AS doc_id",
        "element_at(array('en', 'de', 'fr'), CAST(id % 3 + 1 AS INT)) AS lang",
        "CAST(id * 10 AS INT) AS n_chars").write.parquet(s"$dir/documents.parquet")
      dir
    }
    val (first, second) = (corpus(6), corpus(9))
    val wh = EntryHelpers.txCatalogWarehouse(spark, first)
    assert(EntryHelpers.txCatalogWarehouse(spark, first) == wh)
    val e = intercept[IllegalStateException] {
      EntryHelpers.txCatalogWarehouse(spark, second)
    }
    assert(e.getMessage.contains(first) && e.getMessage.contains(second))
    assert(spark.conf.get("spark.sql.catalog.graft_tx.root") == wh)
    // the table's last commit is the fr overwrite: 2 of the first corpus's
    // 6 docs (the second corpus would give 3 of 9)
    assert(spark.table("graft_tx.db.t").count() == 2)
  }
}
