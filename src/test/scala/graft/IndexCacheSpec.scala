package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame

import graft.operators.IndexCache

/** The cache's contract: an entry is keyed by the mtime of its source
  * table, every entry is a cut, and releasing an entry frees only the
  * checkpoint leaves no live entry reads. Races are forced
  * deterministically: two threads that BOTH enter `build` for the same
  * key (a latch holds them inside) must converge on one published
  * relation, and only the losing thread's own leaves may be freed. */
class IndexCacheSpec extends SparkSpec {

  /** A dataset dir holding a `documents.parquet` for the cache to
    * stat, both deleted when the JVM exits. */
  private def datasetDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    dir.toFile.deleteOnExit()
    Files.write(dir.resolve("documents.parquet"), Array[Byte](1)).toFile
      .deleteOnExit()
    dir
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Waits (up to 15 s; blocks are freed asynchronously) until `done`. */
  private def eventually(done: => Boolean): Boolean = {
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (!done && System.nanoTime() < deadline) Thread.sleep(100)
    done
  }

  private def cutOf(n: Long): DataFrame =
    spark.range(n).toDF("v").transform(Checkpointing.cut)

  private def leafIds(df: DataFrame): Set[Int] =
    Checkpointing.leaves(df).map(_.id).toSet

  /** Runs `build` in two threads that both enter it before either
    * returns; the two `getOrBuild` results. */
  private def race(cache: IndexCache, dir: String)(build: => DataFrame)
      : (DataFrame, DataFrame, Int) = {
    val inBuild = new CountDownLatch(2)
    val go = new CountDownLatch(1)
    val builds = new AtomicInteger(0)
    def gated(): DataFrame = {
      builds.incrementAndGet()
      inBuild.countDown()
      go.await(20, TimeUnit.SECONDS)
      build
    }
    val pool = Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(() => cache.getOrBuild(spark, dir)(gated()))
      val fb = pool.submit(() => cache.getOrBuild(spark, dir)(gated()))
      // both threads are inside build() -> the race is real, not timing luck
      assert(inBuild.await(20, TimeUnit.SECONDS), "both builds must start")
      go.countDown()
      (fa.get(20, TimeUnit.SECONDS), fb.get(20, TimeUnit.SECONDS), builds.get())
    } finally pool.shutdownNow()
  }

  test("racing CHECKPOINT builds free the loser's private blocks, " +
      "winner's stay intact") {
    val cache = new IndexCache("documents")
    val dir = datasetDir("graft-race").toString
    val before = persisted
    try {
      // each localCheckpoint materializes its OWN RDD even for identical
      // plans — the distinct-storage case where a leaked loser really
      // does double the footprint
      val (a, b, builds) = race(cache, dir)(cutOf(100))
      assert(builds === 2, "latch must have forced two builds")
      assert(a eq b, "both callers must get the one published relation")
      assert(cache.keys.count(_._2 == dir) === 1)
      assert(eventually((persisted -- before).size == 1),
        s"loser's checkpoint must be freed: ${persisted -- before}")
      assert(a.count() === 100L)
    } finally cache.invalidate()
  }

  test("racing builds of an entry that reads another entry's leaf " +
      "free only the loser's own leaf") {
    val (corpus, merged) = (new IndexCache("documents"), new IndexCache("documents"))
    val dir = datasetDir("graft-shared").toString
    try {
      val a = corpus.getOrBuild(spark, dir)(cutOf(10))
      val before = persisted
      // both builds union the corpus entry's leaf with a delta cut of
      // their own, as the merged indexes do
      val (b1, b2, builds) =
        race(merged, dir)(a.unionByName(spark.range(10, 15).toDF("v")
          .transform(Checkpointing.cut)))
      assert(builds === 2 && (b1 eq b2))
      val winnerDelta = leafIds(b1) -- leafIds(a)
      assert(winnerDelta.size === 1)
      // only the loser's delta leaf is freed: the corpus leaf and the
      // winner's delta leaf stay
      assert(eventually(persisted -- before == winnerDelta),
        s"expected only ${winnerDelta} added, saw ${persisted -- before}")
      assert(leafIds(a).subsetOf(persisted), "the corpus leaf must stay")
      assert(a.count() === 10L)
      assert(b1.count() === 15L)
    } finally {
      merged.invalidate()
      corpus.invalidate()
    }
  }

  test("evicting an entry keeps a leaf another live entry still reads, " +
      "and the last reader's eviction frees it") {
    val (corpus, merged) = (new IndexCache("documents"), new IndexCache("documents"))
    val dir = datasetDir("graft-evict").toString
    try {
      val a = corpus.getOrBuild(spark, dir)(cutOf(10))
      val b = merged.getOrBuild(spark, dir)(
        a.unionByName(spark.range(10, 15).toDF("v").transform(Checkpointing.cut)))
      val (shared, all) = (leafIds(a), leafIds(b))
      corpus.invalidate()
      assert(corpus.keys.isEmpty)
      assert(all.subsetOf(persisted), "B still reads A's leaf: nothing is freed")
      assert(b.count() === 15L)
      merged.invalidate()
      assert(eventually((all ++ shared).intersect(persisted).isEmpty),
        s"with no live reader left both leaves are freed: ${all.intersect(persisted)}")
    } finally {
      merged.invalidate()
      corpus.invalidate()
    }
  }

  test("a build that is not a cut is rejected and publishes nothing") {
    val cache = new IndexCache("documents")
    val dir = datasetDir("graft-notcut").toString
    try {
      val e = intercept[IllegalArgumentException](
        cache.getOrBuild(spark, dir)(spark.range(3).toDF("v")))
      assert(e.getMessage.contains("checkpoint leaves"))
      // a projection over a cut still reads only checkpoint leaves
      assert(cache.getOrBuild(spark, dir)(
        cutOf(3).selectExpr("v * 2 AS v")).count() === 3L)
      assert(cache.keys.size === 1)
    } finally cache.invalidate()
  }

  test("a failed mtime stat reuses the live entry instead of rebuilding") {
    val cache = new IndexCache("documents")
    val dir = datasetDir("graft-stat")
    val table = dir.resolve("documents.parquet")
    try {
      val built = new AtomicInteger(0)
      def build(): DataFrame = {
        built.incrementAndGet()
        cutOf(10)
      }
      val first = cache.getOrBuild(spark, dir.toString)(build())
      val mtime = Files.getLastModifiedTime(table).toMillis
      assert(cache.keys.map(_._3) === Set(mtime))
      // transient stat failure: a missing table must be a no-op lookup,
      // not an eviction-and-rebuild (round 3 keyed failures as 0L and
      // evicted the healthy entry)
      Files.delete(table)
      val second = cache.getOrBuild(spark, dir.toString)(build())
      assert(second eq first)
      assert(built.get() === 1)
      assert(cache.keys.count(_._2 == dir.toString) === 1)
      // recovery: the next successful stat with a NEW mtime still evicts
      Files.write(table, Array[Byte](2))
      Files.setLastModifiedTime(table, FileTime.fromMillis(mtime + 60000L))
      val third = cache.getOrBuild(spark, dir.toString)(build())
      assert(!(third eq first))
      assert(built.get() === 2)
      assert(cache.keys.filter(_._2 == dir.toString).map(_._3) ===
        Set(mtime + 60000L))
    } finally cache.invalidate()
  }
}
