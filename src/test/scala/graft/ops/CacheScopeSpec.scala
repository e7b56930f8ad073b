package graft.ops

import java.util.concurrent.{CountDownLatch, CyclicBarrier}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.{SparkEntry, SparkSpec}

/** TextKit's cache-scope contract: every cached relation has exactly one
  * owner, the scope current on the thread that cached it, and closing a
  * scope frees exactly what it owns. */
class CacheScopeSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** A relation with a plan of its own, cached into the current scope. */
  private def cachedRel(k: Int): DataFrame = {
    val df = TextKit.tracked(spark.range(100).selectExpr(s"id * $k AS v"))
    df.count()
    df
  }
  private def cached(df: DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE

  test("closing an inner scope frees only its own relations") {
    val outer = TextKit.cacheScope()
    val a = cachedRel(2)
    val inner = TextKit.cacheScope()
    val b = cachedRel(3)
    inner.close()
    assert(cached(a) && !cached(b))
    // the outer scope is current again: it owns what is cached next
    val c = cachedRel(4)
    TextKit.releaseCaches()
    assert(cached(a) && cached(c), "the root must not own scoped relations")
    outer.close()
    assert(!cached(a) && !cached(c))
  }

  test("two threads' scopes are open at once; closing one keeps the other's") {
    val bothOpen = new CyclicBarrier(2)
    val firstClosed = new CountDownLatch(1)
    val first = new AtomicReference[DataFrame]()
    val secondAfterClose = new AtomicReference[(Boolean, Boolean)]()
    val t1 = new Thread(() => {
      try TextKit.withCacheScope {
        first.set(cachedRel(5))
        bothOpen.await()
      } finally firstClosed.countDown()
    })
    val t2 = new Thread(() => TextKit.withCacheScope {
      val b = cachedRel(6)
      bothOpen.await()
      firstClosed.await()
      secondAfterClose.set((cached(first.get), cached(b)))
    })
    Seq(t1, t2).foreach(_.start())
    Seq(t1, t2).foreach(_.join())
    assert(secondAfterClose.get == ((false, true)),
      "the first scope frees its relation and only its relation")
  }

  test("relations cached inside inParallel go to the caller's scope") {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    val scope = TextKit.cacheScope()
    TextKit.inParallel(() => { got.add(cachedRel(7)); () },
      () => { got.add(cachedRel(8)); () })
    TextKit.releaseCaches()
    assert(got.size == 2 && got.stream.allMatch(cached(_)))
    scope.close()
    assert(got.stream.noneMatch(cached(_)))
  }

  test("inParallel rethrows one failure carrying the others as suppressed") {
    val e = intercept[IllegalStateException](TextKit.inParallel(
      () => throw new IllegalStateException("a"),
      () => throw new IllegalStateException("b")))
    assert(e.getSuppressed.length == 1)
    assert(Set(e.getMessage, e.getSuppressed.head.getMessage) == Set("a", "b"))
  }

  test("a components result returned with no scope open frees itself") {
    val sc = spark.sparkContext
    val cacheManager = spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // private[sql] in Scala, a public method in bytecode
    def entries = cacheManager.getClass.getMethod("numCachedEntries")
      .invoke(cacheManager).asInstanceOf[Int]
    val before = sc.getPersistentRDDs.keySet
    val entriesBefore = entries
    // three chains of 10 ids: 30 labeled ids; the frames die with this call
    def labelAndDrop(): Seq[Long] = {
      val pairs = spark.range(30).where("id % 10 != 9")
        .selectExpr("id AS doc_a", "id + 1 AS doc_b")
      Seq(Components.connectedComponentsStars(pairs),
          Components.connectedComponents(pairs))
        .map(_.where("component_id % 10 = 0").count())
    }
    assert(labelAndDrop() == Seq(30L, 30L))
    assert(entries == entriesBefore,
      "a returned result must not be a CacheManager entry")
    val deadline = System.nanoTime() + 10000000000L
    def left = sc.getPersistentRDDs.keySet -- before
    while (left.nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(100)
    }
    assert(left.isEmpty, s"dropped results still persist RDDs ${left.mkString(",")}")
  }

  for (q <- Seq("q84_ann_pq", "q64_components_stars", "q137_abtt",
      "q212_stream_index_maintain", "q128_bpe_token_mix", "q129_stream_bpe",
      "q200_kcore"))
    test(s"$q leaves no persisted RDD once its scope closes") {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      TextKit.withCacheScope {
        SparkEntry.queries(q)(spark, sf).write.format("noop")
          .mode("overwrite").save()
      }
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"$q left persisted RDDs ${left.mkString(",")}")
    }
}
