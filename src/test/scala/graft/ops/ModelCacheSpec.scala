package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** The memo contract: a key trains exactly once, distinct keys train
  * independently, the memoized value is returned verbatim (determinism
  * makes a hit indistinguishable from a retrain — this pins the
  * mechanism, the oracles pin the determinism), and the counters and
  * the storage bound account for every entry.
  */
class ModelCacheSpec extends AnyFunSuite {

  private lazy val spark = graft.SparkTestSession.spark
  private val tag = System.identityHashCode(this)

  test("trains once per key, returns the same artifact, keys are independent") {
    var trainsA = 0
    var trainsB = 0
    val a1 = ModelCache.value("mc-spec-a", tag)() { trainsA += 1; Seq(1, 2, 3) }
    val a2 = ModelCache.value("mc-spec-a", tag)() { trainsA += 1; Seq(9, 9, 9) }
    assert(trainsA == 1, "second call must not retrain")
    assert((a1 eq a2) && a1 == Seq(1, 2, 3), "hit returns the FIRST artifact")
    val b = ModelCache.value("mc-spec-b", tag)() { trainsB += 1; Seq(4) }
    assert(trainsB == 1 && b == Seq(4), "a different key trains on its own")
    val c = ModelCache.value("mc-spec-a", tag + 1)() { Seq(5) }
    assert(c == Seq(5), "a different hyperparameter is a different key")
  }

  test("a trainer may itself consult the cache (no computeIfAbsent reentrancy trap)") {
    // under computeIfAbsent this recursive shape threw
    // IllegalStateException when both keys landed in one hash bin; the
    // get/putIfAbsent form must simply train both
    val v = ModelCache.value("mc-spec-outer", tag)() {
      val sub = ModelCache.value("mc-spec-inner", tag)() { Seq(7) }
      sub.map(_ * 2)
    }
    assert(v == Seq(14))
    assert(ModelCache.value("mc-spec-inner", tag)() { Seq(-1) } == Seq(7))
  }

  test("sessionCached keys by applicationId and evictSession drops the session's entries") {
    val appId = spark.sparkContext.applicationId
    var builds = 0
    def df(n: Int) = ModelCache.frame("mc-spec-df", tag)() {
      builds += 1; spark.range(n).toDF()
    }
    val d1 = df(3)
    val d2 = df(9)
    assert(builds == 1 && (d1 eq d2),
      "a frame builds once per (applicationId, key) and a hit is the same object")
    assert(ModelCache.listenerRegisteredFor(appId),
      "the evict-on-stop listener registers on first use")
    // the listener path, driven directly (a second local SparkContext
    // cannot be stopped inside the shared-session test JVM)
    ModelCache.evictSession(appId)
    assert(ModelCache.listenerRegisteredFor(appId),
      "the listener registration is not an evictable entry: dropping it " +
        "would register a duplicate listener on the next frame call")
    val d3 = df(5)
    assert(builds == 2 && d3.count() == 5,
      "after eviction the frame rebuilds cleanly")
  }

  test("a frame's key is its input's content, not its name alone") {
    val a = spark.range(4).toDF("id")
    val b = spark.range(6).toDF("id")
    val fa = ModelCache.frame("mc-spec-content", tag)(a)(a)
    val fb = ModelCache.frame("mc-spec-content", tag)(b)(b)
    assert(fa.count() == 4 && fb.count() == 6,
      "two inputs with different content are two entries")
    val derived = ModelCache.frame("mc-spec-derived", tag)(fa)(fa.filter("id > 0"))
    assert(derived.count() == 3)
    assert(ModelCache.frame("mc-spec-derived", tag)(fa)(fa) eq derived,
      "an input built on a memo frame fingerprints by that memo")
  }

  test("hits and misses are counted") {
    val before = ModelCache.stats
    ModelCache.value("mc-spec-count", tag)() { Seq(1) }
    ModelCache.value("mc-spec-count", tag)() { Seq(2) }
    ModelCache.value("mc-spec-count", tag)() { Seq(3) }
    val after = ModelCache.stats
    assert(after.misses - before.misses == 1)
    assert(after.hits - before.hits == 2)
    assert(after.entries - before.entries == 1)
    assert(after.bytes > before.bytes, "a driver value's bytes are counted")
  }

  test("a tiny budget evicts the least recently used memos and releases their blocks") {
    def f(name: String, n: Int) = ModelCache.frame(name, tag)() { spark.range(n).toDF() }
    def rddId(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.get
    val a = f("mc-spec-lru-a", 100)
    val b = f("mc-spec-lru-b", 200)
    assert(f("mc-spec-lru-a", 0) eq a, "touch a: b is now the least recently used")
    val aBytes = spark.sparkContext.getRDDStorageInfo.filter(_.id == rddId(a))
      .map(i => i.memSize + i.diskSize).sum
    assert(aBytes > 0, "a materialized frame holds blocks")
    val before = ModelCache.stats
    // a's own bytes: every older memo goes, a stays
    ModelCache.enforceBound(spark, budget = aBytes)
    val mid = ModelCache.stats
    assert(mid.evictions > before.evictions && mid.bytes <= aBytes)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rddId(b)),
      "an evicted frame's blocks are released")
    assert(f("mc-spec-lru-a", 0) eq a, "the most recently used memo survives")
    ModelCache.enforceBound(spark, budget = 1L)
    val after = ModelCache.stats
    assert(after.entries == 0 && after.bytes == 0, s"a one-byte budget holds no entry: $after")
    var rebuilt = false
    val b2 = ModelCache.frame("mc-spec-lru-b", tag)() { rebuilt = true; spark.range(200).toDF() }
    assert(rebuilt && !(b2 eq b) && b2.count() == 200, "an evicted frame rebuilds")
  }

  test("the bound counts the memos and the plan cache, not an op's own checkpoint") {
    import org.apache.spark.storage.StorageLevel
    ModelCache.clear()
    spark.catalog.clearCache()
    // an op's own checkpoint: persisted, but nothing the bound can free
    val own = spark.range(20000).toDF().localCheckpoint()
    val ownId = own.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.get
    val ownBytes = spark.sparkContext.getRDDStorageInfo.filter(_.id == ownId)
      .map(i => i.memSize + i.diskSize).sum
    assert(ownBytes > 0, "the checkpoint holds blocks")
    val cached = spark.range(10).toDF("mc_spec_plan_cache").cache()
    cached.count()
    ModelCache.enforceBound(spark, budget = ownBytes / 2)
    assert(cached.storageLevel != StorageLevel.NONE,
      "a small plan cache stays, however large the checkpoints beside it")
    ModelCache.enforceBound(spark, budget = 0L)
    assert(cached.storageLevel == StorageLevel.NONE, "a plan cache over budget is cleared")
  }
}
