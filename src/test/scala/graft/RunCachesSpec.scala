package graft

import graft.operators.RunCaches
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** The versioned memo's publish and clear rules, run over both value
  * types it holds: persisted frames and broadcasts. */
class RunCachesSpec extends SparkSpec {

  import spark.implicits._

  /** One value type of the memo. `memo` looks `key` up at a version and
    * runs the build on a miss; `make(i)` builds a value reading back as
    * `i`; `gone` says the value was let go for good (a frame no longer
    * persisted, a broadcast destroyed). */
  private final case class Kind[V <: AnyRef](name: String, make: Int => V,
      memo: (String, Long, () => V) => V, read: V => Int, gone: V => Boolean)

  private val frame = Kind[DataFrame]("frame",
    i => Seq(i).toDF("run_caches_v"),
    (k, v, b) => RunCaches.cachedFeature(spark, k, v)(b()),
    _.as[Int].head(),
    _.storageLevel == StorageLevel.NONE)

  private val broadcast = Kind[Broadcast[Int]]("broadcast",
    i => spark.sparkContext.broadcast(i),
    (k, v, b) => RunCaches.cachedBroadcast(spark, k, v)(b()),
    _.value,
    b => Try(b.value).isFailure)

  private def specs[V <: AnyRef](kind: Kind[V]): Unit = {
    import kind._

    test(s"versioned memo ($name): a same-version race publishes one value and destroys the loser") {
      RunCaches.clearAll()
      val key = s"spec:race:$name"
      val bothBuilding = new CountDownLatch(2)
      val built = new java.util.concurrent.ConcurrentLinkedQueue[V]()
      def racer(i: Int): java.util.concurrent.Callable[V] = () =>
        memo(key, 7L, () => {
          // both callers missed before either publishes
          bothBuilding.countDown()
          assert(bothBuilding.await(60, TimeUnit.SECONDS), "the other build never started")
          val v = make(i)
          built.add(v)
          v
        })
      val pool = Executors.newFixedThreadPool(2)
      try {
        val (f1, f2) = (pool.submit(racer(1)), pool.submit(racer(2)))
        val (r1, r2) = (f1.get(120, TimeUnit.SECONDS), f2.get(120, TimeUnit.SECONDS))
        assert(r1 eq r2,
          "both racers must get the one published value")
        assert(built.size === 2)
        val loser = built.asScala.find(_ ne r1).get
        assert(gone(loser), "the losing build was not destroyed")
        assert(!gone(r1), "the published value was let go")
        assert(memo(key, 7L, () => make(99)) eq r1)
      } finally {
        pool.shutdownNow()
        RunCaches.clearAll()
      }
    }

    test(s"versioned memo ($name): an older caller gets its own build and the newer entry survives") {
      RunCaches.clearAll()
      val key = s"spec:older:$name"
      try {
        val v5 = memo(key, 5L, () => make(5))
        val v3 = memo(key, 3L, () => make(3))
        assert(read(v3) === 3, "the older caller was served the newer value")
        val again = memo(key, 5L, () => make(99))
        assert(again eq v5,
          "an older caller must not replace the newer entry")
        assert(!gone(v5) && read(v5) === 5)
      } finally RunCaches.clearAll()
    }

    test(s"versioned memo ($name): clearAll lets go of every entry past a failing release") {
      RunCaches.clearAll()
      val entries = (1 to 3).map(i => memo(s"spec:clear:$name:$i", 1L, () => make(i)))
      assert(entries.forall(v => !gone(v)))
      val poisoned = make(0)
      RunCaches.releaseAtClear(poisoned)(sys.error("boom"))
      val listed = make(4)
      var listedReleased = false
      RunCaches.releaseAtClear(listed) { listedReleased = true }
      RunCaches.clearAll()
      assert(entries.forall(gone), "a failing release skipped a memo entry")
      assert(listedReleased, "a failing release skipped a listed value")
      assert(RunCaches.featureCacheSize === 0)
    }
  }

  specs(frame)
  specs(broadcast)
}
