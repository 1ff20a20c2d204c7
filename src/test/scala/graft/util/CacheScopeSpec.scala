package graft.util

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

import graft.{Harness, SparkEntry, SparkSpec}
import graft.dedup.Dedup

/** The two cache lifetimes of [[CacheScope]]: a function scope frees
  * what it cached on return and on a throw, and the query boundary
  * frees every hand-off and stage checkpoint a query leaves behind —
  * for every registered query, and when an [[Overlap.both]] sibling
  * fails while the other branch builds a decontamination handle. */
class CacheScopeSpec extends SparkSpec {

  /** Persisted RDD ids and CacheManager entry count. */
  private def snapshot(): (Set[Int], Int) =
    (spark.sparkContext.getPersistentRDDs.keySet.toSet,
      Bridge.cachedEntries(spark))

  test("every registered query leaves the persisted RDDs and the " +
    "CacheManager as it found them") {
    val grown = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val before = snapshot()
      val err =
        try {
          Harness.runQuery(spark, sf0001, name)(
            _.write.format("noop").mode("overwrite").save())
          None
        } catch { case e: Exception => Some(e.toString.take(200)) }
      val (rdds, entries) = snapshot()
      val leaked = rdds -- before._1
      if (err.isEmpty && leaked.isEmpty && entries == before._2) None
      else Some(s"$name: +${leaked.size} RDDs, " +
        s"${entries - before._2} cache entries${err.fold("")(" — " + _)}")
    }
    withClue(grown.mkString("\n", "\n", "\n")) { grown shouldBe empty }
  }

  test("a failing Overlap.both sibling inside a query boundary: the " +
    "exception reaches the caller and the decontamination handle and " +
    "the sibling's checkpoint are released") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val before = snapshot()
    val heldDuring = new AtomicInteger(-1)
    val e = intercept[IllegalStateException] {
      CacheScope.query(spark) {
        Overlap.both(spark) {
          docs.filter(col("source") =!= "src0").select("doc_id")
            .localCheckpoint()
          throw new IllegalStateException("near-dup branch died")
        } {
          Dedup.prepareDecontamination(
            docs.filter(col("source") === "src0"), "doc_id", "text")
          heldDuring.set(Bridge.cachedEntries(spark))
        }
      }
    }
    e.getMessage shouldBe "near-dup branch died"
    heldDuring.get() shouldBe before._2 + 1 // the handle was cached
    snapshot() shouldBe before
  }

  test("a function scope releases its cache when the body throws after " +
    "caching") {
    val df = spark.range(2000).toDF("id").withColumn("v", col("id") * 3)
    val before = snapshot()
    intercept[RuntimeException] {
      CacheScope.run { s =>
        s.cache(df).count()
        df.storageLevel should not be StorageLevel.NONE
        throw new RuntimeException("body died")
      }
    }
    df.storageLevel shouldBe StorageLevel.NONE
    snapshot() shouldBe before
  }

  test("a scope releases only what it registered, and the boundary " +
    "leaves a cache made before it (and its lazily built buffers) " +
    "alone") {
    val shared = spark.range(500).toDF("id").withColumn("k", col("id") % 7)
      .cache()
    try {
      val rdds0 = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val mine = spark.range(300).toDF("id").withColumn("w", col("id") + 1)
      CacheScope.query(spark) {
        CacheScope.run { s =>
          s.cache(shared) // already cached: the scope does not own it
          s.cache(mine)
          shared.groupBy("k").count().collect() // builds its buffers
          mine.count()
        }
        mine.storageLevel shouldBe StorageLevel.NONE
        CacheScope.handOff(mine).count()
      }
      mine.storageLevel shouldBe StorageLevel.NONE
      shared.storageLevel should not be StorageLevel.NONE
      // the pre-existing entry's buffer RDD, built inside the boundary,
      // is still the one the cache reads
      val kept = spark.sparkContext.getPersistentRDDs.keySet.toSet -- rdds0
      kept should have size 1
      shared.groupBy("k").count().collect() should have length 7
      spark.sparkContext.getPersistentRDDs.keySet.toSet -- rdds0 shouldBe kept
    } finally shared.unpersist()
  }
}
