package graft.ops

import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.{SparkEntry, SparkSpec}
import graft.queries.{DedupOps, VectorOps}

/** Staged owns every block the library stages: a scope leaves storage as
  * it found it, on success and on failure, and round loops keep at most
  * their final round. */
class StagedSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def cacheEmpty = spark.sharedState.cacheManager.isEmpty
  private def rddIds = spark.sparkContext.getPersistentRDDs.keySet
  private def memory = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum

  /** Start from a session with nothing staged: earlier suites share it. */
  private def emptyStorage(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  test("every query's scope returns storage to its pre-loop state") {
    emptyStorage()
    val (ids0, mem0) = (rddIds, memory)
    val leaks = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      Staged.scope(fn(spark, dir).write.format("noop").mode("overwrite").save())
      val extra = rddIds -- ids0
      Seq(
        Option.when(!cacheEmpty)(s"$name: SQL cache not empty"),
        Option.when(extra.nonEmpty)(s"$name: persisted RDDs left ${extra.toSeq.sorted}"),
        Option.when(memory != mem0)(s"$name: storage memory ${memory} != $mem0")
      ).flatten
    }
    assert(SparkEntry.queries.size == 116)
    assert(leaks.isEmpty, leaks.mkString("\n"))
  }

  test("a scope releases what it staged when its body throws") {
    emptyStorage()
    val ids0 = rddIds
    val e = intercept[IllegalStateException] {
      Staged.scope {
        Staged.persist(spark.range(1000).selectExpr("id * 2 AS x")).count()
        Staged.checkpoint(spark.range(10).toDF(), eager = true)
        assert(!cacheEmpty && (rddIds -- ids0).size == 2)
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(cacheEmpty)
    assert(rddIds == ids0)
    assert(Staged.active.isEmpty, "the thread has no owner after the scope")
  }

  test("an inner scope persisting an outer owner's plan leaves the outer entry cached") {
    emptyStorage()
    def plan = spark.range(1000).selectExpr("id % 7 AS k")
    Staged.scope {
      val outer = Staged.persist(plan)
      outer.count()
      Staged.scope {
        val inner = Staged.persist(plan)
        assert(inner.count() == 1000)
        assert(!Staged.active.get.persisted, "a cached plan is not registered again")
      }
      assert(outer.storageLevel != StorageLevel.NONE, "the inner scope dropped the outer entry")
      assert(Staged.active.get.persisted)
    }
    assert(plan.storageLevel == StorageLevel.NONE)
    assert(cacheEmpty)
  }

  test("round loops keep at most their final round, and nothing once their scope ends") {
    val chain = (0 until 32).map(i => (i.toLong, (i + 1).toLong)).toDF("doc_a", "doc_b")
    val vecs = (0 until 40).map(i => (i.toLong, Array(1.0 + i % 4, 2.0, (i % 3).toDouble)))
      .toDF("vec_id", "e").withColumn("nrm", VectorSim.norm(col("e")))
    val loops = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "components" -> (() => DedupOps.componentsWithRounds(chain)._1),
      "componentsStar" -> (() => DedupOps.componentsStarWithRounds(chain)._1),
      "kmeansCells" -> (() => VectorOps.kmeansCells(vecs, k = 3, iters = 4)))
    loops.foreach { case (name, loop) =>
      emptyStorage()
      val ids0 = rddIds
      // outside a scope the final round is the caller's: exactly one
      // checkpoint RDD remains, every earlier round was released
      val out = loop()
      assert(out.count() > 0)
      assert((rddIds -- ids0).size == 1, s"$name left ${(rddIds -- ids0).size} RDDs")
      assert(cacheEmpty, s"$name left a cache entry")
      emptyStorage()
      Staged.scope(assert(loop().count() > 0))
      assert(rddIds == ids0 && cacheEmpty, s"$name: its scope left blocks behind")
    }
  }
}
