package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** components() at the shapes that maximize round count: a 32-hop chain and
  * a 64-leaf star (16x the unit-spec graphs). Pins the cost model the
  * scaladoc promises — rounds = diameter (first hop fused into the init),
  * and ONE action per round (the Observation-carrying materialization; the
  * old shape ran a second join + isEmpty probe per round). Per-round
  * release of the previous round's blocks is pinned in StagedSpec. */
class DedupVolumeSpec extends SparkSpec {
  import spark.implicits._

  test("chain at 16x: labels converge to the min endpoint in diameter rounds") {
    val n = 32 // nodes 0..32, diameter 32
    val pairs = (0 until n).map(i => (i.toLong, (i + 1).toLong))
      .toDF("doc_a", "doc_b")
    val (labels, rounds) = DedupOps.componentsWithRounds(pairs)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got.size == n + 1)
    assert(got.values.forall(_ == 0L), "every chained doc joins component 0")
    // the first hop is fused into the init, the last round is the detect
    assert(rounds == n, s"expected $n rounds (diameter, hop 1 in init), got $rounds")
  }

  test("pointer jumping turns the 32-chain's rounds from diameter into ~log2(diameter)") {
    val n = 32
    val pairs = (0 until n).map(i => (i.toLong, (i + 1).toLong))
      .toDF("doc_a", "doc_b")
    val (labels, rounds) =
      DedupOps.componentsWithRounds(pairs, pointerJumping = true)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got.size == n + 1)
    assert(got.values.forall(_ == 0L), "same fixpoint as the plain rounds")
    // distance to the minimum better-than-halves per round: a 32-hop chain
    // needs ~log2(32)=5 propagation rounds + the detect round, never the
    // 32 the plain form takes (exact count left loose — the fused init
    // hop and the halving interact off-by-one-ishly across shapes)
    assert(rounds <= 7, s"pointer jumping must converge in O(log d) rounds, got $rounds")
    assert(rounds >= 3, s"a 32-chain cannot converge in $rounds rounds — test is vacuous")
  }

  test("star at 16x: rounds follow diameter (2 when the min label sits on a leaf), not size") {
    // center 100, leaves 1..64: min label 1 must cross the center — diameter 2
    val pairs = (1L to 64L).map(l => (100L, l)).toDF("doc_a", "doc_b")
    val (labels, rounds) = DedupOps.componentsWithRounds(pairs)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got.size == 65)
    assert(got.values.forall(_ == 1L))
    assert(rounds == 2, s"star must converge by diameter (init hop + 1) + detect, got $rounds")
  }

  test("componentsStar == components on clique, chain, and braided graphs; cycles ~ log") {
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toMap
    // clique 0..5, 64-chain, and a braid: two chains cross-linked with the
    // global min entering from one end (the shape that slowed pointer
    // jumping on the cosine graph)
    val clique = (for (a <- 0L to 5L; b <- (a + 1) to 5L) yield (a, b))
      .toDF("doc_a", "doc_b")
    val chain = (0 until 64).map(i => (i.toLong, (i + 1).toLong))
      .toDF("doc_a", "doc_b")
    val braid = ((0 until 32).map(i => (i * 2L + 2, i * 2L + 4)) ++   // evens
      (0 until 32).map(i => (i * 2L + 3, i * 2L + 5)) ++              // odds
      Seq((0L, 66L), (66L, 67L), (2L, 3L))                            // cross + min tail
      ).toDF("doc_a", "doc_b")
    for ((g, name) <- Seq((clique, "clique"), (chain, "chain"), (braid, "braid"))) {
      // maxIter raised for label-prop: the 64-chain's diameter exceeds the
      // default 50-round budget — the exact failure mode star sidesteps
      val plain = labelsOf(DedupOps.components(g, maxIter = 100))
      val (star, cycles) = DedupOps.componentsStarWithRounds(g)
      assert(labelsOf(star) == plain, s"$name: star and label-prop disagree")
      assert(cycles <= 8, s"$name: star took $cycles cycles — O(log) promise broken")
    }
    // the 64-chain specifically: label-prop needs 64 rounds, star ~6 cycles
    // (per-cycle block release: StagedSpec)
    val (_, chainCycles) = DedupOps.componentsStarWithRounds(chain)
    assert(chainCycles <= 8, s"64-chain took $chainCycles star cycles")
    // dedupeCorpus(star = true) keeps exactly the survivors label-prop
    // keeps (a 24-chain: inside label-prop's default round budget)
    val short = (0 until 24).map(i => (i.toLong, (i + 1).toLong))
      .toDF("doc_a", "doc_b")
    val docs = (0L to 30L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    assert(
      DedupOps.dedupeCorpus(docs, short, star = true)
        .select("doc_id").as[Long].collect().toSet ==
      DedupOps.dedupeCorpus(docs, short)
        .select("doc_id").as[Long].collect().toSet)
  }

  test("componentsStar: one action per cycle — the convergence test rides the checkpoint job") {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            "star-probe" == js.properties.getProperty("spark.jobGroup.id"))
          seen.add(js.stageInfos.lastOption.map(_.name).getOrElse("?"))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("star-probe", "componentsStar action probe", false)
    try {
      val chain = (0 until 16).map(i => (i.toLong, (i + 1).toLong)).toDF("doc_a", "doc_b")
      val (labels, cycles) = DedupOps.componentsStarWithRounds(chain)
      labels.collect()
      Thread.sleep(1000) // listener bus is async
      val actions = seen.asScala.map(_.takeWhile(_ != ':')).toSeq
      // the only in-function DRIVER actions are the eager localCheckpoints
      // (taken through graft.ops.Staged, so Spark names that call site;
      // the canonical edge set's size and each cycle's set-equality test
      // both ride those jobs as Observations): a `count at DedupOps` /
      // `isEmpty at DedupOps` here means the probe-pair-per-cycle shape is
      // back. AQE's async subjobs (withThreadLocalCaptured) belong to
      // those same actions, and the spec's own collect is the one other
      // legitimate action.
      val allowed = Set("localCheckpoint at Staged.scala",
        "collect at DedupVolumeSpec.scala",
        "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java")
      val extra = actions.toSet -- allowed
      assert(extra.isEmpty, s"unexpected actions: $extra")
      // and at most one named action per cycle (plus the init checkpoint):
      // a second driver action per cycle would surface here
      val checkpoints = actions.count(_ == "localCheckpoint at Staged.scala")
      assert(checkpoints <= cycles + 1,
        s"more checkpoint actions ($checkpoints) than 1 init + $cycles cycles")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("one action per round: only the fused materialize+converge count runs (no isEmpty probe)") {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            "cc-probe" == js.properties.getProperty("spark.jobGroup.id"))
          seen.add(js.stageInfos.lastOption.map(_.name).getOrElse("?"))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("cc-probe", "components action probe", false)
    try {
      val pairs = (0 until 8).map(i => (i.toLong, (i + 1).toLong)).toDF("doc_a", "doc_b")
      DedupOps.components(pairs).collect()
      Thread.sleep(500) // listener bus is async
      // every job must be the per-round count, the final checkpoint, or the
      // spec's own collect; an `isEmpty at`/extra `count at` elsewhere means
      // the second-probe-per-round shape is back
      val actions = seen.asScala.map(_.takeWhile(_ != ':')).toSet
      // withThreadLocalCaptured: AQE's async broadcast-exchange stage — a
      // subjob of the round's single action, not a driver-side probe
      val allowed = Set("localCheckpoint at Staged.scala",
        "collect at DedupVolumeSpec.scala",
        "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java")
      assert(actions.subsetOf(allowed), s"unexpected actions: ${actions -- allowed}")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
