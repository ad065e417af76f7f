package graft.plans

import graft.SparkTestBase
import graft.operators._
import org.apache.spark.sql.Row

/**
 * Structural guard for the lazy-lineage bug class: an iterative
 * operator whose loop re-references an unmaterialized subplan grows
 * its state plan GEOMETRICALLY per round (the round-6/7 HITS, Markov
 * removal, and k-center regressions — each caught by the bench, not
 * by a test). Every iterative loop records its per-round state plan
 * size via [[IterationAudit]]; this spec runs each operator past its
 * checkpoint cadence and asserts the per-round ANALYZED-plan node
 * count never jumps by more than a constant between consecutive
 * rounds. A doubling plan blows the cap within two rounds.
 *
 * The cap (80 nodes/round) is deliberately loose: legitimate
 * per-round growth between checkpoints is ~5-20 nodes (one join +
 * aggregate + project chain); geometric replan adds the ENTIRE prior
 * plan each round, so it exceeds any constant cap almost immediately.
 */
class PlanGrowthSpec extends SparkTestBase {

  private val GrowthCap = 80

  private def assertBoundedGrowth(op: String, minRounds: Int = 3): Unit = {
    val s = IterationAudit.sizesOf(op)
    assert(s.size >= minRounds,
      s"$op recorded only ${s.size} rounds (expected >= $minRounds): $s — " +
        "is the loop still calling IterationAudit.record?")
    s.sliding(2).foreach { w =>
      assert(w(1) - w(0) <= GrowthCap,
        s"$op state plan grew ${w(0)} -> ${w(1)} nodes in ONE round " +
          s"(cap $GrowthCap). Full trace: $s. A jump like this means the " +
          "loop re-references an unmaterialized subplan — checkpoint the " +
          "state (or hoist the invariant input) before iterating.")
    }
  }

  private def runAudited(body: => Unit): Unit = {
    IterationAudit.enable()
    try body finally IterationAudit.disable()
  }

  // a 12-node cycle + chords: non-trivial for every graph operator,
  // deep enough that CC needs several min-label rounds
  private lazy val edges = df("src STRING, dst STRING",
    (0 until 12).map(i => Row(s"n$i", s"n${(i + 1) % 12}")) ++
      Seq(Row("n0", "n6"), Row("n3", "n9")))

  private lazy val vecs = df("id BIGINT, v ARRAY<DOUBLE>",
    (1 to 24).map(i => Row(i.toLong,
      Seq(math.cos(i * 0.7), math.sin(i * 0.7), (i % 5).toDouble / 5.0, 1.0))))

  test("pageRank / weighted / personalized: flat plan across checkpoint cadence") {
    runAudited {
      Graph.pageRank(edges, "src", "dst", iterations = 8).count()
      val weighted = edges.withColumn("w",
        org.apache.spark.sql.functions.lit(2.0))
      Graph.pageRankWeighted(weighted, "src", "dst", "w", iterations = 8).count()
      val seeds = df("node STRING", Seq(Row("n0"), Row("n3")))
      Graph.personalizedPageRank(edges, "src", "dst", seeds, "node",
        iterations = 8).count()
      assertBoundedGrowth("graph.pageRank", minRounds = 8)
      assertBoundedGrowth("graph.pageRankWeighted", minRounds = 8)
      assertBoundedGrowth("graph.personalizedPageRank", minRounds = 8)
    }
  }

  test("hits: flat plan across checkpoint cadence") {
    runAudited {
      Graph.hits(edges, "src", "dst", iterations = 8).count()
      assertBoundedGrowth("graph.hits", minRounds = 8)
    }
  }

  test("labelPropagation + communities: flat plan across checkpoint cadence") {
    runAudited {
      val seeds = df("node STRING, label STRING",
        Seq(Row("n0", "keep"), Row("n6", "drop")))
      Graph.labelPropagation(edges, "src", "dst", seeds, "node", "label",
        iterations = 8).count()
      Graph.communities(edges, "src", "dst", iterations = 8).count()
      assertBoundedGrowth("graph.labelPropagation", minRounds = 8)
      assertBoundedGrowth("graph.communities", minRounds = 8)
    }
  }

  test("kCore + bfsDistance: per-round checkpoint keeps the plan constant") {
    runAudited {
      Graph.kCore(edges, "src", "dst", k = 2, rounds = 4).count()
      val seeds = df("node STRING", Seq(Row("n0")))
      Graph.bfsDistance(edges, "src", "dst", seeds, "node", rounds = 4).count()
      assertBoundedGrowth("graph.kCore", minRounds = 4)
      assertBoundedGrowth("graph.bfsDistance", minRounds = 4)
    }
  }

  test("connectedComponents (min-label and star): bounded per-round plan") {
    runAudited {
      // an 8-node path needs several label rounds to converge
      val pairs = df("id_a BIGINT, id_b BIGINT",
        (1L to 7L).map(i => Row(i, i + 1)))
      Dedup.connectedComponents(pairs).count()
      Dedup.connectedComponentsStar(pairs).count()
      assertBoundedGrowth("dedup.connectedComponents", minRounds = 3)
      assertBoundedGrowth("dedup.connectedComponentsStar", minRounds = 2)
    }
  }

  test("markovRemoval: bounded plan across the %4 checkpoint cadence") {
    runAudited {
      val day = 86400000L
      val d = df("u BIGINT, t BIGINT, id BIGINT, ch STRING, c BOOLEAN", Seq(
        Row(1L, 1 * day, 1L, "A", false), Row(1L, 2 * day, 2L, "x", true),
        Row(2L, 1 * day, 3L, "A", false), Row(2L, 2 * day, 4L, "B", false),
        Row(2L, 3 * day, 5L, "A", false), Row(2L, 4 * day, 6L, "x", true),
        Row(3L, 1 * day, 7L, "A", false), Row(3L, 2 * day, 8L, "B", false)))
      Attribution.markovRemoval(d, "u", "t", "id", "ch", "c",
        iterations = 10).count()
      assertBoundedGrowth("attribution.markovRemoval", minRounds = 10)
    }
  }

  test("kCenterGreedy + lloyd: bounded plan across checkpoint cadences") {
    runAudited {
      Centroids.kCenterGreedy(vecs, "id", "v", k = 12).count()
      val seeds = df("label BIGINT, centroid ARRAY<DOUBLE>", Seq(
        Row(0L, Seq(1.0, 0.0, 0.0, 1.0)), Row(1L, Seq(0.0, 1.0, 0.5, 1.0))))
      Centroids.lloyd(vecs, "id", "v", seeds, iterations = 5).count()
      assertBoundedGrowth("centroids.kCenterGreedy", minRounds = 12)
      assertBoundedGrowth("centroids.lloyd", minRounds = 4)
    }
  }

  test("pq.fit: per-iteration checkpoint keeps the codebook plan constant") {
    runAudited {
      Pq.fit(vecs, "id", "v", subspaces = 2, k = 2, iterations = 4)
      assertBoundedGrowth("pq.fit", minRounds = 4)
    }
  }

  test("linkage EM: patterns materialized once, fold grows by a constant") {
    runAudited {
      val people = df(
        "id BIGINT, city STRING, zip STRING, initial STRING, active BOOLEAN",
        Seq(
          Row(1L, "springfield", "11111", "A", true),
          Row(2L, "springfield", "11111", "A", true),
          Row(3L, "springfield", "99999", "Z", false),
          Row(4L, "shelbyville", "22222", "B", true),
          Row(5L, "shelbyville", "22222", "C", false)))
      val fields = Seq(
        Linkage.FieldSpec("zip", "zip", 0.9, 0.1),
        Linkage.FieldSpec("initial", "initial", 0.8, 0.04),
        Linkage.FieldSpec("active", "active", 0.9, 0.5))
      Linkage.emEstimate(people, people, "id", "id", "city", "city",
        fields, lambda = 0.5, iterations = 6, selfPairs = true).count()
      assertBoundedGrowth("linkage.weightFitEm", minRounds = 6)
    }
  }

  // Catalyst multiplies the size estimates of a join's sides, so a
  // checkpoint leaf that kept the estimate of the plan it replaced
  // squared a join-and-truncate loop's estimate every round (Bradley–
  // Terry: 64 bits at 2 rounds, 3,927 at 8, 10^6 at 16).
  private def estimateBits(d: org.apache.spark.sql.DataFrame): Int =
    d.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength

  test("eager truncation: estimate bits do not grow with the number of rounds") {
    val games = df("w BIGINT, l BIGINT", Seq(
      Row(0L, 1L), Row(1L, 2L), Row(0L, 2L), Row(0L, 1L), Row(2L, 3L)))
    val bits = Seq(2, 8, 16).map(n =>
      estimateBits(Preference.bradleyTerry(games, "w", "l", iterations = n)))
    val capBits = BigInt(spark.sessionState.conf.defaultSizeInBytes).bitLength
    // once the leaf's estimate reaches the cap it stays there; the result
    // is at most a join of two capped leaves
    assert(bits(1) == bits(2), s"estimate bits at 2/8/16 rounds: $bits")
    assert(bits.forall(_ <= 2 * capBits), s"estimate bits: $bits (cap $capBits)")
  }

  test("lazy truncation: estimate bits stay capped across rounds") {
    import org.apache.spark.sql.functions.col
    val start = df("k BIGINT", (1L to 4L).map(Row(_)))
    def bits(rounds: Int) = estimateBits((1 to rounds).foldLeft(start) { (cur, _) =>
      Checkpoints.truncate(cur.join(cur.select(col("k").as("k2")), col("k") === col("k2"))
        .select("k"), eager = false)
    })
    val capBits = BigInt(spark.sessionState.conf.defaultSizeInBytes).bitLength
    val b = Seq(1, 6, 12).map(bits)
    assert(b.forall(_ <= capBits), s"estimate bits at 1/6/12 rounds: $b (cap $capBits)")
  }
}
